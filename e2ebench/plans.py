"""Seeded op plans of the three workloads.

A plan is a list of ops (dicts, one JSON line each) that the JVM side
runs in order until its time budget is spent, always finishing the
`round` it is in, so every run measures whole rounds of the same mix;
ops marked `warmup` run during set-up only. Plans are longer than any run
can finish.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lake_model import LakeModel

# -- dashboard ---------------------------------------------------------------
# Benchmark-owned dashboard texts. They follow the project's portable-SQL
# rules, so one text runs on Spark and DuckDB: explicit casts, half-up
# `floor` rounding of doubles to 4 places, a total ORDER BY, and sums
# only over exact (integer-valued) doubles. Each has a small literal
# domain and a warm-up literal set outside it.
TEMPLATES = {
    "orders_by_status": (
        """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
  count(*) AS n_orders, floor(avg(o_totalprice) * 10000 + 0.5) / 10000 AS avg_price
FROM orders WHERE o_orderstatus = '{0}' AND o_totalprice >= {1}
GROUP BY 1, 2 ORDER BY yr, o_orderpriority""",
        [["F", "O", "P"], [0, 100000, 250000]], ["X", 0]),
    "uploads_in_year": (
        """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
  count(*) AS n_orders, max(o_totalprice) AS max_price
FROM orders
WHERE o_orderdate >= CAST('{0}-01-01' AS TIMESTAMP) AND o_orderdate < CAST('{1}-01-01' AS TIMESTAMP)
GROUP BY 1 ORDER BY month""",
        [[1995, 1996, 1997, 1998, 1999, 2000], [2001]], [1990, 1991]),
    "study_rollup_lang": (
        """SELECT source, lang, count(*) AS n_docs,
  floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars
FROM documents WHERE lang = '{0}' AND n_chars >= {1}
GROUP BY ROLLUP (source, lang)
ORDER BY source NULLS FIRST, lang NULLS FIRST""",
        [["en", "de", "es", "fr", "zh"], [0, 200]], ["xx", 0]),
    "segment_geo_region": (
        """SELECT c_mktsegment, n_name, count(*) AS n_cust,
  floor(avg(c_acctbal) * 10000 + 0.5) / 10000 AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = {0} AND c_acctbal >= {1}
GROUP BY c_mktsegment, n_name ORDER BY c_mktsegment, n_name""",
        [[0, 1, 2, 3, 4], [0, 5000]], [9, 0]),
    "shipped_pricing": (
        """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
  sum(l_quantity) AS sum_qty,
  floor(avg(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS avg_disc_price
FROM lineitem
WHERE l_shipdate <= CAST('{0}' AS TIMESTAMP) AND l_discount >= {1}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
        [["1996-06-30", "1998-09-02", "2000-12-31"], [0.0, 0.05]], ["1990-01-01", 0.0]),
    "lines_by_priority": (
        """SELECT o_orderpriority, count(*) AS n_lines, sum(l_quantity) AS sum_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= CAST('{0}-01-01' AS TIMESTAMP) AND o_orderdate < CAST('{0}-07-01' AS TIMESTAMP)
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        [[1995, 1996, 1997, 1998, 1999, 2000, 2001]], [1990]),
}
# registry dashboard texts, run through the SQL front end by name
REGISTRY_SQL = ["sql_dashboard", "dashboard_uploads_monthly", "dashboard_study_rollup",
                "dashboard_segment_geo"]
# registry DataFrame rows of the same shape
REGISTRY_ROWS = ["q1_pricing", "dashboard_fileview", "join_inner", "win_rank",
                 "retention_cohorts", "funnel_steps"]
# each set-up's warm-up: this template, with its warm-up literals
WARMUP = "orders_by_status"


def dashboard(seed, rounds=12):
    """Rounds of the same mix in a seeded order: every template twice (its
    first op draws literals from the domain, its second repeats a literal
    set the template already ran with), and every registry text and row
    once. So at least 6 of a round's 22 ops repeat an earlier pair."""
    rng = np.random.default_rng(seed)
    sql, _, warm = TEMPLATES[WARMUP]
    ops = [{"warmup": True, "kind": "sql", "name": WARMUP, "key": WARMUP + "|warmup",
            "sql": sql.format(*warm)}]
    used = {t: [] for t in TEMPLATES}
    names = list(TEMPLATES) * 2 + REGISTRY_SQL + REGISTRY_ROWS
    for r in range(rounds):
        seen = set()
        for j in rng.permutation(len(names)):
            n = names[j]
            if n in TEMPLATES:
                sql, domain, _ = TEMPLATES[n]
                if n in seen:
                    lits = used[n][rng.integers(0, len(used[n]))]
                else:
                    lits = tuple(d[rng.integers(0, len(d))] for d in domain)
                    used[n].append(lits)
                    seen.add(n)
                ops.append({"kind": "sql", "name": n, "key": n + "|" + "|".join(map(str, lits)),
                            "sql": sql.format(*lits), "round": r})
            else:
                ops.append({"kind": "sql" if n in REGISTRY_SQL else "registry", "name": n, "key": n,
                            "round": r})
    return ops


# -- batch_x10 ---------------------------------------------------------------
KERNELS = ["graph_pagerank", "graph_kcore", "graph_cc_incremental", "dedup_jaccard",
           "dedup_minhash_exact", "pipeline_near_dedup_exact", "vec_pq_codes",
           "search_bm25_batch"]


def batch(seed, passes=10):
    rng = np.random.default_rng(seed)
    return [{"kind": "registry", "name": KERNELS[j], "key": KERNELS[j], "round": p}
            for p in range(passes) for j in rng.permutation(len(KERNELS))]


# -- lake_ingest -------------------------------------------------------------
APPEND_ROWS, MERGE_ROWS, DELETE_ROWS = 2000, 1000, 300
MERGE_NEW_SHARE = 0.2
PRUNED_SPAN = 2000           # event_id range of a selective read
# One cycle, in this order: commits, and reads placed so that each read
# kind meets the same table state in every cycle. The pruned and DSv2
# reads take the same key range against one delete file (the merge's);
# the full read and the diff read follow the delete (two delete files;
# the diff is the delete's change set); the clustering compaction then
# folds the deletes away and vacuums.
CYCLE = ["append", "merge", "read_pruned", "read_dsv2", "delete", "read_full", "read_diff", "compact"]
COMPACT_EVERY = sum(not k.startswith("read") for k in CYCLE)


def _rows(tbl):
    cols = [tbl[c].to_pylist() for c in ("event_id", "ts", "user_id", "event_type", "value", "props")]
    return list(zip(*cols))


def lake(seed, events, out_dir, cycles=12):
    """Writes `base.parquet` (the table's first commit) and
    `batches.parquet` (rows of every commit, tagged by `batch`), and
    returns the plan: commits and reads alternate, in cycles that end with
    a compaction. Each op carries what the model expects of it."""
    rng = np.random.default_rng(seed)
    ts = pa.compute.multiply(events["ts"].cast(pa.int64()), 1000)  # µs -> ns, the lake's ts
    base = events.set_column(1, "ts", ts)
    pq.write_table(base, f"{out_dir}/base.parquet")
    model = LakeModel(_rows(base))
    next_key = int(pa.compute.max(base["event_id"]).as_py()) + 1
    n_users = int(pa.compute.max(base["user_id"]).as_py()) + 1
    ts_hi = int(pa.compute.max(ts).as_py())
    types = np.array(sorted(set(base["event_type"].to_pylist())))

    def fresh(keys):
        n = len(keys)
        return list(zip(keys, (ts_hi + rng.integers(1, 10**12, n)).tolist(),
                        rng.integers(0, n_users, n).tolist(), types[rng.integers(0, len(types), n)].tolist(),
                        (np.round(rng.uniform(0, 560, n), 2) + 1000.0).tolist(),
                        [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]))

    ops, batches = [], []
    for cycle in range(cycles):
        lo = int(rng.integers(0, next_key - PRUNED_SPAN))
        for kind in CYCLE:
            op = {"kind": kind, "name": kind, "round": cycle}
            rows = []
            if kind == "append":
                rows = fresh(list(range(next_key, next_key + APPEND_ROWS)))
                next_key += APPEND_ROWS
                model.append(rows)
            elif kind == "merge":
                live = np.fromiter(model.live.keys(), np.int64)
                n_new = int(MERGE_ROWS * MERGE_NEW_SHARE)
                old = rng.choice(live, MERGE_ROWS - n_new, replace=False).tolist()
                rows = fresh(old + list(range(next_key, next_key + n_new)))
                next_key += n_new
                model.merge(rows)
            elif kind == "delete":
                live = np.fromiter(model.live.keys(), np.int64)
                keys = rng.choice(live, DELETE_ROWS, replace=False).tolist()
                rows = [(k, None, None, None, None, None) for k in keys]
                model.delete(keys)
            elif kind == "compact":
                model.compact()
            elif kind in ("read_pruned", "read_dsv2"):
                op.update(lo=lo, hi=lo + PRUNED_SPAN, expect=model.summary(lo, lo + PRUNED_SPAN))
            elif kind == "read_full":
                op["expect"] = model.summary()
            else:
                op["expect"] = model.diff()
            if rows:
                op["batch"] = len(batches)
                batches.append(rows)
            if not kind.startswith("read") or kind == "read_diff":
                op["expect_version"] = model.version
            ops.append(op)
    cols = list(zip(*[(b,) + r for b, rows in enumerate(batches) for r in rows]))
    pq.write_table(pa.table({
        "batch": pa.array(cols[0], pa.int64()),
        "event_id": pa.array(cols[1], pa.int64()),
        "ts": pa.array(cols[2], pa.int64()),
        "user_id": pa.array(cols[3], pa.int64()),
        "event_type": pa.array(cols[4], pa.string()),
        "value": pa.array(cols[5], pa.float64()),
        "props": pa.array(cols[6], pa.string())}), f"{out_dir}/batches.parquet")
    return ops
