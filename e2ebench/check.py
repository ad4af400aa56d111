"""Output checks of the benchmark, run after the JVM exits (outside timing).

- SQL and registry ops: the result's canonical hash must equal DuckDB's
  answer to the same SQL (or the registry row's oracle SQL) on the same
  files. The canonical form is the project's oracle compare: columns
  sorted by name, cells canonicalized, rows hashed in result order.
- `dashboard_fileview`: checked against the fixture's own directory
  listing and parquet footers.
- lake reads: checked against the answer the lake model computed when
  the plan was made.
"""
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256()
    for r in rows:
        h.update(("|".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the fixture directory. Answers are hashed and cached per
    SQL text in `cache_path` next to the fixture, so a repeated op, or a
    later run on the same seed's fixture, costs no DuckDB query."""

    def __init__(self, data_dir, cache_path):
        self.data_dir, self.cache_path, self.con = data_dir, cache_path, None
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)
        self.dirty = False

    def _connect(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def answer(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            if self.con is None:
                self._connect()
            res = self.con.execute(sql)
            names = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[key] = [sorted(names), len(rows), table_hash(names, rows)]
            self.dirty = True
        return self.cache[key]

    def save(self):
        if self.dirty:
            with open(self.cache_path + ".tmp", "w") as f:
                json.dump(self.cache, f)
            os.replace(self.cache_path + ".tmp", self.cache_path)


def fileview_expected(data_dir):
    """(table_name, n_files, n_rows) of orders, lineitem and documents from
    the directory listing and the footers."""
    out = []
    for t in sorted(["orders", "lineitem", "documents"]):
        p = os.path.join(data_dir, f"{t}.parquet")
        files = ([os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
                 if os.path.isdir(p) else [p])
        out.append([t, len(files), sum(pq.ParquetFile(f).metadata.num_rows for f in files)])
    return out


def check_rows(op, oracle, oracle_sql, fileview):
    """None if the op's collected result is right, else a reason."""
    names, rows = op["columns"], op["rows"]
    if op["name"] == "dashboard_fileview":
        got = [[r[names.index(c)] for c in ("table_name", "n_files", "n_rows")] for r in rows]
        return None if got == fileview else f"fileview {got} != {fileview}"
    sql = op.get("sql") or oracle_sql.get(op["name"])
    if sql is None:
        return "no oracle SQL"
    d_names, d_n, d_hash = oracle.answer(sql)
    if sorted(names) != d_names:
        return f"columns {sorted(names)} != {d_names}"
    if len(rows) != d_n:
        return f"rows {len(rows)} != {d_n}"
    if table_hash(names, rows) != d_hash:
        return f"hash mismatch over {d_n} rows"
    return None


def check_lake(op, planned):
    kind = op["kind"]
    if "expect_version" in planned:
        got_v = op.get("to") if kind == "read_diff" else op.get("version")
        if got_v != planned["expect_version"]:
            return f"version {got_v} != {planned['expect_version']}"
    if not kind.startswith("read"):
        return None
    want = planned["expect"]
    if kind == "read_diff":
        got = {c["change"]: {k: c[k] for k in ("n", "sum_id", "sum_cents")} for c in op["changes"]}
    else:
        got = {k: op[k] if op[k] is not None else 0 for k in ("n", "sum_id", "sum_user", "sum_cents")}
    return None if got == want else f"{got} != {want}"
