"""Seeded fixture generator of the benchmark.

The tables follow the layout and value domains of the project's shared
test tables (TPC-H-like star schema plus `events`, `documents` and
`embeddings`), but are made here from a seed, so no change to the program
can alter the benchmark's inputs. `replicate` follows the scheme of the
program's ×K slice tool: K distinct copies with consistent key remapping,
dimension tables copied verbatim, text and vectors decorrelated per copy.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000          # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000        # 2024-01-01 in µs
TS_US = pa.timestamp("us")


def _days(rng, n, first_us, n_days):
    return pa.array(first_us + rng.integers(0, n_days, n) * US_PER_DAY, TS_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(seed, sf):
    """All ten tables at scale factor `sf` (0.1 ≈ 600 k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, EPOCH_1995, 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, EPOCH_1995 + US_PER_DAY, 2498)})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev)), TS_US),
        "user_id": rng.integers(0, max(1, n_ev // 67), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_doc)
    vec = rng.normal(0.0, 0.12, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def documents(rng, n):
    """Pseudo-word texts: ~5% near-duplicates (an earlier text plus one
    word) and one exact duplicate per ~625 documents."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for _ in range(n // 625):
        i, j = sorted(rng.integers(0, n, 2))
        if i != j:
            texts[j] = texts[i]
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.5, 0.125, 0.125, 0.125, 0.125])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def replicate(t, k):
    """K distinct copies of the fact and entity tables: copy c offsets each
    surrogate key by c × (max key + 1), so joins land as in the source;
    every 5th word of a copy's text is a (copy, position) token and a
    copy's vector components are rotated by 7c, so cross-copy duplicates
    and similarities vanish while within-copy structure is kept."""
    out = {n: t[n] for n in ("region", "nation", "part", "supplier")}

    def stride(name, col):
        return int(pa.compute.max(t[name][col]).as_py()) + 1

    cust, order = stride("customer", "c_custkey"), stride("orders", "o_orderkey")
    event, user = stride("events", "event_id"), stride("events", "user_id")
    doc, vec = stride("documents", "doc_id"), stride("embeddings", "vec_id")
    remap = {"customer": {"c_custkey": cust},
             "orders": {"o_orderkey": order, "o_custkey": cust},
             "lineitem": {"l_orderkey": order},
             "events": {"event_id": event, "user_id": user},
             "documents": {"doc_id": doc},
             "embeddings": {"vec_id": vec}}
    for name, keys in remap.items():
        copies = []
        for c in range(k):
            tc = t[name]
            for col, s in keys.items():
                i = tc.schema.get_field_index(col)
                tc = tc.set_column(i, col, pa.compute.add(tc[col], pa.scalar(c * s, pa.int64())))
            if name == "documents" and c > 0:
                texts = [" ".join(f"zq{c}x{j // 5}" if j % 5 == 4 else w
                                  for j, w in enumerate(s.split(" ")))
                         for s in tc["text"].to_pylist()]
                tc = tc.set_column(1, "text", pa.array(texts))
                tc = tc.set_column(4, "n_chars", pa.array([len(s) for s in texts], pa.int64()))
            if name == "embeddings" and c > 0:
                m = np.stack(tc["embedding"].to_numpy(zero_copy_only=False))
                m = np.roll(m, -7 * c, axis=1)
                tc = tc.set_column(1, "embedding", pa.FixedSizeListArray.from_arrays(
                    pa.array(m.ravel()), 64).cast(pa.list_(pa.float32())))
            copies.append(tc)
        out[name] = pa.concat_tables(copies)
    return out


def write(tables, out_dir, parts=None):
    """`<table>.parquet` per table: one file, or a directory of `parts`
    part files per table when given (the ×K slice layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        if parts is None or tbl.num_rows < 10_000:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        else:
            d = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            step = -(-tbl.num_rows // parts)
            for p in range(parts):
                pq.write_table(tbl.slice(p * step, step), os.path.join(d, f"part-{p:05d}.parquet"))
