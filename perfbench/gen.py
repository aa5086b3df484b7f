"""Seeded input generator for the graft benchmark.

Two steps:

1. `base_tables` builds a synthetic corpus with the schema and value
   distributions of the engine's sf0.1 test tables (TPC-H-like star
   schema, an event stream, a document corpus and unit embeddings).
   It is drawn from a fixed generator seed, so every benchmark seed
   shares one base structure.
2. `salted_corpus` makes `copies` salted copies of the base, keyed by the
   benchmark seed, with the same scheme as the engine's `ScaleUp` tool:
   an injective letters-only salt appended to every word, an id offset
   per copy on documents, vectors, orders/lineitem and events, and a
   per-copy sign flip of embedding components (an isometry; vectors get
   one copy whatever `copies` is). Inside a copy the structure is
   identical to the base (same word counts, shingle sets, join fan-out,
   inner products), across copies it is disjoint. Two seeds therefore
   give structurally identical but different corpora.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
ID_OFFSET = 100_000_000
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "steel"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   compression="snappy")


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict:
    """The base corpus as DataFrames, at sf0.1 sizes."""
    sf = 0.1
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, span, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: uniform words, 10-100 per doc; 5% are near-duplicates of
    # an earlier doc (its text plus a trailing "dup"), a few are exact
    # duplicates, so the dedup family has clusters to find
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    doc_id = np.arange(n_docs, dtype=np.int64)
    t["documents"] = pd.DataFrame({
        "doc_id": doc_id, "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def letter_salt(n: int) -> str:
    """Letters-only salt: digits map to letters (0→a … 9→j), so the salt
    survives every tokenizer, including letters-only ones."""
    return "x" + "".join(chr(ord("a") + int(c)) for c in str(n))


def _shift(tbl: pa.Table, cols, off: int) -> pa.Table:
    for c in cols:
        tbl = tbl.set_column(tbl.schema.get_field_index(c), c,
                             pc.add(tbl[c], pa.scalar(off, pa.int64())))
    return tbl


def salt_copy(t: dict, seed: int, copy: int, copies: int) -> dict:
    """One salted copy of the base tables (pyarrow), keyed by (seed, copy)."""
    tag = seed * copies + copy
    off = (tag + 1) * ID_OFFSET
    salt = letter_salt(tag)
    d = t["documents"]
    text = pa.array([" ".join(w + salt for w in s.split(" ") if w)
                     for s in d["text"].to_pylist()], pa.string())
    d = d.set_column(d.schema.get_field_index("text"), "text", text)
    d = d.set_column(d.schema.get_field_index("n_chars"), "n_chars",
                     pc.utf8_length(text).cast(pa.int64()))
    e = t["embeddings"]
    emb = e["embedding"].combine_chunks()
    signs = np.random.default_rng([seed, copy]).choice(
        np.array([-1.0, 1.0], dtype=np.float32), 64)
    vals = emb.values.to_numpy().reshape(-1, 64) * signs
    emb = pa.ListArray.from_arrays(emb.offsets, pa.array(vals.ravel(), pa.float32()))
    e = e.set_column(e.schema.get_field_index("embedding"), e.schema.field("embedding"), emb)
    return {"documents": _shift(d, ["doc_id"], off),
            "embeddings": _shift(e, ["vec_id"], off),
            "lineitem": _shift(t["lineitem"], ["l_orderkey"], off),
            "orders": _shift(t["orders"], ["o_orderkey"], off),
            "events": _shift(t["events"], ["user_id", "event_id"], off)}


def base_corpus(cache_dir: str) -> dict:
    """The base tables as pyarrow tables, written once to `cache_dir`
    (they do not depend on the benchmark seed)."""
    if not os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        os.makedirs(cache_dir, exist_ok=True)
        for name, df in base_tables().items():
            _write(df, os.path.join(cache_dir, f"{name}.parquet"))
        open(os.path.join(cache_dir, "_SUCCESS"), "w").close()
    return {n: pq.read_table(os.path.join(cache_dir, f"{n}.parquet")) for n in TABLES}


def salted_corpus(base: dict, out_dir: str, seed: int, copies: int) -> dict:
    """Write `copies` salted copies of `base` to `out_dir`, one row group
    per copy; dimension tables pass through unchanged. The embeddings
    table always gets one copy: `Dials.init` derives shuffle partitions
    and the graph-ANN beam from the vector count, so a scaled-up
    workload keeps the gate-scale session settings. Returns
    {table: [rows, bytes]}."""
    os.makedirs(out_dir, exist_ok=True)
    parts = [salt_copy(base, seed, i, copies) for i in range(copies)]

    def write(name):
        n = 1 if name == "embeddings" else copies
        tbl = (pa.concat_tables([p[name] for p in parts[:n]]) if name in parts[0]
               else base[name])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy",
                       row_group_size=max(1, base[name].num_rows))
        return name, [tbl.num_rows, os.path.getsize(path)]

    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(pool.map(write, TABLES))
