"""DuckDB oracle for the benchmark's correctness check.

The engine publishes, per query key, ANSI SQL that computes the same
result (`SparkEntry.oracleSql`, built after `Dials.init` in the benchmark's
JVM). DuckDB runs it on the same generated parquet tables, and the Spark
result is compared with the rules of the engine's `tools/check.py`:
same columns, same dtypes, same row count, and equal values in order.

Expected results are cached as pickles (which keep pandas dtypes
exactly), keyed by a digest of the input tables and of the SQL.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

CACHE_BYTES = 256 << 20


def input_digest(data_dir, tables):
    h = hashlib.sha256()
    for t in tables:
        h.update(t.encode())
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def expected(sql, data_dir, digest, cache_dir, threads):
    key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        os.utime(path)  # recently used: pruned last
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={max(1, threads)}")
        con.execute("SET enable_progress_bar=false")
        con.execute("SET memory_limit='2GB'")
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        ref = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    ref.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    _prune(cache_dir)
    return ref


def _prune(cache_dir, limit=CACHE_BYTES):
    """Drop the oldest cached results beyond `limit` bytes."""
    files = sorted(glob.glob(os.path.join(cache_dir, "*.pkl")), key=os.path.getmtime,
                   reverse=True)
    total = 0
    for f in files:
        total += os.path.getsize(f)
        if total > limit:
            os.remove(f)


def _canon_dtype(d):
    s = str(d)
    return "datetime64" if s.startswith("datetime64") else s


def compare(mine, ref):
    """(ok, reason) for a Spark result frame against the oracle frame."""
    mine = mine.reindex(sorted(mine.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(mine.columns) != list(ref.columns):
        return False, f"columns {list(mine.columns)} vs {list(ref.columns)}"
    if len(mine) != len(ref):
        return False, f"rows {len(mine)} vs {len(ref)}"
    bad = {c: (str(mine[c].dtype), str(ref[c].dtype)) for c in mine.columns
           if _canon_dtype(mine[c].dtype) != _canon_dtype(ref[c].dtype)}
    if bad:
        return False, f"dtype mismatch {bad}"
    diff = []
    for c in mine.columns:
        a, b = mine[c], ref[c]
        try:
            same = (a.values == b.values) | (pd.isna(a.values) & pd.isna(b.values))
            ok = bool(same.all())
        except Exception:
            ok = a.astype(str).equals(b.astype(str))
        if not ok:
            diff.append(c)
    if diff:
        return False, f"value mismatch in {diff}"
    return True, ""


def read_result(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check(result_dir, sql, data_dir, digest, cache_dir, threads):
    """(ok, reason) for one key's Spark output directory."""
    mine = read_result(result_dir)
    if mine is None:
        return False, "no Spark output"
    try:
        ref = expected(sql, data_dir, digest, cache_dir, threads)
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"oracle error: {e}"
    return compare(mine, ref)
