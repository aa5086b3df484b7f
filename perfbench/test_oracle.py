#!/usr/bin/env python3
"""Self-test of the benchmark's correctness check: the DuckDB oracle
compare must accept an exact result and report every perturbed one
(changed value, dropped row, swapped rows, changed dtype, renamed
column) as a failure. Runs without Spark:

    python3 perfbench/test_oracle.py
"""
import os
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

SQL = "SELECT word, count(*) AS n FROM documents GROUP BY word ORDER BY n DESC, word"


def main():
    root = os.path.join(os.path.dirname(HERE), ".bench_build")
    os.makedirs(root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        words = ["spark", "join", "spark", "scan", "spark", "join"]
        pd.DataFrame({"word": words}).to_parquet(os.path.join(data, "documents.parquet"))
        digest = oracle.input_digest(data, ["documents"])
        good = pd.DataFrame({"n": np.array([3, 2, 1], dtype="int64"),
                             "word": ["spark", "join", "scan"]})
        cases = {
            "exact": (good, True),
            "value": (good.assign(n=np.array([3, 2, 2], dtype="int64")), False),
            "row": (good.iloc[:2], False),
            "order": (good.iloc[[1, 0, 2]].reset_index(drop=True), False),
            "dtype": (good.assign(n=good["n"].astype("float64")), False),
            "column": (good.rename(columns={"n": "cnt"}), False),
        }
        failures = []
        for name, (frame, want_ok) in cases.items():
            out = os.path.join(tmp, "results", name)
            os.makedirs(out)
            frame.to_parquet(os.path.join(out, "part-0.parquet"))
            ok, why = oracle.check(out, SQL, data, digest, os.path.join(tmp, "cache"), 1)
            print(f"{name:7s} ok={ok} {why}")
            if ok != want_ok:
                failures.append(name)
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print(f"{len(cases)}/{len(cases)} cases behave as expected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
