"""Partitioning-regime stress: every query must produce IDENTICAL results
regardless of parallelism and split size — the test that flushes out
partial-sum-order float nondeterminism (SURVEY.md §7 risk 1) and any
hidden dependence on partition layout.

Runs each query under two adversarial regimes (local[7] and local[13],
1 MiB file splits — co-prime task counts, many small splits) and compares
canonical row hashes. Run:

    python tools/stress_regimes.py [sf_dir] [query ...]   # default: all
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_regime(master: str, split_bytes: int, sf_dir: str, only: set[str]):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.files.maxPartitionBytes", split_bytes)
        .config("spark.sql.shuffle.partitions", master.strip("local[]"))
        .getOrCreate()
    )
    from hawaiidatapipeline_spark.queries import collect

    queries, _ = collect()
    out = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            rows = sorted(tuple(str(x) for x in r) for r in fn(spark, sf_dir).collect())
            out[name] = hashlib.md5(repr(rows).encode()).hexdigest()
        except Exception as exc:  # noqa: BLE001
            out[name] = f"ERROR: {type(exc).__name__}"
    spark.stop()
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    a = run_regime("local[7]", 1 << 20, sf_dir, only)
    b = run_regime("local[13]", 1 << 20, sf_dir, only)
    bad = [q for q in a if a[q] != b.get(q)] + [q for q in a if str(a[q]).startswith("ERROR")]
    for q in sorted(set(bad)):
        print(f"UNSTABLE {q}: {a[q]} vs {b.get(q)}")
    print(f"\n== {len(a) - len(set(bad))} stable, {len(set(bad))} unstable ==")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
