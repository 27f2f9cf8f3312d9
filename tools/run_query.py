"""Run any registered query by name — the dev/debug entry point.

Usage:
    python tools/run_query.py <query_name> [sf_dir] [--explain] [--oracle]
    python tools/run_query.py --list

``--explain`` prints the executed (AQE-final) formatted plan instead of
rows; ``--oracle`` prints the DuckDB oracle SQL registered for the query.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    from hawaiidatapipeline_spark.queries import collect

    queries, oracles = collect()
    if not args or args[0] == "--list":
        for name in queries:
            print(f"{name}{'' if name in oracles else '  [weak: rows-only]'}")
        return 0

    name = args[0]
    if name not in queries:
        print(f"unknown query {name!r}; run with --list to enumerate", file=sys.stderr)
        return 2
    if "--oracle" in args:
        print(oracles.get(name, f"-- {name} has no oracle (weak rows-only check)"))
        return 0

    sf_dir = next(
        (a for a in args[1:] if not a.startswith("--")), "/root/testdata/sf0.01"
    )
    from hawaiidatapipeline_spark.session import get_spark

    spark = get_spark(app_name=f"hdp-run-{name}")
    df = queries[name](spark, sf_dir)
    if "--explain" in args:
        df.collect()  # materialize so AQE's final plan is shown
        df.explain("formatted")
    else:
        df.show(20, truncate=40)
        print(f"[{name}] rows: {df.count()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
