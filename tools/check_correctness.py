"""Local twin of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same Parquet files, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized). Use while iterating so driver-side mismatches are
caught before the round ends.

Driver-faithfulness (round-2 lesson, VERDICT.md "What's wrong" #4-6): the
driver fetches BOTH sides through pandas, so engine types that degrade in
that conversion (DuckDB DECIMAL / HUGEINT -> float64) hash differently even
when values are equal. This twin therefore fetches Spark via ``toPandas()``
and DuckDB via ``.df()`` and FAILS on per-column dtype-kind drift (int vs
float vs object/Decimal) before hashing — the tolerant value canon alone
silently absorbed exactly the drift that failed `fn_money_decimal` and
`llm_lang_source_matrix` on the driver.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] --changed-since <git-ref>

``--changed-since`` (VERDICT r13 #7) is the mid-round incremental mode:
the full sweep is ~50 min and grows with the registry, so while iterating
check only (a) keys whose defining query module changed since <git-ref>
(mapped via each callable's ``__module__``) and (b) the pinned driver
window (``queries._FRONT`` — what the driver will actually sample next).
The close ritual (tools/close_round.py) still runs the FULL sweep.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon(v, date_bridge=False):
    """Canonicalize a cell value for hashing, tolerantly across engines.
    ``date_bridge`` enables the midnight-datetime→date collapse for columns
    where the two engines' dtype kinds form the known DATE/datetime64 pair."""
    if type(v).__module__ == "numpy":  # np.int64/float64/bool_ -> python scalar
        v = v.item()
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        if date_bridge and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            # DATE columns arrive as midnight datetime64 from DuckDB's .df()
            # but as datetime.date from Spark's toPandas — canonicalize both
            # to the date form (the driver bridges these identically:
            # fn_date_trunc/fn_date_arith were driver-green in round 2).
            # Collapse ONLY for columns whose dtype kinds disagree as that
            # known bridge pair (ADVICE r3 item 4) — two genuine midnight
            # TIMESTAMP columns keep their full form and stay discriminable.
            return v.date().isoformat()
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x, date_bridge) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k], date_bridge)}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def pandas_rows(pdf):
    """pandas frame -> (cols, rows, dtype-kinds) with NaN/NaT mapped to None.

    Mirrors the driver's pandas-side canonical view. The dtype KIND string
    ('i' int, 'f' float, 'O' object, 'M' datetime, 'b' bool) is compared
    across engines: DECIMAL->float64 and HUGEINT->float64 degradation shows
    up as a kind mismatch ('O'/'i' vs 'f') even when the values round-trip."""
    import pandas as pd

    cols = list(pdf.columns)
    kinds = {}
    for c in cols:
        kind = pdf[c].dtype.kind
        if kind == "O" and len(pdf):
            # refine object columns by the first non-null value's type, so a
            # Decimal column is distinguishable from a str/date column
            nonnull = pdf[c].dropna()
            if len(nonnull):
                kind = f"O:{type(nonnull.iloc[0]).__name__}"
        kinds[c] = kind
    obj = pdf.astype(object)
    obj = obj.where(pd.notnull(obj), None)
    rows = [tuple(r) for r in obj.itertuples(index=False, name=None)]
    return cols, rows, kinds


def kinds_compatible(ks, kd):
    """Same dtype kind, modulo spellings that bridge identically: unsigned
    ints, and DATE columns (Spark toPandas -> object of datetime.date,
    DuckDB .df() -> datetime64 at midnight — the driver accepts the pair)."""
    norm = lambda k: {"u": "i", "O:date": "M", "O:Timestamp": "M", "O:datetime": "M"}.get(k, k)
    return norm(ks) == norm(kd)


def date_bridge_cols(cols, ks, kd):
    """Columns whose dtype kinds disagree as the known DATE/datetime64
    engine bridge (one side a date object, the other midnight datetime64)."""
    datish = {"O:date"}
    dtish = {"M", "O:Timestamp", "O:datetime"}
    return {
        c
        for c in cols
        if (ks[c] in datish and kd[c] in dtish) or (ks[c] in dtish and kd[c] in datish)
    }


def table_fingerprint(cols, rows, bridge=frozenset()):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i], cols[i] in bridge) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def changed_since_keys(ref: str, qs) -> set[str]:
    """Keys to re-check after working at <ref>: every key whose defining
    module file changed since, plus the pinned driver window."""
    import subprocess

    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "hawaiidatapipeline_spark"],
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    ).stdout
    changed_files = {ln.strip() for ln in out.splitlines() if ln.strip()}
    keys: set[str] = set()
    for name, fn in qs.items():
        mod = sys.modules.get(getattr(fn, "__module__", ""))
        path = getattr(mod, "__file__", None)
        if path and os.path.relpath(path, REPO) in changed_files:
            keys.add(name)
    from hawaiidatapipeline_spark import queries as qmod

    keys.update(k for k in qmod._FRONT if k in qs)
    return keys


def main():
    argv = [a for a in sys.argv[1:] if a != "--plain-session"]
    plain = "--plain-session" in sys.argv
    since = None
    if "--changed-since" in argv:
        i = argv.index("--changed-since")
        since = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as E

    if plain:
        # Driver-style session: no engine confs. Catches hidden dependencies
        # on our own session factory (the real driver builds its own session).
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from hawaiidatapipeline_spark.session import get_spark

        spark = get_spark()
    qs = E.queries()
    oracles = E.oracle_sql()
    if since is not None:
        sel = changed_since_keys(since, qs)
        only = sel if not only else (only & sel)
        print(
            f"--changed-since {since}: {len(sel)} keys "
            f"(changed modules + driver window)"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols, srows, skinds = pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL {name}: spark error: {e!r}"[:500])
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"WEAK {name}: rows={len(srows)} ({dt:.1f}s) [no oracle]")
            n_weak += 1
            continue
        t1 = time.time()
        try:
            dcols, drows, dkinds = pandas_rows(con.execute(oracles[name]).df())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e!r}"[:500])
            n_fail += 1
            continue
        # the oracle can dwarf the Spark side (minutes for the corpus
        # pipelines), so both times are reported
        timing = f"({dt:.1f}s spark, {time.time() - t1:.1f}s oracle)"
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            drift = [
                f"{c}: spark={skinds[c]} duck={dkinds[c]}"
                for c in scols
                if not kinds_compatible(skinds[c], dkinds[c])
            ]
            if drift and len(srows) and len(drows):
                problems.append(f"dtype drift (degrades in driver pandas): {drift}")
        if not problems:
            bridge = date_bridge_cols(scols, skinds, dkinds)
            hs = table_fingerprint(scols, srows, bridge)
            hd = table_fingerprint(dcols, drows, bridge)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a sample difference
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {tuple(canon(r[i], scols[i] in bridge) for i in order_s) for r in srows}
                set_d = {tuple(canon(r[i], dcols[i] in bridge) for i in order_d) for r in drows}
                only_s = list(set_s - set_d)[:2]
                only_d = list(set_d - set_s)[:2]
                if only_s:
                    problems.append(f"spark-only: {only_s}")
                if only_d:
                    problems.append(f"duck-only: {only_d}")
        if problems:
            print(
                f"FAIL {name}: {timing} "
                + "; ".join(str(p) for p in problems)[:800]
            )
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(srows)} {timing}")
            n_pass += 1

    print(f"\n== {n_pass} pass, {n_weak} weak, {n_fail} fail ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
