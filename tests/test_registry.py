"""Registry-level invariants that protect the driver correctness gate.

Round 1 lesson (CORRECTNESS_r01.json): the driver canonicalizes results with
pandas ``sort_values``, which raises ``TypeError: unhashable type`` on any
array/map/struct cell. Queries must therefore serialize complex values
(e.g. ``concat_ws('|', sort_array(...))``) before returning.
"""

import pyspark.sql.types as T
import pytest

from hawaiidatapipeline_spark import queries

from .conftest import SF0001

COMPLEX = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)

def _driver_rows():
    """Union of green/failed keys across all committed CORRECTNESS_r*.json,
    plus per-key last-checked round and the latest round on record."""
    import glob
    import json
    import os
    import re
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.rotate_window import row_is_green

    green: set[str] = set()
    failed: set[str] = set()
    last_round: dict[str, int] = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                              "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        latest = max(latest, rnd)
        data = json.load(open(path))
        rows = data if isinstance(data, dict) else {r["key"]: r for r in data}
        for key, row in rows.items():
            (green if row_is_green(row) else failed).add(key)
            last_round[key] = max(last_round.get(key, 0), rnd)
    failed -= green
    return green, failed, last_round, latest


def _round_boundary_state() -> bool:
    """True when a CORRECTNESS_r*.json exists on disk but is not committed —
    the driver writes the round-N artifacts AFTER the builder's final commit,
    so at every round boundary the committed ledger lags the evidence by
    exactly those files. The three ledger tripwires skip (loudly) in that
    state instead of going red, so a red suite always means a real defect;
    the stale-ledger gate in tools/close_round.py still blocks a MID-round
    close because rotating + committing is the round's opening move."""
    import glob
    import os
    import subprocess

    root = os.path.join(os.path.dirname(__file__), "..")
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    }
    try:
        proc = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=30,
        )
    except Exception:
        return False  # no git available: never mask a failure
    return bool(on_disk - set(proc.stdout.split()))


def _skip_if_round_boundary(reason: str) -> None:
    if _round_boundary_state():
        pytest.skip(
            "round-boundary state (uncommitted driver CORRECTNESS artifacts) "
            "— " + reason + "; open the round with tools/rotate_window.py + "
            "tools/coverage_history.py and commit"
        )


@pytest.fixture(scope="module")
def registry():
    qs, oracles = queries.collect()
    return qs, oracles


@pytest.fixture(scope="module")
def schemas(spark, registry):
    """{key: output schema} of every registered query at sf0.001, built
    once for the schema lints below (each build runs the query function,
    eager trainer jobs included)."""
    qs, _ = registry
    return {name: fn(spark, SF0001).schema for name, fn in qs.items()}


def test_no_complex_output_columns(schemas):
    """Schema analysis only (no jobs): no query may emit array/map/struct/
    binary columns — the driver's hash canonicalizer crashes on them."""
    offenders = []
    for name, schema in schemas.items():
        for field in schema.fields:
            if isinstance(field.dataType, COMPLEX):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, f"complex output columns crash the driver gate: {offenders}"


def test_no_pandas_degrading_output_types(schemas, registry):
    """Round-2 lesson (fn_money_decimal, llm_lang_source_matrix): the driver
    fetches both sides through pandas, where DuckDB DECIMAL and HUGEINT
    degrade to float64 while Spark returns Decimal/long — same values,
    different hash. Ban the degrading types at the schema level on BOTH
    sides: Spark queries must not emit DecimalType, and oracle SQL must not
    produce DECIMAL/HUGEINT/UHUGEINT columns (serialize as VARCHAR or cast
    to BIGINT/DOUBLE instead). DuckDB binds the relation without executing,
    so this stays schema-analysis-only like the complex-type lint."""
    import duckdb

    _, oracles = registry
    offenders = []
    for name, schema in schemas.items():
        for field in schema.fields:
            if isinstance(field.dataType, T.DecimalType):
                offenders.append(f"{name}.{field.name}: spark {field.dataType}")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF0001}/{t}.parquet')"
        )
    for name, sql in oracles.items():
        rel = con.sql(sql)
        for col, dtype in zip(rel.columns, rel.types):
            s = str(dtype)
            if s.startswith("DECIMAL") or "HUGEINT" in s:
                offenders.append(f"{name}.{col}: duckdb {s}")
    assert not offenders, (
        f"output types that degrade through the driver's pandas fetch: {offenders}"
    )


def test_driver_window_covers_unchecked_queries(registry):
    """The first 50 registry slots (the driver's per-round sweep size) must
    include EVERY query with no green driver row yet (fail-on-record keys
    re-enter the window to re-prove their fixes). Once all unchecked keys
    fit, spare slots hold the stalest previously-green keys — so green keys
    in the window are fine as long as no unchecked key is crowded out."""
    qs, _ = registry
    green, failed, _, _ = _driver_rows()
    window = set(list(qs)[:50])
    unchecked = [k for k in qs if k not in green and k not in failed]
    missing = [k for k in unchecked[:50] if k not in window]
    if missing:
        _skip_if_round_boundary(
            "the fresh driver rows cover keys _FRONT has not rotated to yet"
        )
    assert not missing, (
        f"never-driver-checked queries crowded out of the 50-slot window: "
        f"{missing}"
    )


def test_driver_window_is_exactly_the_pinned_front(registry):
    """The sweep window is pinned by queries._FRONT — adding queries to any
    module must not shift it."""
    qs, _ = registry
    assert list(qs)[: len(queries._FRONT)] == list(queries._FRONT)


def test_every_query_has_oracle_or_weak_marker(registry):
    qs, oracles = registry
    assert set(oracles) <= set(qs)
    assert len(qs) >= 116


def test_bench_headline_keys_are_registered(registry):
    """bench.py is the driver's per-round perf gate: a renamed or dropped
    registry key must fail HERE, not in the driver's bench run."""
    import bench

    qs, _ = registry
    missing = [k for k in bench.HEADLINE if k not in qs]
    assert not missing, f"bench.HEADLINE keys absent from registry: {missing}"


def test_bench_final_line_fits_tail_capture():
    """Round-5 lesson: bench.py's single JSON line (detail + spreads + heavy
    lane) outgrew the driver's tail capture, so BENCH_r05.json recorded
    ``"parsed": null``. The LAST printed line must stay small: simulate it
    with worst-case float widths and bound the serialized size."""
    import json

    import bench

    simulated = {
        "metric": "headline_query_total",
        "value": 99999.999,
        "value_normalized": 99999.999,
        "cal_max_drift": 99.999,
        "unit": "sec",
        "queries": {k: 99999.999 for k in bench.HEADLINE},
        "sf": 0.1,
        # worst case: every heavy key breached — the final line carries the
        # COMPLETE list (VERDICT r13 #2: the artifact must never truncate
        # itself); the driver tail-captures the last 2000 chars, so the
        # whole worst-case line must stay under that with newline margin
        "budget_breaches": sorted(bench.HEAVY),
    }
    assert len(json.dumps(simulated)) < 1950


def test_front_window_keys_are_registered(registry):
    """Every pinned _FRONT key must resolve — a typo'd key silently shrinks
    the driver's 50-entry correctness window."""
    qs, _ = registry
    missing = [k for k in queries._FRONT if k not in qs]
    assert not missing, f"_FRONT keys absent from registry: {missing}"
    assert len(queries._FRONT) == 50


def test_front_window_is_not_stale():
    """Round-5 lesson: the driver re-checked round-4's identical window
    because ``_FRONT`` was never rotated, wasting the round's entire
    correctness budget. Guard: if EVERY window key already has a green row
    in a committed CORRECTNESS_r*.json, the window proves nothing new and
    must be rotated (``python tools/rotate_window.py CORRECTNESS_r*.json``).
    A window key with a FAILED row on record is fine — it re-enters the
    window to re-prove its fix. Stalest-green fill keys are fine too, as
    long as at least one window key is genuinely new.

    All-green steady state (round-8 verdict): once EVERY registry key has
    a green row, a freshness-refresh window is the legitimate remaining
    use — the window may be all-green IF it targets the stalest evidence
    (its stalest key's last driver row is >=4 rounds behind the newest
    CORRECTNESS file). A verbatim repeat of recently-checked keys still
    fails."""
    import glob
    import os

    if not glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                  "CORRECTNESS_r*.json")):
        pytest.skip("no driver correctness files yet (round 1)")
    green, failed, last_round, latest = _driver_rows()
    already_proven = [k for k in queries._FRONT if k in green]
    if len(already_proven) < len(queries._FRONT):
        return  # at least one new/failed key — the window proves something
    stalest = min(last_round.get(k, 0) for k in queries._FRONT)
    if latest - stalest < 4:
        _skip_if_round_boundary(
            "the window the driver just swept reads as stale until rotated"
        )
    assert latest - stalest >= 4, (
        "every _FRONT key already has a green driver row AND the stalest "
        f"window key was re-checked only {latest - stalest} round(s) ago — "
        "the next sweep would re-prove fresh results; rotate the window "
        "toward new keys or the stalest greens "
        "(python tools/rotate_window.py CORRECTNESS_r*.json)"
    )


def test_coverage_history_matches_correctness_files():
    """COVERAGE_HISTORY.md is the generated per-key evidence ledger — a
    stale commit (files updated, table not regenerated) must fail here.
    Renders the table from the committed CORRECTNESS files and compares
    byte-for-byte with the committed file."""
    import glob
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.coverage_history import OUT, render

    paths = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                          "CORRECTNESS_r*.json")))
    if not paths:
        pytest.skip("no driver correctness files yet (round 1)")
    assert os.path.exists(OUT), (
        "COVERAGE_HISTORY.md missing — run "
        "python tools/coverage_history.py CORRECTNESS_r*.json"
    )
    if open(OUT).read() != render(paths):
        _skip_if_round_boundary(
            "COVERAGE_HISTORY.md predates the driver-written artifacts"
        )
    assert open(OUT).read() == render(paths), (
        "COVERAGE_HISTORY.md is stale — regenerate with "
        "python tools/coverage_history.py CORRECTNESS_r*.json"
    )


def test_scaling_and_perf_probe_keys_are_registered(registry):
    """The scaling/shuffle evidence tools must track registry renames."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.explain_audit import AUDITS
    from tools.perf_evidence import PROBES
    from tools.scaling_probe import PROBES as SCALING_PROBES

    qs, _ = registry
    missing = [k for k in AUDITS if k not in qs]
    missing += [k for k, _ in PROBES if k not in qs]
    missing += [k for k, _ in SCALING_PROBES if k not in qs]
    assert not missing, f"evidence-tool keys absent from registry: {missing}"


def test_survey_inventory_matches_registry_exactly(registry):
    """VERDICT r12 #4: SURVEY.md §2 is the judge's checklist — every
    registry key must appear as a literal backticked token in a §2 row's
    Key column, and §2 must name nothing the registry doesn't register
    (`entry`-style prose placeholders included). Mechanical extraction:
    backticked [a-z0-9_]+ tokens from the FIRST cell of §2 table rows."""
    import os
    import re

    qs, _ = registry
    path = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    lines = open(path).read().split("\n")
    start = next(
        i for i, l in enumerate(lines)
        if l.startswith("## 2. Operator inventory")
    )
    end = next(
        i for i, l in enumerate(lines) if i > start and re.match(r"^## 3", l)
    )
    keys: set[str] = set()
    for l in lines[start:end]:
        if not l.startswith("|"):
            continue
        first = l.split("|")[1]
        if first.strip() in ("Key", "---", ""):
            continue
        keys.update(re.findall(r"`([a-z0-9_]+)`", first))
    extra = sorted(keys - set(qs))
    missing = sorted(set(qs) - keys)
    assert not extra, f"SURVEY.md §2 names keys the registry lacks: {extra}"
    assert not missing, f"registry keys with no literal §2 row: {missing}"
