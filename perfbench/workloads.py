"""The benchmark's workloads: fixed op lists and the portal ETL chain.

Every op is timed from outside in two phases through the package's public
functions: ``build`` (the query function, including any jobs it runs
itself) and ``sink`` (the action that forces the result). ``check`` runs
once per run, outside every timed window, and returns a list of problems
(empty when the output is correct).

The op lists are written out here rather than imported from ``bench.py``
so that later edits to the repository's own bench or to registry order
cannot move this benchmark.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from inputs import PAGE_ROWS, PageServer


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str
    keys: tuple[str, ...]
    portal_chain: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "portal_etl",
            "sf0.01",
            (
                "soql_full_query_string",
                "soql_chained_pipeline",
                "scan_jsonlines",
                "sink_parquet_partitioned",
                "etl_merge_upsert",
            ),
            portal_chain=True,
        ),
        Workload(
            "iterative",
            "sf0.001",
            ("graph_connected_components", "llm_quality_classifier_train"),
        ),
    )
}


def noop_sink(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Ctx:
    """What ops share within one run: the session, inputs, work dirs, the
    oracle connection and, for the portal chain, the current pass's
    intermediate results. ``layer`` collects per-op layer timings/bytes."""

    spark: object
    data_dir: str
    work_dir: str
    queries: dict
    oracles: dict
    portal_rows: list | None = None
    duck: object = None
    typed: object = None
    layer: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def wipe(self) -> None:
        """Clear every directory a pass writes, outside op timing."""
        for name in ("landing", "checkpoint", "export", "scratch"):
            shutil.rmtree(self.path(name), ignore_errors=True)
        self.typed = None


# --------------------------------------------------------------- checking


def _fp():
    """The fingerprint helpers of the repository's correctness tool. It
    prepends its own home to ``sys.path`` on import; undo that so the
    package under test always comes from this checkout."""
    import sys

    saved = list(sys.path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness
    finally:
        sys.path[:] = saved
    return check_correctness


def fingerprint_pandas(pdf) -> str:
    cc = _fp()
    cols, rows, _ = cc.pandas_rows(pdf)
    return cc.table_fingerprint(cols, rows)


def fingerprint_rows(cols: list[str], rows: list[tuple]) -> str:
    return _fp().table_fingerprint(cols, rows)


def compare_to_oracle(spark_pdf, duck_pdf) -> list[str]:
    """The correctness tool's comparison: row count, column names, dtype
    kinds, then the order-insensitive value hash."""
    cc = _fp()
    scols, srows, skinds = cc.pandas_rows(spark_pdf)
    dcols, drows, dkinds = cc.pandas_rows(duck_pdf)
    if len(srows) != len(drows):
        return [f"rowcount spark={len(srows)} oracle={len(drows)}"]
    if sorted(scols) != sorted(dcols):
        return [f"columns spark={sorted(scols)} oracle={sorted(dcols)}"]
    drift = [c for c in scols if not cc.kinds_compatible(skinds[c], dkinds[c])]
    if drift and srows:
        return [f"dtype drift on {drift}"]
    bridge = cc.date_bridge_cols(scols, skinds, dkinds)
    if cc.table_fingerprint(scols, srows, bridge) != cc.table_fingerprint(dcols, drows, bridge):
        return ["value-hash mismatch"]
    return []


def duck_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            glob = os.path.join(data_dir, name, "*.parquet")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{glob}')")
    return con


# --------------------------------------------------------------- ops


class Op:
    name = ""

    def build(self, ctx: Ctx):
        raise NotImplementedError

    def sink(self, ctx: Ctx, df) -> None:
        noop_sink(df)

    def check(self, ctx: Ctx, df) -> list[str]:
        raise NotImplementedError


class RegisteredOp(Op):
    """A registry key, checked against its DuckDB oracle."""

    def __init__(self, key: str):
        self.name = self.key = key

    def build(self, ctx: Ctx):
        return ctx.queries[self.key](ctx.spark, ctx.data_dir)

    def check(self, ctx: Ctx, df) -> list[str]:
        if self.key not in ctx.oracles:
            return [f"{self.key} has no oracle"]
        return compare_to_oracle(df.toPandas(), ctx.duck.execute(ctx.oracles[self.key]).df())


# The portal dataset as the SODA API serves it: every column a string.
RAW_SCHEMA = (
    "permit_no string, island string, permit_type string, issued_date string, "
    "valuation string, units string, latitude string, longitude string, description string"
)
RAW_COLS = [c.split()[0] for c in RAW_SCHEMA.split(", ")]
TYPED_COLS = RAW_COLS


def typed_row(r: dict) -> tuple:
    import datetime

    return (
        r["permit_no"],
        r["island"],
        r["permit_type"],
        datetime.date.fromisoformat(r["issued_date"][:10]),
        float(r["valuation"]),
        int(r["units"]),
        float(r["latitude"]),
        float(r["longitude"]),
        r["description"],
    )


def portal_frame(rows: list[dict]):
    """The generator's rows, typed as the pipeline types them, for DuckDB."""
    import pandas as pd

    return pd.DataFrame([typed_row(r) for r in rows], columns=TYPED_COLS).astype(
        {"units": "int32"}
    )


class IngestOp(Op):
    """Page the portal through ``with_retry`` into a landing zone, then read
    it back with an explicit schema (``sources.ingest``)."""

    name = "portal_ingest"

    def build(self, ctx: Ctx):
        import time

        from hawaiidatapipeline_spark.sources.ingest import land_pages, read_landed, with_retry

        landing = ctx.path("landing")
        fetch = with_retry(PageServer(ctx.portal_rows).fetch, sleep=lambda s: None)
        t0 = time.time()
        landed = land_pages(fetch, landing, page_size=PAGE_ROWS)
        ctx.layer["sources.land_s"] = time.time() - t0
        ctx.layer["sources.land_bytes"] = dir_bytes(landing)
        ctx.layer["landed_rows"] = landed
        return read_landed(ctx.spark, landing, RAW_SCHEMA)

    def sink(self, ctx: Ctx, df) -> None:
        import time

        t0 = time.time()
        noop_sink(df)
        ctx.layer["sources.read_s"] = time.time() - t0

    def check(self, ctx: Ctx, df) -> list[str]:
        problems = []
        if ctx.layer.get("landed_rows") != len(ctx.portal_rows):
            problems.append(f"landed {ctx.layer.get('landed_rows')} of {len(ctx.portal_rows)} rows")
        want = fingerprint_rows(RAW_COLS, [tuple(r[c] for c in RAW_COLS) for r in ctx.portal_rows])
        if fingerprint_pandas(df.toPandas()) != want:
            problems.append("landed rows differ from the generated rows")
        return problems


class PipelineOp(Op):
    """Two checkpointed ``plans.pipeline`` stages: raw landing → typed."""

    name = "portal_pipeline"

    def build(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from hawaiidatapipeline_spark.plans.pipeline import Pipeline
        from hawaiidatapipeline_spark.sources.ingest import read_landed

        landing, ckpt = ctx.path("landing"), ctx.path("checkpoint")
        p = Pipeline(ctx.spark, "permits", checkpoint_dir=ckpt)
        p.stage("raw", lambda c: read_landed(ctx.spark, landing, RAW_SCHEMA), checkpoint=True)
        p.stage(
            "typed",
            lambda c: c.get("raw").select(
                "permit_no",
                "island",
                "permit_type",
                F.to_date(F.substring("issued_date", 1, 10)).alias("issued_date"),
                F.col("valuation").cast("double").alias("valuation"),
                F.col("units").cast("int").alias("units"),
                F.col("latitude").cast("double").alias("latitude"),
                F.col("longitude").cast("double").alias("longitude"),
                "description",
            ),
            depends=("raw",),
            checkpoint=True,
        )
        ctx.typed = p.run()["typed"]
        ctx.layer["plans.stage_s"] = sum(r.finished_at - r.started_at for r in p.runs)
        ctx.layer["plans.checkpoint_bytes"] = dir_bytes(ckpt)
        return ctx.typed

    def check(self, ctx: Ctx, df) -> list[str]:
        want = fingerprint_rows(TYPED_COLS, [typed_row(r) for r in ctx.portal_rows])
        return [] if fingerprint_pandas(df.toPandas()) == want else ["typed rows differ"]


class SoqlOp(Op):
    """A fixed SoQL request compiled by ``soql`` over the typed checkpoint,
    checked against hand-written DuckDB SQL over the generated rows."""

    def __init__(self, name: str, kind: str, request, oracle: str):
        self.name, self.kind, self.request, self.oracle = name, kind, request, oracle

    def build(self, ctx: Ctx):
        import time

        from hawaiidatapipeline_spark import soql

        fn = {
            "params": soql.soql_query,
            "string": soql.soql_query_string,
            "chained": soql.soql_query_chained,
        }[self.kind]
        t0 = time.time()
        df = fn(ctx.typed, self.request)
        ctx.layer["soql.compile_s"] = time.time() - t0
        return df

    def sink(self, ctx: Ctx, df) -> None:
        import time

        t0 = time.time()
        noop_sink(df)
        ctx.layer["soql.exec_s"] = time.time() - t0

    def check(self, ctx: Ctx, df) -> list[str]:
        return compare_to_oracle(df.toPandas(), ctx.duck.execute(self.oracle).df())


class ExportOp(Op):
    """``Engine.export`` of the typed table, checked by reading the files
    back without Spark."""

    def __init__(self, fmt: str):
        self.fmt = fmt
        self.name = f"portal_export_{fmt}"

    def build(self, ctx: Ctx):
        if self.fmt == "csv":
            return ctx.typed.select("permit_no", "island", "permit_type", "units")
        return ctx.typed

    def sink(self, ctx: Ctx, df) -> None:
        import time

        from hawaiidatapipeline_spark.engine import Engine

        out = ctx.path(f"export/{self.fmt}")
        t0 = time.time()
        Engine(ctx.spark, ctx.data_dir).export(df, out, fmt=self.fmt)
        ctx.layer["engine.export_s"] = time.time() - t0
        ctx.layer["engine.export_bytes"] = dir_bytes(out)

    def check(self, ctx: Ctx, df) -> list[str]:
        import glob

        import pandas as pd
        import pyarrow.parquet as pq

        self.sink(ctx, df)
        out = ctx.path(f"export/{self.fmt}")
        if self.fmt == "csv":
            files = sorted(glob.glob(os.path.join(out, "*.csv")))
            back = pd.concat([pd.read_csv(f, dtype={"units": "int64"}) for f in files])
            cols = ["permit_no", "island", "permit_type", "units"]
            want = [(r["permit_no"], r["island"], r["permit_type"], int(r["units"])) for r in ctx.portal_rows]
        else:
            back = pq.read_table(out).to_pandas()
            cols = TYPED_COLS
            want = [typed_row(r) for r in ctx.portal_rows]
        return [] if fingerprint_pandas(back) == fingerprint_rows(cols, want) else ["read-back differs"]


_STR_COLS = ("permit_no", "island", "permit_type", "description")


def _q_pred(term: str) -> str:
    return "(" + " OR ".join(f"contains(lower({c}), '{term}')" for c in _STR_COLS) + ")"


def portal_chain() -> list[Op]:
    return [
        IngestOp(),
        PipelineOp(),
        SoqlOp(
            "portal_soql_params",
            "params",
            {
                "$select": "island, permit_type, count(*) AS n, sum(units) AS units, "
                "max(valuation) AS max_val",
                "$where": "units >= 1 AND valuation > 1000",
                "$group": "island, permit_type",
                "$having": "count(*) > 10",
                "$order": "island, permit_type",
            },
            """SELECT island, permit_type, count(*) AS n, sum(units)::BIGINT AS units,
                      max(valuation) AS max_val
               FROM permits WHERE units >= 1 AND valuation > 1000
               GROUP BY island, permit_type HAVING count(*) > 10""",
        ),
        SoqlOp(
            "portal_soql_string",
            "string",
            "SELECT permit_no, island, valuation WHERE valuation > 100000 "
            "SEARCH 'solar' ORDER BY permit_no LIMIT 40 OFFSET 5",
            f"""SELECT permit_no, island, valuation FROM permits
                WHERE valuation > 100000 AND {_q_pred('solar')}
                ORDER BY permit_no LIMIT 40 OFFSET 5""",
        ),
        SoqlOp(
            "portal_soql_chained",
            "chained",
            "SELECT island, permit_type, count(*) AS n GROUP BY island, permit_type "
            "|> SELECT island, count(*) AS n_types, sum(n) AS n_permits, max(n) AS top_type "
            "GROUP BY island "
            "|> SELECT island, n_types, n_permits, top_type WHERE n_permits > 100 "
            "ORDER BY n_permits DESC, island LIMIT 4",
            """SELECT island, n_types, n_permits, top_type FROM (
                 SELECT island, count(*) AS n_types, sum(n)::BIGINT AS n_permits,
                        max(n) AS top_type
                 FROM (SELECT island, permit_type, count(*) AS n FROM permits
                       GROUP BY island, permit_type)
                 GROUP BY island)
               WHERE n_permits > 100 ORDER BY n_permits DESC, island LIMIT 4""",
        ),
        ExportOp("csv"),
        ExportOp("parquet"),
    ]


def ops_for(workload: Workload) -> list[Op]:
    ops: list[Op] = portal_chain() if workload.portal_chain else []
    return ops + [RegisteredOp(k) for k in workload.keys]
