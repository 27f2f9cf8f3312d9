"""Skew stress lane: zipf-hot key → prove the mitigations engage.

Synthesizes an events-shaped table where ONE user owns ≥10% of all rows
(the zipf-hot regime that breaks naive hash partitioning at 100 TB), then
drives the three skew-sensitive paths through it:

1. **Fact-fact sort-merge join on the hot key** — asserts AQE's skew-join
   splitting actually engages: the executed adaptive plan must show
   ``SortMergeJoin(skew=true)`` after the run. (Thresholds are lowered to
   make the fixture-scale hot partition cross the same relative bar a
   multi-GB partition crosses in production; the DETECTION logic exercised
   is identical.)
2. **Window top-k per group on the hot key** — AQE cannot split a window
   partition, so the mitigation is ``salted_window_topk``
   (operators/skew.py): asserts exact result parity with the plain window
   AND that the salted plan contains the two-phase Window pair.
3. **Gap sessionization on the hot key** — inherently order-dependent per
   user (no salt-decomposition exists: session numbering is a running sum
   over the user's total event order), so the honest statement is:
   correctness is unaffected by skew, the hot user costs one O(n log n)
   sort task, and the bound is documented rather than hidden. Asserted by
   running the same lag+cumsum fold on the zipf lane and checking the hot
   user's sessions against a driver-side fold of its rows.

``--write-plans`` appends the captured skew-split plan section to the
given file (explain_audit.py calls this so PLANS.md regeneration keeps
the skew evidence).

Run: ``python tools/skew_stress.py``. Exit 0 = all three engaged/held.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

HOT_USER = 0
HOT_PCT = 15  # hot user owns 15% of rows


def zipf_events(spark, n_rows: int = 400_000, n_users: int = 500) -> DataFrame:
    """Deterministic events-shaped table with one zipf-hot user: ids whose
    low two digits fall under HOT_PCT map to user 0 (≥10% of rows); the
    rest spread hash-uniform over ``n_users``. No RNG — reruns, tests and
    the plan audit all see byte-identical data."""
    return (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.pmod("id", 100) < HOT_PCT, F.lit(HOT_USER))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_users - 1)) + 1)
            .cast("long")
            .alias("user_id"),
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(86400 * 7))
            ).alias("ts"),
            (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(1000)) / 10.0).alias("value"),
        )
    )


SKEW_CONFS = {
    # force SMJ (no broadcast escape hatch) and make the fixture-scale hot
    # partition cross the skew bar: detection is size > max(threshold,
    # factor * median); production defaults (256 MB) assume multi-GB
    # shuffles, so scale the absolute floor down, keep the RELATIVE factor
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
}


class scoped_confs:
    def __init__(self, spark, confs):
        self.spark, self.confs, self.saved = spark, confs, {}

    def __enter__(self):
        for k, v in self.confs.items():
            try:
                self.saved[k] = self.spark.conf.get(k)
            except Exception:
                self.saved[k] = None
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def skewed_smj_final_plan(spark, events: DataFrame) -> tuple[str, DataFrame]:
    """Self-join the zipf lane on user_id (purchases × clicks shape): both
    sides carry the hot key, neither is broadcastable. Returns the FINAL
    adaptive plan string (after execution — AQE decides skew handling at
    runtime from map-output sizes, so explain-before-run can't show it).

    Two traps this function deliberately avoids: (a) the downstream
    aggregate is GLOBAL — a groupBy on the join key would require the
    join's hash partitioning, and OptimizeSkewedJoin declines to split
    when that would force an extra shuffle (production escape hatch:
    ``spark.sql.adaptive.forceOptimizeSkewedJoin``); (b) the plan is read
    from the SAME QueryExecution that ran (``collect`` on this DataFrame)
    — a ``write`` builds a fresh QueryExecution, leaving this one
    isFinalPlan=false with no skew annotation to find."""
    left = events.filter(F.pmod("event_id", 2) == 0).select(
        "user_id", F.col("value").alias("lv")
    )
    right = events.filter(F.pmod("event_id", 2) == 1).select(
        "user_id", F.col("value").alias("rv")
    )
    joined = left.join(right, "user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.round(F.sum("lv"), 3).alias("s")
    )
    joined.collect()
    return joined._jdf.queryExecution().executedPlan().toString(), joined


def incremental_lsh_hot_band_lane(spark) -> dict:
    """Planted hot band for the INCREMENTAL LSH path (VERDICT r8 item 9):
    a boilerplate-collapsed band bucket (every doc sharing one template
    text carries identical band signatures) fans the candidate join out
    to |batch∩bucket|·|bucket| pairs — the skew regime llm_lsh_band_stats
    exists to detect. Measures candidate volume uncapped vs with the
    ``max_bucket`` hot-band guard, and that GENUINE near-dup pairs (whose
    buckets are tiny) survive the cap. Returns the numbers for the gate
    and for PERF_EVIDENCE.md."""
    from hawaiidatapipeline_spark.operators.dedup import (
        incremental_minhash_candidates,
    )

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 4
    uniq = [
        f"document {i} " + " ".join(f"tok{i}x{j}" for j in range(30))
        for i in range(5)
    ]
    corpus_rows = [(i, boiler) for i in range(200)]
    corpus_rows += [(300 + i, uniq[i]) for i in range(5)]
    corpus_rows += [
        (400 + i, f"unrelated {i} " + " ".join(f"u{i}w{j}" for j in range(30)))
        for i in range(20)
    ]
    batch_rows = [(1000 + i, boiler) for i in range(10)]
    batch_rows += [(1100 + i, uniq[i] + " extra tail") for i in range(5)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    kw = dict(tau=0.5, n_hashes=16, n_bands=4)
    n_unc = incremental_minhash_candidates(corpus, batch, **kw).count()
    capped = incremental_minhash_candidates(
        corpus, batch, max_bucket=50, **kw
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    genuine = {(300 + i, 1100 + i) for i in range(5)}
    return {
        "uncapped": n_unc,
        "capped": len(capped),
        "genuine_total": len(genuine),
        "genuine_survived": len(genuine & pairs),
    }


def heavy_tie_rank_lane(spark) -> dict:
    """Planted heavy-tie value grain for the distributed rank/prefix-sum
    path (VERDICT r9 next-round #8): 15% of 120k customers share ONE
    revenue value — the regime where a range partitioner must put every
    row of the tie in one partition. The rank-map shape is tie-proof by
    construction: the fact rows collapse to a single distinct-value row
    of weight c BEFORE the range exchange, so the hot tie costs one row,
    not 18k. Returns parity vs the serial window plus the cumsum stage's
    partition-size histogram so the no-collapse claim is measured, not
    asserted."""
    from pyspark.sql import Window

    from hawaiidatapipeline_spark.operators.ranks import partitioned_prefix_sums

    n_cust, hot_cents = 120_000, 4_242_424
    per_cust = spark.range(n_cust).select(
        F.col("id").alias("cust"),
        F.when(F.pmod("id", 100) < HOT_PCT, F.lit(hot_cents))
        .otherwise(F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5_000_000)) + 10_000)
        .cast("long")
        .alias("cents"),
    )
    vals = per_cust.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    got = {
        r["cents"]: r["cum_n"]
        for r in partitioned_prefix_sums(vals, [F.col("cents")], {"cum_n": "c"}).collect()
    }
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["cents"]: r["cum_n"]
        for r in vals.select("cents", F.sum("c").over(w).alias("cum_n")).collect()
    }
    hot_weight = int(
        vals.filter(F.col("cents") == hot_cents).select("c").first()["c"]
    )
    # histogram the range exchange with AQE partition-coalescing OFF: at
    # fixture scale AQE correctly fuses the few-MB grain into one
    # partition, which would hide what's being measured — how the range
    # PARTITIONER spreads the grain when the data is big enough that
    # coalescing doesn't apply
    with scoped_confs(
        spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        sizes = [
            r["n"]
            for r in vals.repartitionByRange(F.col("cents"))
            .withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
    n_distinct = sum(sizes)
    return {
        "parity": got == want,
        "hot_weight": hot_weight,
        "n_fact_rows": n_cust,
        "n_distinct": n_distinct,
        "max_partition_rows": max(sizes),
        "max_partition_share": max(sizes) / n_distinct,
        "n_partitions": len(sizes),
    }


def run(spark, write_plans: str | None = None) -> int:
    from hawaiidatapipeline_spark.operators.skew import salted_window_topk
    from pyspark.sql import Window

    ev = zipf_events(spark)
    hot_share = ev.filter(F.col("user_id") == HOT_USER).count() / ev.count()
    assert hot_share >= 0.10, f"lane not hot enough: {hot_share:.2%}"
    print(f"zipf lane: hot user owns {hot_share:.1%} of rows")

    # 1. AQE skew-join split on the sort-merge join
    with scoped_confs(spark, SKEW_CONFS):
        plan, _ = skewed_smj_final_plan(spark, ev)
    ok_smj = "skew=true" in plan
    print(f"smj skew-split engaged: {ok_smj}")

    # 2. salted window top-k parity + two-phase plan shape
    order = [F.col("value").desc(), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    plain = (
        ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    )
    salted = salted_window_topk(ev, ["user_id"], order, k=5, n_salts=8)
    cols = ["user_id", "event_id", "rn"]
    ok_topk = sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, salted.select(*cols).collect())
    )
    salted_plan = salted._jdf.queryExecution().executedPlan().toString()
    ok_topk_plan = salted_plan.count("Window") >= 2
    print(f"salted window top-k parity: {ok_topk}, two-phase plan: {ok_topk_plan}")

    # 3. sessionization on the hot key: correctness unaffected by skew
    gap_s = 1800
    es = F.col("ts").cast("double")
    ww = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.lag("ts").over(ww).isNull() | ((es - F.lag(es).over(ww)) > gap_s), 1
    ).otherwise(0)
    sess = (
        ev.select("user_id", "ts", "event_id", es.alias("es"))
        .withColumn("session_seq", F.sum(new_sess).over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got_hot = sorted(
        (r["session_seq"], r["n_events"])
        for r in sess.filter(F.col("user_id") == HOT_USER).collect()
    )
    # driver-side fold of the hot user's rows — the oracle
    hot_rows = sorted(
        (r["es"], r["event_id"])
        for r in ev.filter(F.col("user_id") == HOT_USER)
        .select(es.alias("es"), "event_id")
        .collect()
    )
    seq, counts, prev = 0, {}, None
    for t, _eid in hot_rows:
        if prev is None or t - prev > gap_s:
            seq += 1
        counts[seq] = counts.get(seq, 0) + 1
        prev = t
    want_hot = sorted(counts.items())
    ok_sess = got_hot == want_hot
    print(f"hot-user sessionization matches driver fold: {ok_sess}")

    # 4. wedge-join fan-out: degree orientation vs key orientation on a
    # hub-heavy graph (the graph_triangle_count scale mitigation). Build a
    # zipf-ish graph: one hub wired to every node plus a ring; key order
    # leaves the hub's edges outgoing wherever the hub has the low key, so
    # wedge volume explodes; degree order points them INTO the hub.
    from hawaiidatapipeline_spark.operators.graph import orient_edges_by_degree

    # hub takes the MIDDLE key: under u<v key orientation half its edges
    # come in and half go out, so the wedge join pairs them — (n/2)^2
    # wedges through one node. Ring edges add real triangles (hub,i,i+1)
    # so orientation-invariance of the count is exercised, not vacuous.
    n_nodes = 2000
    hub = n_nodes // 2
    hub_edges = [(min(hub, i), max(hub, i)) for i in range(n_nodes) if i != hub]
    ring_edges = [
        (i, i + 1) for i in range(n_nodes - 1) if i != hub and i + 1 != hub
    ]
    g = spark.createDataFrame(hub_edges + ring_edges, "u long, v long")

    def wedges(e):
        e1, e2 = e.alias("e1"), e.alias("e2")
        return e1.join(e2, F.col("e2.u") == F.col("e1.v")).count()

    def triangles(e):
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        return (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .count()
        )

    key_oriented = g  # already u<v: the raw key orientation
    deg_oriented = orient_edges_by_degree(g).localCheckpoint()
    w_key, w_deg = wedges(key_oriented), wedges(deg_oriented)
    t_key, t_deg = triangles(key_oriented), triangles(deg_oriented)
    ok_tri_parity = t_key == t_deg  # counts are orientation-invariant
    ok_wedge = w_deg * 10 <= w_key  # fan-out collapses under degree order
    print(
        f"wedge volume key-order={w_key} degree-order={w_deg} "
        f"(x{w_key / max(w_deg, 1):.0f} reduction), triangle parity: {ok_tri_parity}"
    )

    # 5. incremental-LSH hot band: candidate fan-out collapses under the
    # max_bucket guard while genuine near-dup pairs survive
    lsh = incremental_lsh_hot_band_lane(spark)
    ok_lsh = (
        lsh["capped"] * 10 <= lsh["uncapped"]
        and lsh["genuine_survived"] >= lsh["genuine_total"] - 1
    )
    print(
        f"incremental-LSH hot band: candidates uncapped={lsh['uncapped']} "
        f"capped={lsh['capped']} "
        f"(x{lsh['uncapped'] / max(lsh['capped'], 1):.0f} reduction), "
        f"genuine pairs survived {lsh['genuine_survived']}/{lsh['genuine_total']}"
    )

    # 6. heavy-tie value grain through the distributed rank/prefix-sum
    # path: parity with the serial window AND the tie does not collapse a
    # partition (it enters the range exchange as ONE weighted row)
    tie = heavy_tie_rank_lane(spark)
    ok_tie = (
        tie["parity"]
        and tie["hot_weight"] >= 0.10 * tie["n_fact_rows"]
        and tie["max_partition_share"] <= 0.25
    )
    print(
        f"heavy-tie rank lane: parity={tie['parity']}, hot tie weight "
        f"{tie['hot_weight']}/{tie['n_fact_rows']} fact rows -> 1 of "
        f"{tie['n_distinct']} distinct rows; max cumsum partition holds "
        f"{tie['max_partition_rows']} rows "
        f"({tie['max_partition_share']:.1%} of the value grain, "
        f"{tie['n_partitions']} partitions)"
    )

    if write_plans:
        with open(write_plans, "a") as f:
            f.write(
                "\n\n## skew stress lane (tools/skew_stress.py)\n\n"
                f"Zipf-hot input: one user = {hot_share:.1%} of rows. Final\n"
                "adaptive plan of the fact-fact sort-merge join on the hot\n"
                "key — note `skew=true` on the SortMergeJoin (AQE split the\n"
                "hot partition at runtime; windows can't be split, their\n"
                "mitigation is `salted_window_topk`, parity-checked here):\n\n"
                "```\n" + plan[:4000] + "\n```\n\n"
                "Wedge-join fan-out on a hub graph "
                f"({n_nodes} nodes, hub degree {n_nodes - 1}): key "
                f"orientation {w_key} wedges vs degree orientation {w_deg} "
                f"(x{w_key / max(w_deg, 1):.0f} reduction, triangle counts "
                "identical) — the graph_triangle_count scale mitigation, "
                "measured.\n\n"
                "Incremental-LSH planted hot band (boilerplate-collapsed "
                "bucket, 210 docs sharing one template): candidate volume "
                f"{lsh['uncapped']} uncapped vs {lsh['capped']} with "
                "max_bucket=50 "
                f"(x{lsh['uncapped'] / max(lsh['capped'], 1):.0f} reduction); "
                f"{lsh['genuine_survived']}/{lsh['genuine_total']} genuine "
                "near-dup pairs survive the cap (their buckets are tiny) — "
                "the stop-hub cap applied to LSH bands, measured.\n\n"
                "Heavy-tie rank lane (15% of "
                f"{tie['n_fact_rows']} customers share one revenue value): "
                "the distributed prefix-sum path matches the serial window "
                f"exactly; the tie enters the range exchange as ONE row of "
                f"weight {tie['hot_weight']}, and the largest cumsum "
                f"partition holds {tie['max_partition_share']:.1%} of the "
                "value grain — ties cannot collapse a partition because "
                "the grain is distinct-values, not fact rows.\n"
            )
    return (
        0
        if (ok_smj and ok_topk and ok_topk_plan and ok_sess and ok_tri_parity
            and ok_wedge and ok_lsh and ok_tie)
        else 1
    )


def main() -> int:
    from hawaiidatapipeline_spark.session import get_spark

    write_plans = None
    if "--write-plans" in sys.argv:
        write_plans = sys.argv[sys.argv.index("--write-plans") + 1]
    spark = get_spark(app_name="hdp-skew-stress")
    rc = run(spark, write_plans)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
