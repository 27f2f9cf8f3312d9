"""Round-15 optimization tests: the vectorized-native Lloyd trainers.

Pins (VERDICT r14 #7) that every frame the trainers pull through the
driver is broadcast-sized — exactly the rows the old join form already
round-tripped via F.broadcast — and that the numpy argmin implements the
same (dist, cid) lexicographic total order the SQL window used,
including across centroid blocks.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.queries import emb_extra
from hawaiidatapipeline_spark.queries.emb_extra import (
    _EMB_DIMS,
    _KM_K,
    _KM_ROUNDS,
    _KM_TARGET,
    _PQ_K,
    _PQ_M_DIMS,
    _PQ_ROUNDS,
    _cent_frame,
    _lloyd_train,
    _nearest_block,
    _quant_arrays,
)

SF0001 = "/root/testdata/sf0.001"


def test_nearest_block_tie_breaks_to_lowest_cid():
    # two centroids equidistant from the query: the (dist, cid) order
    # must pick the EARLIER row (lowest cid), like ORDER BY dist, cid
    Q = np.array([[0, 0]], dtype=np.int64)
    C = np.array([[1, 0], [0, 1], [2, 0]], dtype=np.int64)  # d2 = 1, 1, 4
    bi, bd = _nearest_block(Q, C)
    assert bi.tolist() == [0] and bd.tolist() == [1]


def test_nearest_block_tie_breaks_across_blocks(monkeypatch):
    # a later BLOCK reaching the same distance must NOT steal the win:
    # only strictly smaller distances update the running best
    monkeypatch.setattr(emb_extra, "_KM_CID_BLOCK", 2)
    Q = np.array([[0, 0], [10, 0]], dtype=np.int64)
    C = np.array([[1, 0], [3, 0], [0, 1], [10, 1]], dtype=np.int64)
    bi, bd = _nearest_block(Q, C)
    # row 0: d2 = 1, 9, 1, 101 -> tie between cid 0 and cid 2 -> cid 0
    # row 1: d2 = 81, 49, 100, 1 -> cid 3 (a later block CAN win strictly)
    assert bi.tolist() == [0, 3]
    assert bd.tolist() == [1, 1]


@pytest.fixture(scope="module", params=["kmeans", "pq"])
def lloyd_run(request, spark):
    """The shared Lloyd trainer at both subspace widths: k-means (one
    subspace as wide as the vector, corpus-scaled K) and PQ
    (``_PQ_M_DIMS``-wide subspaces, ``_PQ_K`` rows per codebook).
    Returns (width, k, prev, fin)."""
    qarr = _quant_arrays(spark, SF0001)
    if request.param == "kmeans":
        k = max(_KM_K, math.ceil(qarr.count() / _KM_TARGET))
        width, rounds = _EMB_DIMS, _KM_ROUNDS
    else:
        k, width, rounds = _PQ_K, _PQ_M_DIMS, _PQ_ROUNDS
    prev, fin = _lloyd_train(qarr, k, width, rounds)
    return width, k, prev, fin


def test_lloyd_driver_collect_is_codebook_sized(lloyd_run):
    # per round the driver holds at most k centroid rows of `width`
    # values per subspace — the same cells F.broadcast(centroids) pulled
    # through the driver in the old join form; NEVER corpus-sized
    width, k, prev, fin = lloyd_run
    for cents in (prev, fin):
        assert len(cents) == 64 // width  # M subspaces
        for cids, C in cents:
            assert len(cids) <= k  # k rows per codebook
            assert all(len(row) == width for row in C)
            assert sorted(cids) == list(cids)


def test_cent_frame_is_local_relation(spark, lloyd_run):
    width, _, _, fin = lloyd_run
    cent = _cent_frame(spark, fin)
    assert cent.count() == sum(len(cids) for cids, _ in fin) * width
    _assert_local_relation(cent)


@pytest.fixture(scope="module")
def qc_runs(spark):
    """The quality-classifier trainer run with 0.._QC_ROUNDS GD rounds:
    {rounds: (jobs, dense, lab, w, acc)}, where ``jobs`` counts the Spark
    jobs of that run (status tracker, one job group per run) and ``w``
    is the weight vector after that many rounds."""
    from hawaiidatapipeline_spark.queries import round12_extra as r12
    from hawaiidatapipeline_spark.registry import load_table

    sc = spark.sparkContext
    d = load_table(spark, SF0001, "documents")
    runs = {}
    try:
        for rounds in range(r12._QC_ROUNDS + 1):
            group = f"qc_rounds_{rounds}"
            sc.setJobGroup(group, group)
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(r12, "_QC_ROUNDS", rounds)
                dense, lab, _, w, acc = r12._qc_train(spark, d)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            runs[rounds] = (jobs, dense, lab, w, acc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return runs


def _assert_local_relation(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    for node in ("Scan ExistingRDD", "MapInPandas", "ArrowEvalPython", "Exchange"):
        assert node not in plan, plan


def test_qc_weight_vector_is_local_relation(qc_runs):
    from hawaiidatapipeline_spark.queries.round12_extra import (
        _DSIR_B,
        _QC_ROUNDS,
    )

    _, _, _, w, _ = qc_runs[_QC_ROUNDS]
    # the weight vector is <= B + 1 rows at any corpus size and is a
    # typed driver-built relation: scanning it starts no Python worker
    # and it is never COMPUTED by a distributed plan
    assert w.count() <= _DSIR_B + 1
    _assert_local_relation(w)


def test_qc_curve_is_local_relation(spark, qc_runs):
    from hawaiidatapipeline_spark.queries.round12_extra import (
        _QC_ROUNDS,
        _qc_curve,
    )

    curve = _qc_curve(spark, qc_runs[_QC_ROUNDS][4])
    assert curve.count() == _QC_ROUNDS
    _assert_local_relation(curve)


def test_qc_gd_loop_runs_one_job_per_round(qc_runs):
    """Each GD round is exactly ONE Spark job (the fused gradient +
    accuracy pass, collected per task): the runs differ only in their
    round count, so their job counts differ by exactly that."""
    jobs = [qc_runs[r][0] for r in sorted(qc_runs)]
    assert [b - a for a, b in zip(jobs, jobs[1:])] == [1] * (len(jobs) - 1)


def test_qc_fused_accuracy_matches_relational_form(qc_runs):
    """Round r's (n_correct, n_docs), computed inside round r's gradient
    job, must equal the relational form it replaced: score every doc
    with the round-(r-1) weights (dense joined to w, doc-keyed sum),
    join the labels, aggregate."""
    from hawaiidatapipeline_spark.queries.round12_extra import _QC_ROUNDS

    _, _, _, _, acc = qc_runs[_QC_ROUNDS]
    assert len(acc) == _QC_ROUNDS
    for r in range(1, _QC_ROUNDS + 1):
        _, dense, lab, w_prev, _ = qc_runs[r - 1]
        scores = (
            dense.join(F.broadcast(w_prev), "f")
            .groupBy("doc_id")
            .agg(F.sum(F.col("v") * F.col("w")).cast("long").alias("s"))
        )
        old = (
            scores.join(lab, "doc_id")
            .agg(
                F.sum(
                    F.when((F.col("s") >= 0) == (F.col("y") == 1), 1).otherwise(0)
                ).alias("n_correct"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .collect()[0]
        )
        assert acc[r - 1] == (old["n_correct"], old["n_docs"])


def test_kmeans_assign_matches_old_join_form(spark):
    """The numpy assignment must equal the d-keyed join + window argmin
    it replaced — recomputed here in the old relational form."""
    from pyspark.sql import Window

    from hawaiidatapipeline_spark.queries.emb_extra import _kmeans_assign

    qv, assign, cent = _kmeans_assign(spark, SF0001)
    dists = (
        qv.join(F.broadcast(cent.withColumnRenamed("cid", "ccid")), "d")
        .groupBy("vec_id", "ccid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist")
        )
    )
    # NOTE: cent is c_R while assign pairs with c_{R-1}; run ONE more
    # argmin against c_R on both paths to compare like with like
    w = Window.partitionBy("vec_id").orderBy("dist", "ccid")
    old_next = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("ccid").alias("cid"))
    )
    rows = {r["vec_id"]: r["cid"] for r in old_next.collect()}
    qarr = _quant_arrays(spark, SF0001)
    cent_rows = sorted(
        ((r["cid"], r["d"], r["cq"]) for r in cent.collect())
    )
    by_cid: dict = {}
    for cid, d, cq in cent_rows:
        by_cid.setdefault(cid, {})[d] = cq
    cids = sorted(by_cid)
    C = [[by_cid[c][d] for d in sorted(by_cid[c])] for c in cids]
    new = {
        r["vec_id"]: r["cid"]
        for r in emb_extra._lloyd_assign(qarr, [(cids, C)]).collect()
    }
    assert new == rows
