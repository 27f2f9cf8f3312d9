"""IVF-PQ composition — the full approximate-nearest-neighbor index read
path (SURVEY.md §2.J embeddings family, round-9 batch).

Round-8's pieces each proved one half: ``ml_kmeans_fixed_point`` trains the
coarse quantizer (IVF cells), ``emb_pq_codes``/``emb_pq_adc_topk`` train and
search the product-quantization codes — but ADC search scanned ALL codes.
This module composes them: ADC scoring runs ONLY inside the probe's coarse
cell (nprobe=1), which is the actual economics of an IVF-PQ index at 10⁹+
vectors — candidate volume is cell-sized, not corpus-sized. Everything
stays in the exact integer fixed-point contract (milli-unit quantization,
int64 squared distances, (dist, id) total orders) so the DuckDB oracle
unrolls both trainings as CTEs and hash-matches every rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.operators.materialize import materialize
from hawaiidatapipeline_spark.queries._registry import new_module_registry
from hawaiidatapipeline_spark.queries.emb_extra import (
    _adc_stride,
    _adc_stride_subquery,
    _ADC_TOPK,
    _KM_ROUNDS,
    _km_residual_arr,
    _PQ_K,
    _PQ_M_DIMS,
    _PQ_ROUNDS,
    _PQR_TOPK,
    _kmeans_assign,
    _kmeans_ctes,
    _lloyd_assign,
    _lloyd_train,
    _pq_ctes,
    _pq_train,
    _quant_arrays,
)

QUERIES, ORACLES, q = new_module_registry()


def _ivf_adc_ctes() -> str:
    """Shared CTE tail: probe lookup tables + cell-pruned ADC scores.
    Assumes ``_kmeans_ctes()`` (coarse cells: qv/a{K}/c{K}) and
    ``_pq_ctes()`` (codes: pqv/pa{P}/pc{P}) are already in scope."""
    return f"""probes AS (SELECT * FROM pqv WHERE vec_id % {_adc_stride_subquery()} = 0),
       t AS (
         SELECT p.vec_id AS probe_id, p.m, c.cid,
                sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS sub_d2
         FROM probes p JOIN pc{_PQ_ROUNDS} c ON p.d = c.d AND p.m = c.m
         GROUP BY 1, 2, 3),
       pcell AS (SELECT vec_id AS probe_id, cid AS cell
                 FROM a{_KM_ROUNDS} WHERE vec_id % {_adc_stride_subquery()} = 0),
       ncell AS (SELECT vec_id, cid AS cell FROM a{_KM_ROUNDS}),
       adc AS (
         SELECT t.probe_id, a.vec_id AS neighbor_id,
                sum(t.sub_d2)::BIGINT AS adc_d2
         FROM pa{_PQ_ROUNDS} a
         JOIN ncell n ON n.vec_id = a.vec_id
         JOIN t ON a.m = t.m AND a.cid = t.cid
         JOIN pcell p ON p.probe_id = t.probe_id AND p.cell = n.cell
         WHERE a.vec_id <> t.probe_id
         GROUP BY 1, 2)"""


def _ivfpq_topk_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       {_pq_ctes()},
       {_ivf_adc_ctes()},
       ranked AS (
         SELECT probe_id, neighbor_id, adc_d2,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY adc_d2, neighbor_id) AS rnk
         FROM adc)
       SELECT r.probe_id, p.cell, r.rnk, r.neighbor_id, r.adc_d2
       FROM ranked r JOIN pcell p ON p.probe_id = r.probe_id
       WHERE r.rnk <= {_ADC_TOPK}
       ORDER BY r.probe_id, r.rnk"""


class _IvfpqCtx:
    """Shared IVF-PQ training context: coarse cells + PQ codes trained
    ONCE, with an ``adc_for(admitted_cells)`` builder so nprobe variants
    reuse the same materialized trainings (VERDICT r10 item 5: the exact
    leg and extra probe legs must not retrain). Fields: ``qv`` (exploded
    (vec_id, d, m, q) integer vectors — also serves the exact-truth leg),
    ``coarse`` (vec_id, cid), ``ccent`` (final coarse centroids),
    ``probes`` (strided probe slice of qv), ``pcell`` (probe's own
    cell), ``t`` (probe ADC lookup tables), ``ncodes`` (codes tagged
    with their coarse cell)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        # both trainings run over ONE materialized (vec_id, qarr) base
        # (the coarse cells and the PQ codebooks are independent reads
        # of the same quantized corpus — guide §5: one pass, not two)
        qarr = _quant_arrays(spark, sf_dir)
        _, self.coarse, self.ccent = _kmeans_assign(spark, sf_dir, qarr)
        qv, assign, cent = _pq_train(spark, sf_dir, qarr)
        self.qv = qv
        codes = assign.select("vec_id", "m", "cid")
        stride = _adc_stride(spark, sf_dir)
        self.stride = stride
        self.probes = qv.filter(F.col("vec_id") % stride == 0)
        self.t = (
            self.probes.join(F.broadcast(cent), ["d", "m"])
            .groupBy(F.col("vec_id").alias("probe_id"), "m", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                ).alias("sub_d2")
            )
        )
        self.pcell = self.coarse.filter(
            F.col("vec_id") % stride == 0
        ).select(F.col("vec_id").alias("probe_id"), F.col("cid").alias("cell"))
        # codes tagged with their coarse cell: the (m, cid, cell) equi-join
        # in adc_for is the IVF read path — only cell-mates are ever scored
        self.ncodes = codes.join(
            self.coarse.withColumnRenamed("cid", "cell"), "vec_id"
        ).withColumnRenamed("vec_id", "neighbor_id")

    def adc_for(self, admitted: DataFrame) -> DataFrame:
        """Cell-pruned ADC scores for an admitted (probe_id, cell) set —
        nprobe=N is just N rows per probe here; each neighbor matches at
        most its own cell, so the groupBy never double-counts. Lookup
        tables ride together: probes x (k x M) subspace distances, each
        tagged with an admitted cell — tiny, broadcast."""
        tp = self.t.join(admitted, "probe_id")
        return materialize(
            self.ncodes.join(F.broadcast(tp), ["m", "cid", "cell"])
            .filter(F.col("neighbor_id") != F.col("probe_id"))
            .groupBy("probe_id", "neighbor_id")
            .agg(F.sum("sub_d2").alias("adc_d2"))
        )

    def pcell_nprobe2(self) -> DataFrame:
        """Top-2 admitted cells per probe: the probe's own assignment
        cell plus the nearest OTHER final centroid — a strict superset
        of the nprobe=1 set, so recall can only improve. Probe-to-
        centroid distances are a probe x K table (K coarse cells —
        tiny); nothing corpus-sized."""
        pd2 = (
            self.probes.join(F.broadcast(self.ccent), "d")
            .groupBy(F.col("vec_id").alias("probe_id"), "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                )
                .cast("long")
                .alias("d2")
            )
        )
        own = self.pcell
        others = pd2.join(
            own.withColumnRenamed("cell", "own_cell"), "probe_id"
        ).filter(F.col("cid") != F.col("own_cell"))
        w = Window.partitionBy("probe_id").orderBy("d2", "cid")
        second = (
            others.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("probe_id", F.col("cid").alias("cell"))
        )
        return own.unionByName(second)


def _ivfpq_spark_parts(spark: SparkSession, sf_dir: str):
    """Coarse cells + PQ codes + cell-pruned ADC scores — the Spark twin
    of ``_ivf_adc_ctes``. Returns (pcell, adc, ctx); ctx carries the
    shared trainings so callers never retrain (e.g. the recall report's
    exact-truth leg reuses ctx.qv)."""
    ctx = _IvfpqCtx(spark, sf_dir)
    return ctx.pcell, ctx.adc_for(ctx.pcell), ctx


@q("emb_ivfpq_topk", _ivfpq_topk_sql())
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k search (nprobe=1): ADC lookup-table scoring restricted
    to the probe's own coarse k-means cell — the composition of
    ``ml_kmeans_fixed_point`` (the IVF half emb_ann_recall_report audits)
    and ``emb_pq_adc_topk`` (which scans all codes). The probe computes
    one k x M exact subspace-distance table; corpus vectors are scored by
    code lookup only, and ONLY vectors sharing the probe's cell are
    touched — the (m, cid, cell) equi-join against the broadcast lookup
    table IS the index read. Codes stay raw-vector PQ (not residual) so
    ranks are directly comparable to emb_pq_adc_topk: cell pruning changes
    WHICH candidates are scored, never how. Scale: per probe the scan is
    cell-sized (N/cells expected), not corpus-sized — with the lookup
    broadcast this is the read-path shape that serves 10⁹-vector indexes;
    raising nprobe re-admits more cells through the same join. All
    arithmetic is exact int64 with (dist, id) total orders, so the oracle
    (both trainings unrolled as CTEs) matches every rank bit-for-bit."""
    pcell, adc, _ = _ivfpq_spark_parts(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ADC_TOPK)
        .join(F.broadcast(pcell), "probe_id")
        .select("probe_id", "cell", "rnk", "neighbor_id", "adc_d2")
        .orderBy("probe_id", "rnk")
    )


def _ivfpq_recall_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       {_pq_ctes()},
       {_ivf_adc_ctes()},
       ivf_top AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
           FROM adc) x WHERE rnk <= {_PQR_TOPK}),
       exact AS (
         SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
                sum((p.q - v.q) * (p.q - v.q))::BIGINT AS d2
         FROM probes p JOIN pqv v ON p.d = v.d
         WHERE v.vec_id <> p.vec_id
         GROUP BY 1, 2),
       exact_top AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY d2, neighbor_id) AS rnk
           FROM exact) x WHERE rnk <= {_PQR_TOPK}),
       hits AS (
         SELECT e.probe_id, count(i.neighbor_id) AS n_hits
         FROM exact_top e
         LEFT JOIN ivf_top i
           ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
         GROUP BY e.probe_id),
       nc AS (SELECT probe_id, count(*) AS n_cand FROM adc GROUP BY 1)
       SELECT p.probe_id, p.cell,
              coalesce(nc.n_cand, 0)::BIGINT AS n_cand,
              h.n_hits::BIGINT AS n_hits,
              round(h.n_hits::DOUBLE / {_PQR_TOPK}, 6) AS recall_at_{_PQR_TOPK}
       FROM pcell p
       JOIN hits h ON h.probe_id = p.probe_id
       LEFT JOIN nc ON nc.probe_id = p.probe_id
       ORDER BY p.probe_id"""


@q("emb_ivfpq_recall_report", _ivfpq_recall_sql())
def emb_ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF-PQ search against EXACT top-10 — the
    go/no-go audit for the full index: emb_pq_recall_report prices the
    quantization loss alone; this adds the nprobe=1 cell-pruning loss on
    top (a true neighbor in a different coarse cell can never be found),
    so the delta between the two reports is precisely the cost of the IVF
    half. Also reports per-probe candidate volume — the scanned-fraction
    dial: recall too low at tiny n_cand says raise nprobe; low recall at
    large n_cand says the codebooks (not the cells) are the problem.
    Ground truth is exact int64 distance ranking priced by the probe
    stride, the same sampled-slice pattern as the LSH/IVF/PQ audits."""
    pcell, adc, ctx = _ivfpq_spark_parts(spark, sf_dir)
    qv = ctx.qv  # exact leg shares the materialized training (no retrain)
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    ivf_top = (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQR_TOPK)
        .select("probe_id", "neighbor_id")
    )
    probes = qv.filter(F.col("vec_id") % ctx.stride == 0)
    p, v = probes.alias("p"), qv.alias("v")
    exact = (
        p.join(v, F.col("p.d") == F.col("v.d"))
        .filter(F.col("v.vec_id") != F.col("p.vec_id"))
        .groupBy(
            F.col("p.vec_id").alias("probe_id"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
        .agg(
            F.sum(
                (F.col("p.q") - F.col("v.q")) * (F.col("p.q") - F.col("v.q"))
            ).alias("d2")
        )
    )
    w_ex = Window.partitionBy("probe_id").orderBy("d2", "neighbor_id")
    exact_top = (
        exact.withColumn("rnk", F.row_number().over(w_ex))
        .filter(F.col("rnk") <= _PQR_TOPK)
        .select("probe_id", "neighbor_id")
    )
    hits = (
        exact_top.alias("e")
        .join(
            ivf_top.alias("i"),
            (F.col("i.probe_id") == F.col("e.probe_id"))
            & (F.col("i.neighbor_id") == F.col("e.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.probe_id").alias("probe_id"))
        .agg(F.count(F.col("i.neighbor_id")).alias("n_hits"))
    )
    nc = adc.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        pcell.join(hits, "probe_id")
        .join(nc, "probe_id", "left")
        .select(
            "probe_id",
            "cell",
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_cand"),
            "n_hits",
            F.round(F.col("n_hits").cast("double") / _PQR_TOPK, 6).alias(
                f"recall_at_{_PQR_TOPK}"
            ),
        )
        .orderBy("probe_id")
    )


_RR_SHORTLIST = 30  # ADC shortlist depth feeding the exact re-rank (3x top-k)


def _ivfpq_rerank_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       {_pq_ctes()},
       {_ivf_adc_ctes()},
       short AS (
         SELECT probe_id, neighbor_id, rnk AS adc_rnk FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
           FROM adc) x WHERE rnk <= {_RR_SHORTLIST}),
       ex AS (
         SELECT s.probe_id, s.neighbor_id, s.adc_rnk,
                sum((p.q - v.q) * (p.q - v.q))::BIGINT AS exact_d2
         FROM short s
         JOIN pqv v ON v.vec_id = s.neighbor_id
         JOIN probes p ON p.vec_id = s.probe_id AND p.d = v.d
         GROUP BY 1, 2, 3),
       reranked AS (
         SELECT probe_id, neighbor_id, adc_rnk, exact_d2,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY exact_d2, neighbor_id) AS rnk
         FROM ex)
       SELECT probe_id, rnk, neighbor_id, exact_d2, adc_rnk
       FROM reranked WHERE rnk <= {_PQR_TOPK}
       ORDER BY probe_id, rnk"""


@q("emb_ivfpq_rerank", _ivfpq_rerank_sql())
def emb_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ retrieval: the cell-pruned ADC scan produces a
    cheap SHORTLIST ({_RR_SHORTLIST} = 3x top-k), which is then re-ranked
    by EXACT int64 distance on the raw vectors — the standard refine step
    every production ANN serving stack runs (quantization error perturbs
    ranks near the boundary; re-ranking a 3x shortlist recovers most of
    it for a probes x shortlist-sized exact cost). The adc_rnk column
    shows the reorder the refine performed. Scale: the exact leg touches
    only probes x {_RR_SHORTLIST} candidate vectors (never the corpus),
    fetched by a neighbor_id equi-join against the vector table — at 10⁹
    vectors that is the point: ADC reads codes, re-rank reads ~30 full
    vectors per query. Same integer contract as the rest of the family;
    the oracle unrolls both trainings and matches every rank."""
    pcell, adc, ctx = _ivfpq_spark_parts(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    short = (
        adc.withColumn("adc_rnk", F.row_number().over(w))
        .filter(F.col("adc_rnk") <= _RR_SHORTLIST)
        .select("probe_id", "neighbor_id", "adc_rnk")
    )
    nb = ctx.qv.select(
        F.col("vec_id").alias("neighbor_id"), "d", F.col("q").alias("nq")
    )
    pv = ctx.probes.select(
        F.col("vec_id").alias("probe_id"), "d", F.col("q").alias("pq")
    )
    ex = (
        short.join(nb, "neighbor_id")
        .join(F.broadcast(pv), ["probe_id", "d"])
        .groupBy("probe_id", "neighbor_id", "adc_rnk")
        .agg(
            F.sum((F.col("pq") - F.col("nq")) * (F.col("pq") - F.col("nq")))
            .cast("long")
            .alias("exact_d2")
        )
    )
    w_ex = Window.partitionBy("probe_id").orderBy("exact_d2", "neighbor_id")
    return (
        ex.withColumn("rnk", F.row_number().over(w_ex))
        .filter(F.col("rnk") <= _PQR_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "exact_d2", "adc_rnk")
        .orderBy("probe_id", "rnk")
    )


def _nprobe2_recall_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       {_pq_ctes()},
       {_ivf_adc_ctes()},
       pd AS (
         SELECT v.vec_id AS probe_id, c.cid,
                sum((v.q - c.cq) * (v.q - c.cq))::BIGINT AS d2
         FROM qv v JOIN c{_KM_ROUNDS} c ON v.d = c.d
         WHERE v.vec_id % {_adc_stride_subquery()} = 0
         GROUP BY 1, 2),
       second AS (
         SELECT probe_id, cid AS cell FROM (
           SELECT pd.probe_id, pd.cid,
                  row_number() OVER (PARTITION BY pd.probe_id
                                     ORDER BY pd.d2, pd.cid) AS rn
           FROM pd JOIN pcell pc ON pc.probe_id = pd.probe_id
           WHERE pd.cid <> pc.cell) x
         WHERE rn = 1),
       pcell2 AS (SELECT probe_id, cell FROM pcell
                  UNION ALL SELECT probe_id, cell FROM second),
       adc2 AS (
         SELECT t.probe_id, a.vec_id AS neighbor_id,
                sum(t.sub_d2)::BIGINT AS adc_d2
         FROM pa{_PQ_ROUNDS} a
         JOIN ncell n ON n.vec_id = a.vec_id
         JOIN t ON a.m = t.m AND a.cid = t.cid
         JOIN pcell2 p ON p.probe_id = t.probe_id AND p.cell = n.cell
         WHERE a.vec_id <> t.probe_id
         GROUP BY 1, 2),
       exact AS (
         SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
                sum((p.q - v.q) * (p.q - v.q))::BIGINT AS d2
         FROM probes p JOIN pqv v ON p.d = v.d
         WHERE v.vec_id <> p.vec_id
         GROUP BY 1, 2),
       exact_top AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY d2, neighbor_id) AS rnk
           FROM exact) x WHERE rnk <= {_PQR_TOPK}),
       top1 AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
           FROM adc) x WHERE rnk <= {_PQR_TOPK}),
       top2 AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT probe_id, neighbor_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
           FROM adc2) x WHERE rnk <= {_PQR_TOPK}),
       h1 AS (SELECT e.probe_id, count(i.neighbor_id) AS n_hits
              FROM exact_top e LEFT JOIN top1 i
                ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
              GROUP BY 1),
       h2 AS (SELECT e.probe_id, count(i.neighbor_id) AS n_hits
              FROM exact_top e LEFT JOIN top2 i
                ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
              GROUP BY 1),
       nc1 AS (SELECT probe_id, count(*) AS n_cand FROM adc GROUP BY 1),
       nc2 AS (SELECT probe_id, count(*) AS n_cand FROM adc2 GROUP BY 1),
       s1 AS (SELECT 1::BIGINT AS nprobe, count(*)::BIGINT AS n_probes,
                     sum(coalesce(nc1.n_cand, 0))::BIGINT AS sum_cand,
                     sum(h1.n_hits)::BIGINT AS sum_hits,
                     round(sum(h1.n_hits)::DOUBLE
                           / (count(*) * {_PQR_TOPK}), 6)
                       AS recall_at_{_PQR_TOPK}
              FROM h1 LEFT JOIN nc1 ON nc1.probe_id = h1.probe_id),
       s2 AS (SELECT 2::BIGINT AS nprobe, count(*)::BIGINT AS n_probes,
                     sum(coalesce(nc2.n_cand, 0))::BIGINT AS sum_cand,
                     sum(h2.n_hits)::BIGINT AS sum_hits,
                     round(sum(h2.n_hits)::DOUBLE
                           / (count(*) * {_PQR_TOPK}), 6)
                       AS recall_at_{_PQR_TOPK}
              FROM h2 LEFT JOIN nc2 ON nc2.probe_id = h2.probe_id)
       SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY nprobe"""


@q("emb_ivfpq_topk_nprobe2", _nprobe2_recall_sql())
def emb_ivfpq_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe=2 IVF-PQ search, exact-checked, priced against nprobe=1 on
    the SAME probes — closes the last designed-but-unchecked corner of
    the IVF read path (emb_ivf_nprobe_cost_curve priced the dial; this
    turns it). Admitted cells at nprobe=2 are the probe's own assignment
    cell PLUS its nearest other final centroid — a strict superset of
    nprobe=1, so recall@{_PQR_TOPK} can only improve; the output is one
    row per nprobe with probe count, total admitted candidates, total
    exact-top-{_PQR_TOPK} hits, and recall — the quality/cost trade in
    one table. Both legs share ONE training (class _IvfpqCtx) and ONE
    tagged ADC scan: each neighbor matches exactly one admitted cell, so
    flagging it own/second recovers the nprobe=1 scores from the
    nprobe=2 scan by a filter — per-probe work stays cell-sized, never
    corpus-sized, which is exactly how a 10⁹-vector index raises nprobe.
    (Fixture-scale wall time is training-dominated so this is a wash at
    sf0.1; at index scale the ADC scan is the dominant term and the
    shared pass halves it.) Exact int64 arithmetic, (dist, id) total
    orders; oracle unrolls both trainings and both probe sets as CTEs
    and matches bit-for-bit."""
    ctx = _IvfpqCtx(spark, sf_dir)
    exact = (
        ctx.probes.alias("p")
        .join(ctx.qv.alias("v"), F.col("p.d") == F.col("v.d"))
        .filter(F.col("v.vec_id") != F.col("p.vec_id"))
        .groupBy(
            F.col("p.vec_id").alias("probe_id"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
        .agg(
            F.sum(
                (F.col("p.q") - F.col("v.q")) * (F.col("p.q") - F.col("v.q"))
            ).alias("d2")
        )
    )
    w_ex = Window.partitionBy("probe_id").orderBy("d2", "neighbor_id")
    exact_top = materialize(
        exact.withColumn("rnk", F.row_number().over(w_ex))
        .filter(F.col("rnk") <= _PQR_TOPK)
        .select("probe_id", "neighbor_id")
    )
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    # ONE tagged ADC pass serves both legs: each neighbor matches exactly
    # one admitted cell, so flagging that cell as own/second and filtering
    # recovers the nprobe=1 scores from the nprobe=2 scan for free (the
    # r11 bench showed two adc_for passes cost ~5.3s; this halves the scan)
    admitted2 = ctx.pcell_nprobe2().join(
        ctx.pcell.withColumnRenamed("cell", "own_cell"), "probe_id"
    )
    adc_both = materialize(
        ctx.ncodes.join(
            F.broadcast(
                ctx.t.join(admitted2, "probe_id").withColumn(
                    "is_own", F.col("cell") == F.col("own_cell")
                )
            ),
            ["m", "cid", "cell"],
        )
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(
            F.sum("sub_d2").alias("adc_d2"),
            F.max("is_own").alias("is_own"),
        )
    )
    out = None
    for np_, adc in (
        (1, adc_both.filter(F.col("is_own")).drop("is_own")),
        (2, adc_both.drop("is_own")),
    ):
        top = (
            adc.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _PQR_TOPK)
            .select("probe_id", "neighbor_id")
        )
        hits = (
            exact_top.alias("e")
            .join(
                top.alias("i"),
                (F.col("i.probe_id") == F.col("e.probe_id"))
                & (F.col("i.neighbor_id") == F.col("e.neighbor_id")),
                "left",
            )
            .groupBy(F.col("e.probe_id").alias("probe_id"))
            .agg(F.count(F.col("i.neighbor_id")).alias("n_hits"))
        )
        nc = adc.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_cand"))
        leg = (
            hits.join(nc, "probe_id", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_probes"),
                F.sum(F.coalesce(F.col("n_cand"), F.lit(0)))
                .cast("long")
                .alias("sum_cand"),
                F.sum("n_hits").cast("long").alias("sum_hits"),
                F.round(
                    F.sum("n_hits").cast("double")
                    / (F.count(F.lit(1)) * _PQR_TOPK),
                    6,
                ).alias(f"recall_at_{_PQR_TOPK}"),
            )
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "n_probes",
                "sum_cand",
                "sum_hits",
                f"recall_at_{_PQR_TOPK}",
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("nprobe")


def _residual_pq_ctes() -> str:
    """Residual PQ training CTEs: the ``_pq_ctes`` step template re-run on
    coarse-quantizer residuals (rqv = vector minus assigned coarse
    centroid), names r-prefixed so both trainings coexist in one WITH."""
    step = """
rd{i} AS (SELECT v.vec_id, v.m, c.cid,
                 sum((v.q - c.cq) * (v.q - c.cq)) AS dist
          FROM rqv v JOIN rc{p} c ON v.d = c.d AND v.m = c.m
          GROUP BY v.vec_id, v.m, c.cid),
ra{i} AS (SELECT vec_id, m, cid, dist FROM (
            SELECT vec_id, m, cid, dist,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cid) AS rn
            FROM rd{i}) t WHERE rn = 1),
rc{i} AS (SELECT a.m, a.cid, v.d,
                 floor(sum(v.q) * 1.0 / count(*))::BIGINT AS cq
          FROM ra{i} a JOIN rqv v ON a.vec_id = v.vec_id AND a.m = v.m
          GROUP BY a.m, a.cid, v.d)"""
    rounds = ",".join(
        step.format(i=i, p=i - 1) for i in range(1, _PQ_ROUNDS + 1)
    )
    return f"""rqv AS (
         SELECT v.vec_id, v.d, v.d // {_PQ_M_DIMS} AS m,
                (v.q - c.cq) AS q
         FROM qv v
         JOIN a{_KM_ROUNDS} a ON a.vec_id = v.vec_id
         JOIN c{_KM_ROUNDS} c ON c.cid = a.cid AND c.d = v.d),
       rc0 AS (SELECT m, vec_id AS cid, d, q AS cq
               FROM rqv WHERE vec_id < {_PQ_K}),
       {rounds}"""


def _residual_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-assign, subtract the cell centroid, train PQ on the
    residuals. Returns the final (vec_id, m, cid, dist) code assignment —
    exposed separately so tests can compare total quantization error
    against the raw-vector codes. Residuals are built in one map-only
    numpy pass (``_km_residual_arr``) and the PQ rounds run in the shared
    one-pass-per-round Lloyd trainer (``_lloyd_train``, guide §4.2);
    values match the oracle bit for bit."""
    rarr = _km_residual_arr(spark, sf_dir)
    prev, _ = _lloyd_train(rarr, _PQ_K, _PQ_M_DIMS, _PQ_ROUNDS)
    return materialize(_lloyd_assign(rarr, prev))


def _residual_codes_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       {_residual_pq_ctes()},
       codes AS (
         SELECT vec_id,
                sum(cid * power({_PQ_K}, m)::BIGINT)::BIGINT AS packed_code,
                sum(dist)::BIGINT AS q_err
         FROM ra{_PQ_ROUNDS} GROUP BY vec_id)
       SELECT packed_code, count(*) AS n_vecs,
              round(sum(q_err)::DOUBLE / count(*), 6) AS avg_q_err
       FROM codes GROUP BY packed_code
       ORDER BY n_vecs DESC, packed_code LIMIT 20"""


@q("emb_pq_residual_codes", _residual_codes_sql())
def emb_pq_residual_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual product quantization — the encoding a production IVF-PQ
    index actually stores: each vector is first assigned to its coarse
    k-means cell, the CELL CENTROID IS SUBTRACTED, and the PQ codebooks
    train on the residuals. Residuals concentrate near zero, so the same
    2-bit-per-subspace budget spends its codewords on a much tighter
    distribution — tests assert the mean quantization error undercuts the
    raw-vector codes (emb_pq_codes) on the fixture. Output is the same
    codebook-health table (top-20 packed codes + mean error) for direct
    comparison. Determinism: residuals are exact int64 differences of
    milli-unit values, so the whole pipeline (coarse training, subtract,
    PQ training) unrolls as oracle CTEs. Scale: one extra broadcast join
    (centroids are k x dim cells) over the exploded corpus on top of the
    emb_pq_codes plan — still one relational pass for all M codebooks."""
    assign = _residual_pq_assign(spark, sf_dir)
    codes = assign.groupBy("vec_id").agg(
        F.sum(
            F.col("cid") * F.pow(F.lit(_PQ_K), F.col("m")).cast("bigint")
        ).alias("packed_code"),
        F.sum("dist").alias("q_err"),
    )
    return (
        codes.groupBy("packed_code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("q_err").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_q_err"),
        )
        .orderBy(F.col("n_vecs").desc(), "packed_code")
        .limit(20)
    )


def _silhouette_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       dist_f AS (
         SELECT v.vec_id, c.cid,
                sum((v.q - c.cq) * (v.q - c.cq))::BIGINT AS dist
         FROM qv v JOIN c{_KM_ROUNDS} c ON v.d = c.d
         GROUP BY 1, 2),
       ab AS (
         SELECT a.vec_id, a.cid,
                max(CASE WHEN d.cid = a.cid THEN d.dist END) AS a_dist,
                min(CASE WHEN d.cid <> a.cid THEN d.dist END) AS b_dist
         FROM a{_KM_ROUNDS} a JOIN dist_f d ON d.vec_id = a.vec_id
         GROUP BY 1, 2),
       sil AS (
         SELECT cid,
                CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0.0
                     ELSE (b_dist - a_dist) * 1.0 / greatest(a_dist, b_dist)
                END AS s
         FROM ab)
       SELECT cid, count(*) AS n_members,
              round(avg(s), 6) AS avg_silhouette,
              sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative
       FROM sil GROUP BY cid ORDER BY cid"""


@q("emb_kmeans_silhouette", _silhouette_sql())
def emb_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per k-means cluster —
    the clustering-quality audit for the IVF coarse quantizer: for each
    vector, a = squared distance to its own (post-update) centroid, b =
    min distance to any other centroid, s = (b - a) / max(a, b). Reports
    per-cluster member count, mean silhouette, and the number of
    NEGATIVE-silhouette members (vectors sitting closer to a foreign
    centroid — exactly the ones nprobe=1 IVF search will lose, tying this
    table directly to emb_ivfpq_recall_report's per-cell recall).
    Centroid-based silhouette is O(N·k·d) — the form that scales; the
    classic all-pairs definition is O(N²·d) and exists only as a
    fixture-tier oracle elsewhere. Distances are exact int64; s is one
    float division, so 6-dp rounding hash-matches."""
    qv, assign, cent = _kmeans_assign(spark, sf_dir)
    dist_f = (
        qv.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist")
        )
    )
    ab = (
        assign.alias("a")
        .join(dist_f.alias("d"), F.col("d.vec_id") == F.col("a.vec_id"))
        .groupBy(F.col("a.vec_id"), F.col("a.cid"))
        .agg(
            F.max(
                F.when(F.col("d.cid") == F.col("a.cid"), F.col("dist"))
            ).alias("a_dist"),
            F.min(
                F.when(F.col("d.cid") != F.col("a.cid"), F.col("dist"))
            ).alias("b_dist"),
        )
    )
    sil = ab.select(
        "cid",
        F.when(F.greatest("a_dist", "b_dist") == 0, F.lit(0.0))
        .otherwise(
            (F.col("b_dist") - F.col("a_dist"))
            / F.greatest("a_dist", "b_dist")
        )
        .alias("s"),
    )
    return (
        sil.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("s"), 6).alias("avg_silhouette"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("n_negative"),
        )
        .orderBy("cid")
    )


def _nprobe_cost_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       sizes AS (SELECT cid, count(*)::BIGINT AS csize
                 FROM a{_KM_ROUNDS} GROUP BY cid),
       n AS (SELECT count(*)::BIGINT AS corpus FROM a{_KM_ROUNDS}),
       pd AS (
         SELECT v.vec_id AS probe_id, c.cid,
                sum((v.q - c.cq) * (v.q - c.cq))::BIGINT AS d2
         FROM qv v JOIN c{_KM_ROUNDS} c ON v.d = c.d
         WHERE v.vec_id % {_adc_stride_subquery()} = 0
         GROUP BY 1, 2),
       ranked AS (
         SELECT probe_id, cid,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY d2, cid) AS cell_rank
         FROM pd),
       per AS (
         SELECT r.probe_id, g.np,
                (sum(CASE WHEN r.cell_rank <= g.np THEN s.csize
                          ELSE 0 END) - 1)::BIGINT AS cand
         FROM ranked r JOIN sizes s USING (cid)
         CROSS JOIN (SELECT unnest([1, 2, 4])::BIGINT AS np) g
         GROUP BY 1, 2)
       SELECT per.np AS nprobe,
              count(*)::BIGINT AS n_probes,
              round(sum(per.cand)::DOUBLE / count(*), 6) AS avg_candidates,
              max(per.cand)::BIGINT AS max_candidates,
              round(sum(per.cand)::DOUBLE / count(*) / n.corpus * 100, 6)
                AS corpus_pct
       FROM per, n GROUP BY per.np, n.corpus ORDER BY per.np"""


@q("emb_ivf_nprobe_cost_curve", _nprobe_cost_sql())
def emb_ivf_nprobe_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COST half of the IVF tuning dial (emb_ivfpq_recall_report is
    the quality half at nprobe=1): for nprobe ∈ {1, 2, 4}, the average
    and worst-case candidate volume a probe's ADC scan admits and the
    share of the corpus touched — the table that prices "raise nprobe
    to recover recall" before anyone re-runs a recall audit. The
    probe's own cell always ranks first under the (distance, cid)
    total order the assignment itself uses, so candidates = admitted
    cell sizes minus self. Exact integer cell sizes and distances; two
    rounded divisions at the end. Scale: probe×K distance table (K
    coarse cells — tiny), cell sizes from the assignment aggregate —
    nothing corpus-pair-sized anywhere."""
    qv, assign, cent = _kmeans_assign(spark, sf_dir)
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("csize"))
    corpus = assign.count()  # scalar for the pct denominator
    pd2 = (
        qv.filter(F.col("vec_id") % _adc_stride(spark, sf_dir) == 0)
        .join(F.broadcast(cent), "d")
        .groupBy(F.col("vec_id").alias("probe_id"), "cid")
        .agg(
            F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq")))
            .cast("long")
            .alias("d2")
        )
    )
    w = Window.partitionBy("probe_id").orderBy("d2", "cid")
    ranked = pd2.withColumn("cell_rank", F.row_number().over(w))
    grid = F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("np")
    per = (
        ranked.join(F.broadcast(sizes), "cid")
        .select("probe_id", "cell_rank", "csize", grid)
        .groupBy("probe_id", "np")
        .agg(
            (
                F.sum(
                    F.when(F.col("cell_rank") <= F.col("np"), F.col("csize"))
                    .otherwise(0)
                )
                - 1
            )
            .cast("long")
            .alias("cand")
        )
    )
    return (
        per.groupBy(F.col("np").cast("long").alias("nprobe"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.round(F.sum("cand").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_candidates"
            ),
            F.max("cand").cast("long").alias("max_candidates"),
            F.round(
                F.sum("cand").cast("double")
                / F.count(F.lit(1))
                / F.lit(float(corpus))
                * 100,
                6,
            ).alias("corpus_pct"),
        )
        .orderBy("nprobe")
    )
