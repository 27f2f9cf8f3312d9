"""Round-11 additions: SemDeDup-style cell-pruned semantic dedup
(SURVEY.md §2.J dedup family).

llm_semantic_clusters proved the exact-pairwise semantic dedup path and
noted "at 100 TB the edge set comes from a candidate stage instead of
exact pairwise cosine" — these keys CHECK that candidate stage: duplicate
edges are scored only within coarse k-means cells (the SemDeDup economics:
pair volume Σ cell_size², never corpus²), with a recall audit pricing the
cross-cell edges the pruning gives up — the same quality/cost symmetry the
IVF-PQ family gets from its recall reports.

Cells come from the shared fixed-point k-means (queries/emb_extra.py
``_kmeans_assign`` / ``_kmeans_ctes``), so the DuckDB oracle unrolls the
training and both engines agree on cell membership bit-for-bit; the cosine
contract (float, rounded 6dp, threshold reused from llm_dedup_embedding)
is the one the driver has hash-verified since round 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.queries._registry import new_module_registry
from hawaiidatapipeline_spark.queries.emb_extra import (
    _KM_ROUNDS,
    _km_ctx,
    _km_ctx_dist,
    _kmeans_ctes,
)
from hawaiidatapipeline_spark.queries.llm import _EMB_TAU
from hawaiidatapipeline_spark.registry import load_table

QUERIES, ORACLES, q = new_module_registry()

# Corpus-scaled bucket refinement: a fixed k=4 coarse quantizer leaves
# cell_size ∝ N, so within-cell pairs blow up quadratically (caught by
# tools/scaling_probe.py alpha2=1.92 in round 11). Each cell is therefore
# SUBDIVIDED by a 16-bit SRP cosine-LSH signature taken modulo
# m = ceil(N / (4·128)) — bucket size targets ~128 vectors at every
# corpus size, so pair volume is N×128, linear. Near-duplicates share all
# 16 SRP bits with high probability (the emb_srp_recall_report audit
# prices exactly this), so they land in the same bucket; the semantic
# recall audit below prices the combined cell+bucket split. At sf0.01
# (N=500) m=1 and buckets ARE the cells.
_SD_SRP_BITS = 16
_SD_TARGET = 512  # N / _SD_TARGET = sub-buckets per cell (÷4 cells ≈ 128/bucket)
_SD_RECALL_SAMPLE = 1000  # recall-audit vertex sample size (stride = N/this)


def _semdedup_bucket_ctes() -> str:
    """SQL fragment (assumes ``_kmeans_ctes()``'s qv and the ``cells``
    CTE in scope): SRP signatures → ``bkts`` (vec_id, cell, bkt)."""
    return f"""nrm AS (SELECT count(*)::BIGINT AS n FROM embeddings),
       mp AS (SELECT greatest(1, ceil(n / {_SD_TARGET}.0))::BIGINT AS m
              FROM nrm),
       sproj AS (
         SELECT j.j, d.d,
                CASE WHEN ('0x' || substring(md5('srp:' || j.j::VARCHAR
                            || ':' || d.d::VARCHAR), 1, 15))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END AS r
         FROM (SELECT unnest(generate_series(0, {_SD_SRP_BITS - 1})) AS j) j,
              (SELECT unnest(generate_series(0, 63)) AS d) d),
       sdots AS (SELECT v.vec_id, p.j, sum(v.q * p.r)::BIGINT AS dot
                 FROM qv v JOIN sproj p ON p.d = v.d GROUP BY 1, 2),
       ssig AS (SELECT vec_id,
                       sum(CASE WHEN dot > 0
                                THEN power(2, j)::BIGINT ELSE 0 END)::BIGINT
                         AS sig
                FROM sdots GROUP BY 1),
       bkts AS (SELECT c.vec_id, c.cid AS cell,
                       s.sig % (SELECT m FROM mp) AS bkt
                FROM cells c JOIN ssig s ON s.vec_id = c.vec_id)"""


def _semdedup_buckets(spark: SparkSession, qarr: DataFrame, assign: DataFrame) -> DataFrame:
    """Spark twin of ``_semdedup_bucket_ctes``: (vec_id, cell, bkt).
    The 16-bit SRP signature is a per-row fold of the array vector
    against the driver-computed sign matrix (emb_extra._with_srp_sig —
    the r14 srp_recall form), replacing the d-keyed join + two
    corpus x bits aggregates; bit j is set iff the exact int64 dot with
    hyperplane j is > 0, identical values."""
    import math

    from hawaiidatapipeline_spark.queries.emb_extra import _with_srp_sig

    n = assign.count()
    m = max(1, math.ceil(n / _SD_TARGET))
    sig = _with_srp_sig(qarr, _SD_SRP_BITS).select("vec_id", "srp_sig")
    return (
        assign.select("vec_id", F.col("cid").alias("cell"))
        .join(sig, "vec_id")
        .select("vec_id", "cell", (F.col("srp_sig") % m).alias("bkt"))
    )


def _semdedup_cells_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       cells AS (SELECT vec_id, cid FROM a{_KM_ROUNDS}),
       {_semdedup_bucket_ctes()},
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       edges AS (
         SELECT ca.cell, a.vec_id AS va, b.vec_id AS vb
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         JOIN bkts ca ON ca.vec_id = a.vec_id
         JOIN bkts cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
                     AND cb.bkt = ca.bkt
         WHERE list_cosine_similarity(a.v, b.v) >= {_EMB_TAU}),
       dropped AS (SELECT cell, vb FROM edges GROUP BY 1, 2),
       sizes AS (SELECT cid AS cell, count(*)::BIGINT AS n_vectors
                 FROM cells GROUP BY 1)
       SELECT s.cell, s.n_vectors,
              coalesce(ec.n_edges, 0)::BIGINT AS n_edges,
              coalesce(dc.n_dropped, 0)::BIGINT AS n_dropped,
              (s.n_vectors - coalesce(dc.n_dropped, 0))::BIGINT AS n_survivors
       FROM sizes s
       LEFT JOIN (SELECT cell, count(*) AS n_edges FROM edges GROUP BY 1) ec
         ON ec.cell = s.cell
       LEFT JOIN (SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY 1) dc
         ON dc.cell = s.cell
       ORDER BY s.cell"""


@q("llm_semdedup_cells", _semdedup_cells_sql())
def llm_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic dedup restricted to coarse k-means cells,
    each cell SUBDIVIDED by a corpus-scaled SRP sub-bucket (16-bit
    cosine-LSH signature mod m = ceil(N/512); m=1 at audit scale so
    buckets are exactly the cells) — per cell, the member count, the
    near-duplicate edge count (cosine >= the llm_dedup_embedding
    threshold, scored ONLY between bucket-mates via
    operators/similarity.py cosine_pairs_in_cells), the keep-first drop
    count and the survivor count. Bucket size targets ~128 vectors at
    EVERY corpus size, so pair volume is N×128 — linear; the round-11
    scaling probe measured the fixed-k=4 version at alpha2=1.92
    (quadratic, 106s at sf0.3) and this form at alpha2≈0.1 (5.8s).
    Near-dups share all 16 SRP bits w.h.p. (emb_srp_recall_report prices
    that); llm_semdedup_recall prices the combined cell+bucket split.
    Oracle unrolls the fixed-point k-means training + SRP signatures as
    CTEs so bucket membership matches bit-for-bit; the cosine contract
    is llm_dedup_embedding's. Hash-verified at sf0.01 (m=1) AND sf0.1
    (m=10)."""
    qarr, assign, _ = _km_ctx(spark, sf_dir)
    from hawaiidatapipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_pairs_in_cells,
    )

    bkts = _semdedup_buckets(spark, qarr, assign)
    e = as_double_vec(load_table(spark, sf_dir, "embeddings"))
    edges = cosine_pairs_in_cells(e, bkts, cell_col=("cell", "bkt")).filter(
        F.col("cos_sim") >= _EMB_TAU
    )
    sizes = assign.groupBy(F.col("cid").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    ec = edges.groupBy("cell").agg(F.count(F.lit(1)).alias("n_edges"))
    dc = (
        edges.select("cell", "vec_b")
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        sizes.join(ec, "cell", "left")
        .join(dc, "cell", "left")
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0)))
            .cast("long")
            .alias("n_survivors"),
        )
        .orderBy("cell")
    )


def _semdedup_recall_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       cells AS (SELECT vec_id, cid FROM a{_KM_ROUNDS}),
       {_semdedup_bucket_ctes()},
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       srs AS (SELECT greatest(1, ceil((SELECT count(*) FROM embeddings)
                                       / {_SD_RECALL_SAMPLE}.0))::BIGINT AS s),
       es AS (SELECT * FROM e WHERE vec_id % (SELECT s FROM srs) = 0),
       exact_edges AS (
         SELECT a.vec_id AS va, b.vec_id AS vb
         FROM es a JOIN es b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= {_EMB_TAU}),
       cell_edges AS (
         SELECT x.va, x.vb
         FROM exact_edges x
         JOIN bkts ca ON ca.vec_id = x.va
         JOIN bkts cb ON cb.vec_id = x.vb AND cb.cell = ca.cell
                     AND cb.bkt = ca.bkt)
       SELECT (SELECT count(*) FROM exact_edges)::BIGINT AS n_exact_edges,
              (SELECT count(*) FROM cell_edges)::BIGINT AS n_cell_edges,
              ((SELECT count(*) FROM exact_edges)
               - (SELECT count(*) FROM cell_edges))::BIGINT AS n_missed,
              round((SELECT count(*) FROM cell_edges)::DOUBLE
                    / nullif((SELECT count(*) FROM exact_edges), 0), 6)
                AS edge_recall"""


@q("llm_semdedup_recall", _semdedup_recall_sql())
def llm_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality half of SemDeDup's cell pruning: how many exact
    semantic-duplicate edges (llm_dedup_embedding's full pairwise set)
    survive the same-(cell, SRP sub-bucket) restriction — the edges
    llm_semdedup_cells can see — and the recall. A missed edge is a true
    near-duplicate pair the coarse quantizer or the corpus-scaled
    sub-bucket split apart; low recall says train more/better cells or
    widen the sub-bucket target, NOT that the threshold is wrong. The
    exact-truth leg runs on a corpus-scaled VERTEX SAMPLE (stride =
    ceil(N/{_SD_RECALL_SAMPLE}), so ~{_SD_RECALL_SAMPLE} vectors and a
    fixed ~{_SD_RECALL_SAMPLE}²/2 pair volume at ANY corpus size — the
    audit-slice pattern every recall report here uses; full pairwise
    grew 7.4x per 10x data in tools/scaling_probe.py); the cell leg is
    the production shape. At sf0.01 the stride is 1 (sample = corpus).
    Oracle shares the unrolled k-means CTEs."""
    import math

    qarr, assign, _ = _km_ctx(spark, sf_dir)
    from hawaiidatapipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_pairs_exact,
    )

    bkts = _semdedup_buckets(spark, qarr, assign)
    e = as_double_vec(load_table(spark, sf_dir, "embeddings"))
    stride = max(1, math.ceil(e.count() / _SD_RECALL_SAMPLE))
    exact = (
        cosine_pairs_exact(e.filter(F.col("vec_id") % stride == 0))
        .filter(F.col("cos_sim") >= _EMB_TAU)
        .select("vec_a", "vec_b")
    )
    ca = bkts.withColumnRenamed("vec_id", "vec_a")
    cb = (
        bkts.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("cell", "cell_b")
        .withColumnRenamed("bkt", "bkt_b")
    )
    cell_edges = (
        exact.join(ca, "vec_a")
        .join(cb, "vec_b")
        .filter(
            (F.col("cell") == F.col("cell_b")) & (F.col("bkt") == F.col("bkt_b"))
        )
        .select("vec_a", "vec_b")
    )
    n_exact = exact.count()
    n_cell = cell_edges.count()
    row = [
        (
            n_exact,
            n_cell,
            n_exact - n_cell,
            round(n_cell / n_exact, 6) if n_exact else None,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_exact_edges bigint, n_cell_edges bigint, n_missed bigint, "
        "edge_recall double",
    )


def semdedup_drop_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup DROP list: members of within-bucket duplicate clusters
    (cell × corpus-scaled SRP sub-bucket) that are NOT the keep-rule survivor (farthest from cell centroid,
    ties → min id). One (vec_id) column; duplicate members are a small
    fraction of the corpus, so consumers can broadcast this for an
    anti-join. Shared by llm_semdedup_survivors and the v6 corpus
    pipeline."""
    from pyspark.sql import Window

    from hawaiidatapipeline_spark.operators.dedup import connected_components
    from hawaiidatapipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_pairs_in_cells,
    )

    # ONE materialized (vec_id, cid, d2) frame carries both the cell
    # assignment and the keep-rule distance (emb_extra._km_ctx_dist):
    # the old exploded-qv ⋈ assign ⋈ centroid join + (vec)-grain
    # aggregate is a map-only numpy pass now (guide §4.2).
    qarr, ad = _km_ctx_dist(spark, sf_dir)
    assign = ad.select("vec_id", "cid")
    bkts = _semdedup_buckets(spark, qarr, assign)
    e = as_double_vec(load_table(spark, sf_dir, "embeddings"))
    edges = cosine_pairs_in_cells(e, bkts, cell_col=("cell", "bkt")).filter(
        F.col("cos_sim") >= _EMB_TAU
    )
    comp = connected_components(edges, a_col="vec_a", b_col="vec_b").select(
        F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id")
    )
    m = comp.join(
        ad.select(
            "vec_id", F.col("cid").alias("cell"), "d2"
        ),
        "vec_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("d2").desc(), "vec_id")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("vec_id")
    )


def _semdedup_cc_ctes() -> str:
    """Shared CTE tail (assumes ``_kmeans_ctes()`` in scope): within-cell
    duplicate edges → recursive-CTE connected components → centroid
    distances → per-cluster member table ``m`` and keep-rule pick
    ``sel``. Used by the survivors key and the v6 corpus pipeline."""
    return f"""cells AS (SELECT vec_id, cid FROM a{_KM_ROUNDS}),
       {_semdedup_bucket_ctes()},
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       pairs AS (
         SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         JOIN bkts ca ON ca.vec_id = a.vec_id
         JOIN bkts cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
                     AND cb.bkt = ca.bkt
         WHERE list_cosine_similarity(a.v, b.v) >= {_EMB_TAU}),
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       reach(node, r) AS (
         SELECT src, src FROM edges
         UNION
         SELECT g.src, rr.r FROM edges g JOIN reach rr ON g.dst = rr.node),
       comp AS (SELECT node AS vec_id, min(r) AS cluster_id
                FROM reach GROUP BY node),
       dist AS (
         SELECT v.vec_id, sum((v.q - c.cq) * (v.q - c.cq))::BIGINT AS d2
         FROM qv v
         JOIN cells a ON a.vec_id = v.vec_id
         JOIN c{_KM_ROUNDS} c ON c.cid = a.cid AND c.d = v.d
         GROUP BY v.vec_id),
       m AS (
         SELECT comp.cluster_id, cells.cid AS cell, comp.vec_id, dist.d2
         FROM comp
         JOIN cells ON cells.vec_id = comp.vec_id
         JOIN dist ON dist.vec_id = comp.vec_id),
       sel AS (
         SELECT cluster_id, vec_id AS survivor_id, d2 AS survivor_d2
         FROM (SELECT cluster_id, vec_id, d2,
                      row_number() OVER (PARTITION BY cluster_id
                                         ORDER BY d2 DESC, vec_id) AS rn
               FROM m) x WHERE rn = 1)"""


def _semdedup_survivors_sql() -> str:
    return f"""WITH RECURSIVE km0 AS (SELECT 1),
       {_kmeans_ctes()},
       {_semdedup_cc_ctes()}
       SELECT g.cluster_id, g.cell, g.n_members,
              sel.survivor_id, sel.survivor_d2
       FROM (SELECT cluster_id, min(cell)::BIGINT AS cell,
                    count(*)::BIGINT AS n_members
             FROM m GROUP BY 1) g
       JOIN sel ON sel.cluster_id = g.cluster_id
       ORDER BY g.cluster_id"""


@q("llm_semdedup_survivors", _semdedup_survivors_sql())
def llm_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivor selection, the paper's keep-rule: within-cell
    duplicate edges grouped into clusters (the SAME hash-min connected
    components the MinHash path uses), then each cluster keeps the member
    FARTHEST from its coarse-cell centroid (max integer d², ties → min
    vec_id) — dropping the redundant near-centroid copies preserves the
    cluster's most distinctive example, which is the semantic analog of
    winnowing's min-hash pick. Components can't cross cells (edges are
    cell-internal by construction) so every cluster has ONE cell. All
    distances are the exact int64 fixed-point the k-means training itself
    used, so the DuckDB oracle (recursive-CTE reachability + unrolled
    training) matches bit-for-bit. Scale: CC is O(diameter) narrow joins
    on the cell-bounded edge set; the keep-rule is one window over
    cluster-sized partitions."""
    from pyspark.sql import Window

    from hawaiidatapipeline_spark.operators.dedup import connected_components
    from hawaiidatapipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_pairs_in_cells,
    )

    # same one-frame assignment+distance shape as semdedup_drop_set
    qarr, ad = _km_ctx_dist(spark, sf_dir)
    assign = ad.select("vec_id", "cid")
    bkts = _semdedup_buckets(spark, qarr, assign)
    e = as_double_vec(load_table(spark, sf_dir, "embeddings"))
    edges = cosine_pairs_in_cells(e, bkts, cell_col=("cell", "bkt")).filter(
        F.col("cos_sim") >= _EMB_TAU
    )
    comp = connected_components(edges, a_col="vec_a", b_col="vec_b").select(
        F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id")
    )
    m = comp.join(
        ad.select("vec_id", F.col("cid").alias("cell"), "d2"), "vec_id"
    )

    w = Window.partitionBy("cluster_id").orderBy(F.col("d2").desc(), "vec_id")
    sel = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("vec_id").alias("survivor_id"),
            F.col("d2").alias("survivor_d2"),
        )
    )
    g = m.groupBy("cluster_id").agg(
        F.min("cell").cast("long").alias("cell"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return g.join(sel, "cluster_id").orderBy("cluster_id")
