"""Embedding-column extras: int8 quantization.

Vector storage is a first-order cost at corpus scale: float32×64 dims is
256 B/row; symmetric int8 cuts it 4× with bounded reconstruction error
(≤ scale/2 per element). The whole computation is float→double widening
(exact), one IEEE division chain, and floor(x+0.5) — identical on both
engines, so even the quantized codes hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.queries._registry import new_module_registry
from hawaiidatapipeline_spark.operators.materialize import materialize
from hawaiidatapipeline_spark.registry import load_table

QUERIES, ORACLES, q = new_module_registry()


@q(
    "emb_quantize_int8",
    """WITH scaled AS (
         SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
         FROM embeddings
       )
       SELECT vec_id,
              round(scale, 6) AS scale,
              CASE WHEN scale = 0
                   THEN array_to_string(list_transform(embedding, x -> '0'), '|')
                   ELSE array_to_string(
                          list_transform(embedding,
                                         x -> floor(x::DOUBLE / scale + 0.5)::BIGINT::VARCHAR),
                          '|')
              END AS codes
       FROM scaled""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127, code =
    floor(x/scale + 0.5). Map-only (no shuffle, no state) — at 100 TB this
    is a scan-rewrite pass that shrinks the vector column 4× before any
    ANN index build; codes reconstruct to within scale/2 per element
    (asserted in tests/test_emb_extra.py). floor(x+0.5) is used instead of
    round() because the engines disagree on rounding mode, and float→
    double widening keeps every arithmetic step bit-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    scaled = e.withColumn("_scale", scale)
    codes = F.when(
        F.col("_scale") == 0,
        F.concat_ws("|", F.transform("embedding", lambda x: F.lit("0"))),
    ).otherwise(
        F.concat_ws(
            "|",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") / F.col("_scale") + 0.5)
                .cast("long")
                .cast("string"),
            ),
        )
    )
    return scaled.select(
        "vec_id",
        F.round("_scale", 6).alias("scale"),
        codes.alias("codes"),
    )


@q(
    "emb_label_centroids",
    """WITH ex AS (
         SELECT label,
                unnest(generate_series(0, len(embedding) - 1)) AS dim,
                unnest(embedding) AS x
         FROM embeddings
       )
       SELECT label, dim,
              round((sum(x::DECIMAL(18,9)) / count(*))::DOUBLE, 6) AS centroid,
              count(*) AS n_vecs
       FROM ex GROUP BY label, dim""",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the vector aggregation
    behind semantic clustering profiles, IVF coarse-quantizer seeding, and
    class-prototype classification. posexplode + one partial-aggregated
    groupBy on (label, dim): shuffle volume is labels × dims, independent
    of corpus size. Sums run in exact DECIMAL so partition order cannot
    move the 6th digit (the avg-flake class); the per-dim division happens
    once on identical operands in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(
                (F.sum(F.col("x").cast("decimal(18,9)")) / F.count(F.lit(1))).cast(
                    "double"
                ),
                6,
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@q(
    "llm_cosine_topk_sharded",
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       ORDER BY cos_sim DESC, vec_a, vec_b
       LIMIT 20""",
)
def llm_cosine_topk_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 cosine pairs via the P×S cogrouped-GEMM grid
    (operators/similarity.py cosine_topk_gemm_sharded) — the same answer
    as llm_cosine_topk with NO driver-side index build: probes hash into
    P blocks, the index into S shards, each (block, shard) cell runs one
    bounded numpy GEMM and emits local top-k. The 100 TB path when the
    index outgrows a broadcast; per-task memory tunes via P and S."""
    from hawaiidatapipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_topk_gemm_sharded,
    )

    e = as_double_vec(load_table(spark, sf_dir, "embeddings"))
    top = cosine_topk_gemm_sharded(e, k=20, n_shards=4, n_probe_blocks=2)
    return top.select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))


# Coarse-quantizer size. _KM_K is the FIXTURE FLOOR (and the unroll count
# for the fixed-K seeding audit emb_kmeanspp_init); the trained cell count
# is corpus-scaled: K = max(_KM_K, ceil(N / _KM_TARGET)), so cell size
# targets ~_KM_TARGET vectors at EVERY corpus size and the cell-pruned
# IVF-PQ ADC read stays linear in N (the SemDeDup m = ceil(N/512) recipe —
# the fixed K=4 version measured alpha10 0.76-0.78 on the 10x lane because
# cell size grew ~N/4 and the ADC join scanned ~N²/K pairs). At sf0.01
# (N=500) and sf0.1 (N=2000) the clamp keeps K=4, so fixture hashes are
# unchanged; at the sf1.0 lane (N=20000) K=40.
_KM_K = 4
_KM_TARGET = 512
_KM_ROUNDS = 3


def _km_k_subquery() -> str:
    """Scalar-subquery form of the corpus-scaled coarse K for oracle CTEs
    — must stay bit-identical to the Spark-side computation in
    ``_km_fit`` (greatest/ceil over the same count)."""
    return (
        f"(SELECT greatest({_KM_K}, ceil(count(*) / {_KM_TARGET}.0))::BIGINT"
        " FROM embeddings)"
    )


# --- array-native integer-vector kernels (round-14 optimization) -----------
#
# The whole emb/ANN family computes exact integer distances/dots between
# milli-quantized vectors. The original implementation exploded vectors to
# (vec_id, d, q) rows and JOINED on the dimension index d — a 64-distinct-key
# join that materializes N·K·d intermediate rows through a hash aggregate for
# every distance table (guide §2.3/§2.4: shuffle/row blowup the optimizer
# cannot remove). These kernels keep vectors as ARRAYS and compute each
# distance as one codegen'd zip_with/aggregate fold against a broadcast
# centroid/probe list: the corpus side is never shuffled or exploded for the
# distance pass, and per round the only exchange carries K·d centroid cells.
# All arithmetic is the exact same int64 expression tree ((q-cq)² sums,
# floor-average updates, (dist, cid) argmin), so every oracle hash is
# unchanged — verified key-by-key against the unchanged DuckDB CTEs.

_ZERO_L = "cast(0 as bigint)"


def _fold_d2(a: str, b: str) -> str:
    """Exact int64 squared L2 distance between two bigint arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"{_ZERO_L}, (s, v) -> s + v)"
    )


def _fold_dot(a: str, b: str) -> str:
    """Exact int64 inner product between two bigint arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"{_ZERO_L}, (s, v) -> s + v)"
    )


def _probe_pairs(
    qarr: DataFrame,
    probes_arr: DataFrame,
    metric: str,
    pa: str = "pa",
    pb: str = "pb",
    val: str = "dot",
) -> DataFrame:
    """Exact (probe, other, int64 metric) pairs in ONE map-only pass: the
    probe slice rides a broadcast array-of-structs row and every corpus
    row folds against each probe — replaces the d-keyed self-join that
    materialized probes x corpus x d rows through a hash aggregate
    (guide §2.3/§2.4). Self-pairs are dropped, values are the identical
    int64 sums the join produced. ``probes_arr`` needs (vec_id, qarr).

    Bound (ADVICE r14): the whole probe slice lands in ONE array cell,
    so Spark's ~2 GiB single-value / Integer.MAX_VALUE element limits
    cap it at roughly 4M probe vectors of d=64 int64 — far above the
    corpus-scaled ~65-probe strides every caller uses (the stride grows
    with the corpus precisely so the probe count stays ~constant). A
    caller with an unbounded probe set must chunk the list into
    fixed-size bucket rows before folding."""
    fold = _fold_dot if metric == "dot" else _fold_d2
    row = F.broadcast(
        probes_arr.select("vec_id", "qarr").agg(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("_pid"), F.col("qarr").alias("_parr")
                )
            ).alias("_ps")
        )
    )
    expr = (
        "transform(_ps, p -> struct(p._pid AS _pa, "
        + fold("p._parr", "qarr")
        + " AS _v))"
    )
    return (
        qarr.crossJoin(row)
        .select(F.col("vec_id").alias(pb), F.explode(F.expr(expr)).alias("_s"))
        .select(F.col("_s._pa").alias(pa), pb, F.col("_s._v").alias(val))
        .filter(F.col(pa) != F.col(pb))
    )


def _srp_sign_rows(bits: int, dims: int = 64) -> list:
    """The bits×dims SRP sign matrix, computed driver-side: a pure
    function of (j, d) through the portable md5 hash (no data touches
    it), bit-identical to the old portable_hash64 column expression."""
    import hashlib

    rows = []
    for j in range(bits):
        rarr = []
        for d in range(dims):
            h = int(hashlib.md5(f"srp:{j}:{d}".encode()).hexdigest()[:15], 16)
            rarr.append(1 if h % 2 == 0 else -1)
        rows.append((j, rarr))
    return rows


def _with_srp_sig(df: DataFrame, bits: int) -> DataFrame:
    """Append the SRP bucket signature as a per-row fold over the
    broadcast sign matrix — replaces the d-keyed join + (vec, j) + (vec)
    double aggregate the exploded form needed. Identical values:
    bit j set iff the exact int64 dot with hyperplane j is > 0."""
    spark = df.sparkSession
    srp = spark.createDataFrame(
        _srp_sign_rows(bits), "j bigint, rarr array<bigint>"
    )
    row = F.broadcast(
        srp.agg(F.collect_list(F.struct("j", "rarr")).alias("_srp"))
    )
    expr = (
        "aggregate(_srp, cast(0 as bigint), (acc, p) -> acc + IF("
        + _fold_dot("p.rarr", "qarr")
        + " > 0, shiftleft(cast(1 as bigint), cast(p.j as int)), "
        "cast(0 as bigint)))"
    )
    return df.crossJoin(row).withColumn("srp_sig", F.expr(expr)).drop("_srp")


def _quant_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (vec_id, qarr) milli-quantized integer vectors — the
    shared base every trainer/exact leg derives from. round() here is the
    same HALF_UP SQL round the exploded form used, so q values are
    bit-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    return materialize(
        e.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> cast(round(x * 1000) as bigint))"
            ).alias("qarr"),
        )
    )


# ------------------------------------------------------------------
# Vectorized-native Lloyd training (guide §4.2) — ONE trainer for both
# quantizers: k-means is product quantization with a single subspace as
# wide as the vector. Codebooks are a driver list over subspaces m of
# (cids, C), C the (k, width) centroid rows sorted by cid. Spark
# distributes the corpus and runs ONE map-only mapInPandas pass per
# round; the per-task distance/argmin work runs in exact numpy int64
# over whole batches (no per-element interpreted HOF lambdas), and only
# the (m, cid, d)-grain partial sums cross an exchange. The driver holds
# only the M·k·width codebook per round, never corpus-sized — the
# MLlib-kmeans centroid round-trip.

_KM_CID_BLOCK = 256  # centroid block size for the chunked argmin
_EMB_DIMS = 64  # fixed embedding width (FIXTURES.md): k-means' one subspace


def _np_stack(col):
    """Stack an Arrow list<int64> pandas column into an (n, d) int64
    matrix."""
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.int64) for v in col])


def _nearest_block(Q, C):
    """Exact int64 (dist, index)-lexicographic argmin of rows Q (n, d)
    against centroid rows C (K, d). Centroids are processed in blocks of
    ``_KM_CID_BLOCK`` so per-batch memory stays n×block×d; ties keep the
    EARLIER index because only a strictly smaller distance replaces the
    running best — with centroid rows sorted by cid ascending this is
    the (dist, cid) total order of the SQL window. Returns
    (best_index, best_dist) int64 arrays."""
    import numpy as np

    n = Q.shape[0]
    best_d = None
    best_i = None
    for lo in range(0, C.shape[0], _KM_CID_BLOCK):
        Cb = C[lo : lo + _KM_CID_BLOCK]
        diff = Q[:, None, :] - Cb[None, :, :]
        dist = np.einsum("nkd,nkd->nk", diff, diff)  # exact int64
        bi = np.argmin(dist, axis=1)  # first min -> lowest cid in block
        bd = dist[np.arange(n), bi]
        if best_d is None:
            best_d, best_i = bd, bi + lo
        else:
            upd = bd < best_d
            best_d = np.where(upd, bd, best_d)
            best_i = np.where(upd, bi + lo, best_i)
    return best_i, best_d


def _lloyd_init(qarr: DataFrame, k: int, width: int):
    """Initial codebooks from the first ``k`` vectors (vec_id < k), each
    split into ``width``-wide subspaces — the c0 / pc0 CTEs as driver
    lists."""
    rows = sorted(
        (int(r["vec_id"]), [int(x) for x in r["qarr"]])
        for r in qarr.filter(F.col("vec_id") < k).collect()
    )
    cids = [cid for cid, _ in rows]
    return [
        (cids, [arr[m * width : (m + 1) * width] for _, arr in rows])
        for m in range(len(rows[0][1]) // width)
    ]


def _broadcast_cents(spark: SparkSession, cents):
    """Codebooks as broadcast numpy int64 (cid array, C) pairs."""
    import numpy as np

    return spark.sparkContext.broadcast(
        [
            (np.array(cids, dtype=np.int64), np.array(C, dtype=np.int64))
            for cids, C in cents
        ]
    )


def _lloyd_update(qarr: DataFrame, cents):
    """ONE Lloyd round over all M subspaces as ONE collect: per task,
    the exact numpy argmin per subspace and (m, cid)-grain partial sums;
    one tiny (m, cid, d) aggregate collected and averaged on the driver
    as floor(sum * 1.0 / count) — the same IEEE double division the
    SQL/DuckDB update performs, so centroid values are bit-identical.
    Cells no vector picked drop out, exactly like the join+groupBy
    update. Returns the next codebooks."""
    import math

    bc = _broadcast_cents(qarr.sparkSession, cents)

    def part(it):
        import numpy as np
        import pandas as pd

        cents_l = bc.value
        sums: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            Q = _np_stack(pdf["qarr"])
            for m, (cid_arr, Cn) in enumerate(cents_l):
                D = Cn.shape[1]
                Qm = Q[:, m * D : (m + 1) * D]
                bi, _ = _nearest_block(Qm, Cn)
                for i in np.unique(bi):
                    sel = Qm[bi == i]
                    key = (m, int(cid_arr[i]))
                    s, n = sums.get(key, (np.zeros(D, dtype=np.int64), 0))
                    sums[key] = (
                        s + sel.sum(axis=0, dtype=np.int64),
                        n + len(sel),
                    )
        out = {"m": [], "cid": [], "d": [], "s": [], "n": []}
        for (m, cid), (s, n) in sums.items():
            D = len(s)
            for j in range(D):
                out["m"].append(m)
                out["cid"].append(cid)
                out["d"].append(m * D + j)
                out["s"].append(int(s[j]))
                out["n"].append(n)
        if out["m"]:
            yield pd.DataFrame(out)

    agg = (
        qarr.select("qarr")
        .mapInPandas(
            part, "m bigint, cid bigint, d bigint, s bigint, n bigint"
        )
        .groupBy("m", "cid", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    by_m: dict = {}
    for r in agg:
        by_m.setdefault(r["m"], {}).setdefault(r["cid"], {})[
            r["d"]
        ] = math.floor(r["s"] / r["n"])
    nxt = []
    for m in range(len(cents)):
        per = by_m.get(m, {})
        cids = sorted(per)
        nxt.append((cids, [[per[c][d] for d in sorted(per[c])] for c in cids]))
    return nxt


def _lloyd_train(qarr: DataFrame, k: int, width: int, rounds: int):
    """Fixed-point Lloyd training: ``rounds`` one-pass rounds from
    :func:`_lloyd_init`. Returns (prev, fin) = (c_{R-1}, c_R): the
    caller's assignment pairs with c_{R-1}, exactly like the unrolled
    oracle (a{R} / pa{R} is the argmin vs c{R-1} / pc{R-1})."""
    cents = _lloyd_init(qarr, k, width)
    prev = cents
    for _ in range(rounds):
        prev = cents
        cents = _lloyd_update(qarr, cents)
    return prev, cents


def _lloyd_assign(qarr: DataFrame, cents) -> DataFrame:
    """Map-only final assignment: (vec_id, m, cid, dist) — one row per
    vector and subspace, exact numpy int64 subspace distances in the
    (dist, cid) total order, no shuffle at all."""
    bc = _broadcast_cents(qarr.sparkSession, cents)

    def part(it):
        import numpy as np
        import pandas as pd

        cents_l = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            Q = _np_stack(pdf["qarr"])
            vec = pdf["vec_id"].values
            frames = []
            for m, (cid_arr, Cn) in enumerate(cents_l):
                D = Cn.shape[1]
                bi, bd = _nearest_block(Q[:, m * D : (m + 1) * D], Cn)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": vec,
                            "m": np.full(len(vec), m, dtype=np.int64),
                            "cid": cid_arr[bi],
                            "dist": bd,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return qarr.select("vec_id", "qarr").mapInPandas(
        part, "vec_id bigint, m bigint, cid bigint, dist bigint"
    )


def _cent_frame(spark: SparkSession, cents) -> DataFrame:
    """Codebooks as a typed driver-local relation (LocalTableScan — no
    Python worker to scan it) in the exploded (m, cid, d, cq) shape
    consumers broadcast-join against; d is global (m·width + j)."""
    import numpy as np
    import pandas as pd

    parts = []
    for m, (cids, C) in enumerate(cents):
        C = np.array(C, dtype=np.int64)
        k, D = C.shape
        parts.append(
            pd.DataFrame(
                {
                    "m": np.full(k * D, m, dtype=np.int64),
                    "cid": np.repeat(np.array(cids, dtype=np.int64), D),
                    "d": np.tile(np.arange(D, dtype=np.int64), k) + m * D,
                    "cq": C.ravel(),
                }
            )
        )
    return spark.createDataFrame(
        pd.concat(parts, ignore_index=True),
        "m bigint, cid bigint, d bigint, cq bigint",
    )


def _km_fit(spark: SparkSession, sf_dir: str, qarr: DataFrame | None = None):
    """The coarse-quantizer fit every k-means consumer shares: K =
    max(_KM_K, ceil(N / _KM_TARGET)) (bit-identical to
    ``_km_k_subquery``), the materialized (vec_id, qarr) base, and the
    Lloyd rounds over ONE subspace as wide as the vector. Callers that
    also train PQ pass the same ``qarr`` so the corpus arrays
    materialize once. Returns (qarr, prev, fin) with prev/fin the
    one-subspace codebooks c_{R-1}/c_R."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    k = max(_KM_K, math.ceil(e.count() / _KM_TARGET))
    if qarr is None:
        qarr = _quant_arrays(spark, sf_dir)
    prev, fin = _lloyd_train(qarr, k, _EMB_DIMS, _KM_ROUNDS)
    return qarr, prev, fin


def _km_ctx(spark: SparkSession, sf_dir: str, qarr: DataFrame | None = None):
    """Coarse training + the materialized final (vec_id, cid) assignment
    against c_{R-1}. Returns (qarr, assign, fin)."""
    qarr, prev, fin = _km_fit(spark, sf_dir, qarr)
    assign = materialize(_lloyd_assign(qarr, prev).select("vec_id", "cid"))
    return qarr, assign, fin


def _kmeans_assign(
    spark: SparkSession, sf_dir: str, qarr: DataFrame | None = None
):
    """Milli-quantized vectors + 3-round fixed-point Lloyd assignment —
    the Spark twin of ``_kmeans_ctes()``. Returns (qv, assign,
    centroids): qv = (vec_id, d, q) exploded integer vectors, assign =
    (vec_id, cid) after the final round, centroids = (cid, d, cq).
    Training is the shared Lloyd trainer (:func:`_lloyd_train`) with
    one subspace as wide as the vector: per round ONE map-only pass over
    the materialized (vec_id, qarr) base with exact numpy int64
    distances, only the K·d partial sums crossing an exchange. Values
    match the oracle bit for bit: same quantization, same exact int64
    distances, same (dist, cid) argmin total order, same
    floor-of-double centroid update."""
    qarr, assign, fin = _km_ctx(spark, sf_dir, qarr)
    qv = qarr.select("vec_id", F.posexplode("qarr").alias("d", "q"))
    return qv, assign, _cent_frame(spark, fin).drop("m")


def _km_residual(Q, pC, p2f, fC):
    """Per-batch coarse residual in exact int64: argmin of rows Q
    against c_{R-1} (``pC``, the same pairing the a{R} CTE uses), then
    subtract each row's FINAL c_R centroid (``fC``) through the
    prev→fin index map ``p2f``. Returns (index into c_{R-1}, residual
    rows)."""
    bi, _ = _nearest_block(Q, pC)
    return bi, Q - fC[p2f[bi]]


def _km_residual_bc(spark: SparkSession, prev, fin):
    """Broadcast (cids, C_{R-1}, prev→fin index map, C_R) for
    :func:`_km_residual`."""
    import numpy as np

    [(pc, pC)] = prev
    [(fc, fC)] = fin
    fin_idx = {cid: i for i, cid in enumerate(fc)}
    # c_R is the aggregate of exactly this argmin-vs-c_{R-1} assignment,
    # so every cid the assignment picks has a c_R row; a c_{R-1} cell no
    # vector picked has none — map it to -1, which is never indexed.
    p2f = [fin_idx.get(cid, -1) for cid in pc]
    return spark.sparkContext.broadcast(
        tuple(np.array(a, dtype=np.int64) for a in (pc, pC, p2f, fC))
    )


def _km_ctx_dist(spark: SparkSession, sf_dir: str):
    """Coarse training + ONE materialized (vec_id, cid, d2) frame: the
    final assignment with the exact squared distance to the assigned
    cell's final centroid — what the SemDeDup keep-rule consumes, without
    the corpus-sized (assign ⋈ cent) join and (vec, d)-grain aggregate.
    Returns (qarr, ad)."""
    qarr, prev, fin = _km_fit(spark, sf_dir)
    bc = _km_residual_bc(spark, prev, fin)

    def part(it):
        import numpy as np
        import pandas as pd

        cid_arr, pC, p2f, fC = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            bi, R = _km_residual(_np_stack(pdf["qarr"]), pC, p2f, fC)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "cid": cid_arr[bi],
                    "d2": np.einsum("nd,nd->n", R, R),
                }
            )

    ad = materialize(
        qarr.select("vec_id", "qarr").mapInPandas(
            part, "vec_id bigint, cid bigint, d2 bigint"
        )
    )
    return qarr, ad


def _km_residual_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer residual vectors as arrays — the ``rqv`` CTE in
    one map-only pass. Used by the residual PQ training in
    queries/ivfpq.py."""
    qarr, prev, fin = _km_fit(spark, sf_dir)
    bc = _km_residual_bc(spark, prev, fin)

    def part(it):
        import pandas as pd

        _, pC, p2f, fC = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            _, R = _km_residual(_np_stack(pdf["qarr"]), pC, p2f, fC)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "qarr": list(R)}
            )

    return materialize(
        qarr.select("vec_id", "qarr").mapInPandas(
            part, "vec_id bigint, qarr array<bigint>"
        )
    )


def _kmeans_ctes() -> str:
    """Unrolled fixed-point k-means rounds as CTEs (pagerank idiom:
    integer arithmetic makes an iterative algorithm hash-verifiable).
    Shared by ml_kmeans_fixed_point and emb_ann_recall_report — the
    final assignment CTE is ``a{_KM_ROUNDS}``."""
    step = """
d{i} AS (SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS dist
         FROM qv v JOIN c{p} c ON v.d = c.d GROUP BY v.vec_id, c.cid),
a{i} AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
           FROM d{i}) t WHERE rn = 1),
c{i} AS (SELECT a.cid, v.d, floor(sum(v.q) * 1.0 / count(*))::BIGINT AS cq
         FROM a{i} a JOIN qv v ON a.vec_id = v.vec_id GROUP BY a.cid, v.d)"""
    rounds = ",".join(step.format(i=i, p=i - 1) for i in range(1, _KM_ROUNDS + 1))
    return f"""qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       c0 AS (SELECT vec_id AS cid, d, q AS cq FROM qv
              WHERE vec_id < {_km_k_subquery()}),
       {rounds}"""


def _kmeans_sql() -> str:
    return f"""WITH {_kmeans_ctes()}
       SELECT a.cid, count(DISTINCT a.vec_id) AS n_members,
              min(cs.checksum)::BIGINT AS centroid_checksum
       FROM a{_KM_ROUNDS} a
       JOIN (SELECT cid, sum(cq) AS checksum FROM c{_KM_ROUNDS} GROUP BY cid) cs
         ON cs.cid = a.cid
       GROUP BY a.cid
       ORDER BY a.cid"""


@q("ml_kmeans_fixed_point", _kmeans_sql())
def ml_kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (corpus-scaled K = max(4, ceil(N/512)) so cell
    size targets ~512 vectors at any corpus size; 3 synchronous Lloyd
    rounds) over the
    embedding corpus in exact integer fixed-point — the iterative-ML
    counterpart of graph_pagerank_copurchase: milli-unit quantization,
    squared-integer distances, floor-average centroid updates, and a
    deterministic (dist, cid) argmin make every round bit-reproducible,
    so the DuckDB oracle unrolls the rounds as CTEs and matches the hash.
    Per round: one broadcast of k·dim centroid cells against the
    posexploded corpus, one (vec, cid) partial-aggregated distance
    groupBy, one argmin window, one centroid groupBy — all linear in
    corpus size, centroids re-materialized per round (reliable
    checkpoint when a dir is configured — operators/materialize.py) so
    the plan never deepens and rounds survive executor loss.
    This is the scale shape of IVF coarse-quantizer training
    (operators/similarity.py uses the float version; this is its
    hash-checkable twin)."""
    qv, assign, centroids = _kmeans_assign(spark, sf_dir)
    checks = centroids.groupBy("cid").agg(F.sum("cq").alias("centroid_checksum"))
    return (
        assign.groupBy("cid")
        .agg(F.countDistinct("vec_id").alias("n_members"))
        .join(F.broadcast(checks), "cid")
        .select("cid", "n_members", "centroid_checksum")
        .orderBy("cid")
    )


_ANN_PROBE_MOD = 23
_ANN_TOPK = 10


def _ann_recall_sql() -> str:
    return f"""WITH {_kmeans_ctes()},
       dots AS (
         SELECT p.vec_id AS pa, v.vec_id AS pb, sum(p.q * v.q)::BIGINT AS dot
         FROM qv p JOIN qv v ON p.d = v.d AND p.vec_id != v.vec_id
         WHERE p.vec_id % {_ANN_PROBE_MOD} = 0
         GROUP BY 1, 2),
       gt AS (
         SELECT pa, pb FROM (
           SELECT pa, pb, row_number() OVER (PARTITION BY pa
                                             ORDER BY dot DESC, pb) AS rn
           FROM dots) t WHERE rn <= {_ANN_TOPK}),
       cand AS (
         SELECT d.pa, d.pb, d.dot
         FROM dots d
         JOIN a{_KM_ROUNDS} x ON x.vec_id = d.pa
         JOIN a{_KM_ROUNDS} y ON y.vec_id = d.pb AND y.cid = x.cid),
       ann AS (
         SELECT pa, pb FROM (
           SELECT pa, pb, row_number() OVER (PARTITION BY pa
                                             ORDER BY dot DESC, pb) AS rn
           FROM cand) t WHERE rn <= {_ANN_TOPK}),
       hits AS (
         SELECT g.pa, count(*)::BIGINT AS h
         FROM gt g JOIN ann a ON a.pa = g.pa AND a.pb = g.pb
         GROUP BY g.pa),
       nc AS (SELECT pa, count(*)::BIGINT AS n_cand FROM cand GROUP BY pa),
       probes AS (
         SELECT vec_id AS pa, cid FROM a{_KM_ROUNDS}
         WHERE vec_id % {_ANN_PROBE_MOD} = 0)
       SELECT p.cid, count(*)::BIGINT AS n_probes,
              sum(coalesce(h.h, 0))::BIGINT AS n_hits,
              round(sum(coalesce(h.h, 0))::DOUBLE
                    / ({_ANN_TOPK} * count(*)), 6) AS recall_at_{_ANN_TOPK},
              round(sum(coalesce(nc.n_cand, 0))::DOUBLE / count(*), 6)
                AS avg_candidates
       FROM probes p
       LEFT JOIN hits h ON h.pa = p.pa
       LEFT JOIN nc ON nc.pa = p.pa
       GROUP BY p.cid ORDER BY p.cid"""


@q("emb_ann_recall_report", _ann_recall_sql())
def emb_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN recall audit — the embedding twin of llm_lsh_recall_report:
    for a deterministic probe subset (vec_id % 23), compare nprobe=1
    IVF search (candidates = the probe's own k-means cell, from the SAME
    fixed-point assignment ml_kmeans_fixed_point trains) against exact
    max-inner-product top-10 over the whole corpus, reporting per-cell
    recall@10 and the candidate-scan fraction — the dial that says
    whether the coarse quantizer needs more cells or more probes BEFORE
    anyone ships a bad index. Ranking uses integer milli-unit dot
    products with a (dot DESC, id) total order, so every rank — and
    therefore the recall itself — is exact 64-bit arithmetic on both
    engines; no float enters until the final two ratio columns. Scale:
    ground truth is O(probes·N·dim) — priced by the probe stride, the
    same sampled-slice trick the LSH recall audit uses; the IVF lane is
    linear in cell size."""
    qv, assign, _ = _kmeans_assign(spark, sf_dir)
    probes_qv = qv.filter(F.col("vec_id") % _ANN_PROBE_MOD == 0)
    dots = (
        probes_qv.alias("p")
        .join(qv.alias("v"), (F.col("p.d") == F.col("v.d"))
              & (F.col("p.vec_id") != F.col("v.vec_id")))
        .groupBy(
            F.col("p.vec_id").alias("pa"), F.col("v.vec_id").alias("pb")
        )
        .agg(F.sum(F.col("p.q") * F.col("v.q")).alias("dot"))
    )
    dots = materialize(dots)
    w = Window.partitionBy("pa").orderBy(F.col("dot").desc(), "pb")
    gt = (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ANN_TOPK)
        .select("pa", "pb")
    )
    ax = F.broadcast(assign)
    cand = (
        dots.join(ax.alias("x"), F.col("x.vec_id") == F.col("pa"))
        .join(
            ax.alias("y"),
            (F.col("y.vec_id") == F.col("pb"))
            & (F.col("y.cid") == F.col("x.cid")),
        )
        .select("pa", "pb", "dot")
    )
    cand = materialize(cand)
    ann = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ANN_TOPK)
        .select("pa", "pb")
    )
    hits = gt.join(ann, ["pa", "pb"]).groupBy("pa").agg(
        F.count(F.lit(1)).alias("h")
    )
    nc = cand.groupBy("pa").agg(F.count(F.lit(1)).alias("n_cand"))
    probes = assign.filter(F.col("vec_id") % _ANN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pa"), "cid"
    )
    return (
        probes.join(hits, "pa", "left")
        .join(nc, "pa", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(F.coalesce(F.col("h"), F.lit(0))).alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("h"), F.lit(0))).cast("double")
                / (F.lit(_ANN_TOPK) * F.count(F.lit(1))),
                6,
            ).alias(f"recall_at_{_ANN_TOPK}"),
            F.round(
                F.sum(F.coalesce(F.col("n_cand"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_candidates"),
        )
        .orderBy("cid")
    )


_PQ_M_DIMS = 8  # dims per subspace: 64-dim vectors -> M = 8 subspaces
_PQ_K = 4  # codebook size per subspace (2 bits; 8 subspaces pack into 16 bits)
_PQ_ROUNDS = 2


def _pq_train(
    spark: SparkSession, sf_dir: str, qarr: DataFrame | None = None
):
    """Milli-quantized subspace vectors + fixed-point PQ codebook training —
    the shared Lloyd trainer (:func:`_lloyd_train`) over M subspaces of
    ``_PQ_M_DIMS``, all M codebooks per round in ONE map-only pass (guide
    §4.2: exact numpy int64 inside the batch, only the M·k·d partial sums
    cross an exchange). Shared by the emb_pq_* family and
    queries/ivfpq.py. Returns (qv, assign, cent): qv = (vec_id, d, m, q)
    exploded integer vectors, assign = final-round (vec_id, m, cid, dist)
    code assignments (materialized), cent = final codebooks
    (m, cid, d, cq) as a driver-local relation of M·k·d rows. Values
    match the oracle bit for bit (same argmin total order, same
    floor-of-double update)."""
    if qarr is None:
        qarr = _quant_arrays(spark, sf_dir)
    qv = qarr.select(
        "vec_id", F.posexplode("qarr").alias("d", "q")
    ).select(
        "vec_id",
        "d",
        (F.col("d") / _PQ_M_DIMS).cast("long").alias("m"),
        "q",
    )
    prev, fin = _lloyd_train(qarr, _PQ_K, _PQ_M_DIMS, _PQ_ROUNDS)
    assign = materialize(_lloyd_assign(qarr, prev))
    return qv, assign, _cent_frame(spark, fin)


def _pq_ctes() -> str:
    """Unrolled product-quantization training as CTEs: the ``_kmeans_ctes``
    idiom with a SUBSPACE column m = d div 8 threaded through every step,
    so all M codebooks train in the same relational pass — no per-subspace
    loop on either engine."""
    step = """
pd{i} AS (SELECT v.vec_id, v.m, c.cid,
                 sum((v.q - c.cq) * (v.q - c.cq)) AS dist
          FROM pqv v JOIN pc{p} c ON v.d = c.d AND v.m = c.m
          GROUP BY v.vec_id, v.m, c.cid),
pa{i} AS (SELECT vec_id, m, cid, dist FROM (
            SELECT vec_id, m, cid, dist,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, cid) AS rn
            FROM pd{i}) t WHERE rn = 1),
pc{i} AS (SELECT a.m, a.cid, v.d,
                 floor(sum(v.q) * 1.0 / count(*))::BIGINT AS cq
          FROM pa{i} a JOIN pqv v ON a.vec_id = v.vec_id AND a.m = v.m
          GROUP BY a.m, a.cid, v.d)"""
    rounds = ",".join(
        step.format(i=i, p=i - 1) for i in range(1, _PQ_ROUNDS + 1)
    )
    return f"""pqv AS (
         SELECT vec_id,
                unnest(generate_series(0, len(embedding) - 1)) AS d,
                unnest(generate_series(0, len(embedding) - 1)) // {_PQ_M_DIMS} AS m,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       pc0 AS (SELECT m, vec_id AS cid, d, q AS cq
               FROM pqv WHERE vec_id < {_PQ_K}),
       {rounds}"""


def _pq_sql() -> str:
    return f"""WITH {_pq_ctes()},
       codes AS (
         SELECT vec_id,
                sum(cid * power({_PQ_K}, m)::BIGINT)::BIGINT AS packed_code,
                sum(dist)::BIGINT AS q_err
         FROM pa{_PQ_ROUNDS} GROUP BY vec_id)
       SELECT packed_code, count(*) AS n_vecs,
              round(sum(q_err)::DOUBLE / count(*), 6) AS avg_q_err
       FROM codes GROUP BY packed_code
       ORDER BY n_vecs DESC, packed_code LIMIT 20"""


@q("emb_pq_codes", _pq_sql())
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the industry-standard ANN compression tier
    (IVF-PQ): each 64-dim vector splits into 8 contiguous 8-dim
    subvectors, each subspace trains its own k=4 codebook by
    fixed-point Lloyd rounds, and a vector's code packs the 8 subspace
    assignments into one integer (2 bits each). Reported: the top-20
    packed codes by population with their mean quantization error —
    the codebook-health table (one dominant code = dead codebooks;
    error trend = how lossy the compression is). Determinism is the
    ``ml_kmeans_fixed_point`` contract (milli-unit integers, exact
    squared distances, floor-average centroid updates, (dist, cid)
    argmin) with the SUBSPACE as an extra grouping column, so all 8
    codebooks train in the same relational pass — no per-subspace loop,
    and the DuckDB oracle unrolls identically. Scale: per round one
    broadcast of M·k·(d/M) = k·d centroid cells against the exploded
    corpus and two partial-agg shuffles keyed by (vec, m) / (m, cid) —
    linear in corpus size; codes pack map-side."""
    qv, assign, cent = _pq_train(spark, sf_dir)
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
            F.round(F.sum("q_err").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_q_err"
            ),
        )
        .orderBy(F.col("n_vecs").desc(), "packed_code")
        .limit(20)
    )


# Probe stride for the ADC/recall audits: vec_id % stride == 0. _ADC_STRIDE
# is the FIXTURE FLOOR; the effective stride is corpus-scaled so the probe
# set stays ~_ADC_PROBE_TARGET queries at ANY corpus size — the exact-truth
# legs of the recall reports cost probes x N pairs, so a fixed stride makes
# them quadratic (r12 10x-lane: alpha10 0.67-0.71 for nprobe2/recall_report
# before this). At sf0.01 (N=500, 17 probes) and sf0.1 (N=2000, 65 probes)
# the clamp keeps stride=31, so fixture hashes are unchanged; at the sf1.0
# lane (N=20000) stride=308 and the probe set is 65 again.
_ADC_STRIDE = 31
_ADC_PROBE_TARGET = 65
_ADC_TOPK = 3


def _adc_stride_subquery() -> str:
    """Scalar-subquery form of the corpus-scaled probe stride for oracle
    CTEs — must stay bit-identical to ``_adc_stride``."""
    return (
        f"(SELECT greatest({_ADC_STRIDE}, ceil(count(*) / {_ADC_PROBE_TARGET}.0))"
        "::BIGINT FROM embeddings)"
    )


def _adc_stride(spark: SparkSession, sf_dir: str) -> int:
    """Spark-side corpus-scaled probe stride (one parquet-metadata count)."""
    import math

    n = load_table(spark, sf_dir, "embeddings").count()
    return max(_ADC_STRIDE, math.ceil(n / _ADC_PROBE_TARGET))


def _pq_adc_sql() -> str:
    return f"""WITH {_pq_ctes()},
       probes AS (SELECT * FROM pqv WHERE vec_id % {_adc_stride_subquery()} = 0),
       t AS (
         SELECT p.vec_id AS probe_id, p.m, c.cid,
                sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS sub_d2
         FROM probes p JOIN pc{_PQ_ROUNDS} c ON p.d = c.d AND p.m = c.m
         GROUP BY 1, 2, 3),
       adc AS (
         SELECT t.probe_id, a.vec_id AS neighbor_id,
                sum(t.sub_d2)::BIGINT AS adc_d2
         FROM pa{_PQ_ROUNDS} a JOIN t ON a.m = t.m AND a.cid = t.cid
         WHERE a.vec_id <> t.probe_id
         GROUP BY 1, 2),
       ranked AS (
         SELECT probe_id, neighbor_id, adc_d2,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY adc_d2, neighbor_id) AS rnk
         FROM adc)
       SELECT probe_id, rnk, neighbor_id, adc_d2
       FROM ranked WHERE rnk <= {_ADC_TOPK}
       ORDER BY probe_id, rnk"""


@q("emb_pq_adc_topk", _pq_adc_sql())
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ codes — the
    query half of IVF-PQ: each probe computes one k×M table of exact
    subspace distances to the codebook centroids, and every corpus
    vector is then scored by LOOKUP ONLY (Σ over its 8 code entries) —
    the probe never touches raw corpus vectors. All distances are exact
    int64 (milli-unit fixed point, the emb_pq_codes contract), the
    ranking carries a (distance, neighbor_id) total order, and the
    oracle reuses the same unrolled training CTEs. Scale: the lookup
    table is probes×k×M rows (tiny, broadcast); scoring joins the
    N·M code table against it on (m, cid) and partial-aggregates to
    (probe, vector) — linear in corpus size per probe, the exact
    economics that make PQ search cheap at 10⁹ vectors."""
    qv, assign, cent = _pq_train(spark, sf_dir)
    assign = assign.select("vec_id", "m", "cid")
    probes = qv.filter(F.col("vec_id") % _adc_stride(spark, sf_dir) == 0)
    t = (
        probes.join(F.broadcast(cent), ["d", "m"])
        .groupBy(F.col("vec_id").alias("probe_id"), "m", "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("sub_d2")
        )
    )
    adc = (
        assign.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(t), ["m", "cid"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(F.sum("sub_d2").alias("adc_d2"))
    )
    w2 = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= _ADC_TOPK)
        .select("probe_id", "rnk", "neighbor_id", "adc_d2")
        .orderBy("probe_id", "rnk")
    )

_PQR_TOPK = 10


def _pq_recall_sql() -> str:
    return f"""WITH {_pq_ctes()},
       probes AS (SELECT * FROM pqv WHERE vec_id % {_adc_stride_subquery()} = 0),
       t AS (
         SELECT p.vec_id AS probe_id, p.m, c.cid,
                sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS sub_d2
         FROM probes p JOIN pc{_PQ_ROUNDS} c ON p.d = c.d AND p.m = c.m
         GROUP BY 1, 2, 3),
       adc AS (
         SELECT t.probe_id, a.vec_id AS neighbor_id,
                sum(t.sub_d2)::BIGINT AS adc_d2
         FROM pa{_PQ_ROUNDS} a JOIN t ON a.m = t.m AND a.cid = t.cid
         WHERE a.vec_id <> t.probe_id
         GROUP BY 1, 2),
       adc_top AS (
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
         SELECT e.probe_id, count(a.neighbor_id) AS n_hits
         FROM exact_top e
         LEFT JOIN adc_top a
           ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.probe_id)
       SELECT probe_id, n_hits,
              round(n_hits::DOUBLE / {_PQR_TOPK}, 6) AS recall_at_{_PQR_TOPK}
       FROM hits ORDER BY probe_id"""


@q("emb_pq_recall_report", _pq_recall_sql())
def emb_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance search against EXACT top-10 —
    the audit that prices the PQ tier before anyone trusts it (the
    emb_ann_recall_report idiom applied to the compression codebooks
    instead of the IVF cells): per stride-sampled probe, how many of the
    true 10 nearest neighbors survive in the ADC top-10. Both lanes are
    exact int64 (milli-unit distances, (dist, id) total orders), so the
    hit counts are engine-identical; ground truth is priced by the probe
    stride (O(probes·N·d)) exactly like the LSH/IVF recall audits.
    Low recall here says 'train bigger codebooks or more subspaces'
    BEFORE the index ships — the go/no-go table for the 100 TB ANN
    path."""
    qv, assign, cent = _pq_train(spark, sf_dir)
    assign = assign.select("vec_id", "m", "cid")
    probes = materialize(qv.filter(F.col("vec_id") % _adc_stride(spark, sf_dir) == 0))
    t = (
        probes.join(F.broadcast(cent), ["d", "m"])
        .groupBy(F.col("vec_id").alias("probe_id"), "m", "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("sub_d2")
        )
    )
    adc = (
        assign.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(t), ["m", "cid"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(F.sum("sub_d2").alias("adc_d2"))
    )
    w_adc = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
    adc_top = (
        adc.withColumn("rnk", F.row_number().over(w_adc))
        .filter(F.col("rnk") <= _PQR_TOPK)
        .select("probe_id", "neighbor_id")
    )
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
            adc_top.alias("a"),
            (F.col("a.probe_id") == F.col("e.probe_id"))
            & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.probe_id").alias("probe_id"))
        .agg(F.count(F.col("a.neighbor_id")).alias("n_hits"))
    )
    return hits.select(
        "probe_id",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / _PQR_TOPK, 6).alias(
            f"recall_at_{_PQR_TOPK}"
        ),
    ).orderBy("probe_id")


_SRP_BITS = 16


@q(
    "emb_srp_buckets",
    f"""WITH proj AS (
         SELECT j.j, d.d,
                CASE WHEN ('0x' || substring(md5('srp:' || j.j::VARCHAR
                            || ':' || d.d::VARCHAR), 1, 15))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END AS r
         FROM (SELECT unnest(generate_series(0, {_SRP_BITS - 1})) AS j) j,
              (SELECT unnest(generate_series(0, 63)) AS d) d),
       qv AS (SELECT vec_id,
                     unnest(generate_series(0, len(embedding) - 1)) AS d,
                     round(unnest(embedding) * 1000)::BIGINT AS q
              FROM embeddings),
       dots AS (SELECT v.vec_id, p.j, sum(v.q * p.r)::BIGINT AS dot
                FROM qv v JOIN proj p ON p.d = v.d GROUP BY 1, 2),
       sig AS (SELECT vec_id,
                      sum(CASE WHEN dot > 0
                               THEN power(2, j)::BIGINT ELSE 0 END)::BIGINT
                        AS srp_sig
               FROM dots GROUP BY 1),
       per AS (SELECT s.srp_sig, e.label, count(*) AS c
               FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id
               GROUP BY 1, 2),
       b AS (SELECT srp_sig, sum(c)::BIGINT AS n_vecs,
                    count(*)::BIGINT AS n_labels, max(c)::BIGINT AS top_c
             FROM per GROUP BY 1)
       SELECT srp_sig, n_vecs, n_labels,
              round(top_c * 1.0 / n_vecs, 6) AS top_label_share
       FROM b ORDER BY n_vecs DESC, srp_sig LIMIT 20""",
)
def emb_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection (SRP) cosine-LSH over the embedding corpus —
    the hyperplane-hashing ANN tier that complements IVF (llm_cosine_ivf)
    and PQ: bit j of a vector's signature is the sign of its dot product
    with pseudo-random hyperplane r_j, so vectors at small cosine angle
    share most bits and bucket together. The 'random' hyperplanes are
    ±1 entries derived from the portable md5 hash (the minhash-oracle
    idiom), so both engines build bit-identical signatures; dot products
    are exact int64 on milli-unit vectors (sign can't flip). Reported:
    the top-20 buckets with their label purity — high top_label_share
    means the 16 hyperplanes already separate the label structure, the
    go-signal for SRP candidate generation. Scale: signatures are ONE
    broadcast join (16x64 = 1024 projection cells) + a (vec, j) partial
    agg — linear in corpus, and bucketing is then a free groupBy; the
    production path swaps md5 for xxhash64."""
    e = load_table(spark, sf_dir, "embeddings")
    from hawaiidatapipeline_spark.operators.dedup import portable_hash64

    proj = (
        spark.range(_SRP_BITS)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(64).select(F.col("id").alias("d")))
        .select(
            "j",
            "d",
            F.when(
                portable_hash64(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("d").cast("string"),
                    ),
                    "srp",
                )
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("r"),
        )
    )
    qv = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select("vec_id", "d", F.round(F.col("x") * 1000).cast("long").alias("q"))
    dots = (
        qv.join(F.broadcast(proj), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("q") * F.col("r")).alias("dot"))
    )
    sig = dots.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dot") > 0, F.pow(F.lit(2), F.col("j")).cast("long")
            ).otherwise(0)
        ).alias("srp_sig")
    )
    per = (
        sig.join(e.select("vec_id", "label"), "vec_id")
        .groupBy("srp_sig", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.groupBy("srp_sig")
        .agg(
            F.sum("c").alias("n_vecs"),
            F.count(F.lit(1)).alias("n_labels"),
            F.max("c").alias("top_c"),
        )
        .select(
            "srp_sig",
            "n_vecs",
            "n_labels",
            F.round(F.col("top_c") * 1.0 / F.col("n_vecs"), 6).alias(
                "top_label_share"
            ),
        )
        .orderBy(F.col("n_vecs").desc(), "srp_sig")
        .limit(20)
    )


_MRL_TIERS = (8, 16, 32)


def _matryoshka_sql() -> str:
    tiers_dots = ",\n              ".join(
        f"sum(CASE WHEN p.d < {t} THEN p.q * c.q ELSE 0 END)::BIGINT AS dot{t}"
        for t in _MRL_TIERS
    )
    top = "\n       ".join(
        f"""t{t} AS (SELECT pid, cid FROM (
             SELECT pid, cid, row_number() OVER (PARTITION BY pid
                      ORDER BY dot{t} DESC, cid) AS rn FROM dots) q
           WHERE rn <= 10),"""
        for t in _MRL_TIERS
    )
    unions = "\n       UNION ALL ".join(
        f"""SELECT {t} AS dims, np.n_probes,
              round(count(*)::DOUBLE / (10 * np.n_probes), 6) AS recall_at_10
       FROM t{t} JOIN tfull USING (pid, cid) CROSS JOIN np
       GROUP BY np.n_probes"""
        for t in _MRL_TIERS
    )
    return f"""WITH qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       p AS (SELECT * FROM qv WHERE vec_id % 23 = 0),
       dots AS (
         SELECT p.vec_id AS pid, c.vec_id AS cid,
              {tiers_dots},
              sum(p.q * c.q)::BIGINT AS dotfull
         FROM p JOIN qv c ON p.d = c.d AND c.vec_id <> p.vec_id
         GROUP BY 1, 2),
       {top}
       tfull AS (SELECT pid, cid FROM (
             SELECT pid, cid, row_number() OVER (PARTITION BY pid
                      ORDER BY dotfull DESC, cid) AS rn FROM dots) q
           WHERE rn <= 10),
       np AS (SELECT count(DISTINCT pid)::BIGINT AS n_probes FROM dots)
       {unions}
       ORDER BY dims"""


@q("emb_matryoshka_recall", _matryoshka_sql())
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: recall@10 of nearest-neighbor search
    when the embedding is cut to its first 8/16/32 dims, against full-width
    ground truth — the evaluation run before shipping truncated vectors to
    a cheaper index tier (MRL-trained models should hold recall at half
    width; a collapse says the model packs no information order into its
    dims). Dot products are exact integer milli-unit sums, ranks use the
    (dot DESC, id) total order, and recall is a ratio of exact counts —
    the emb_ann_recall_report determinism recipe. ALL tier dots come from
    ONE probe×corpus join pass (conditional sums over the dim index), so
    auditing 3 tiers costs the same scan as auditing one; at 100 TB the
    probe set is the strided audit slice and the corpus side streams."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "v")
    ).select("vec_id", "d", F.round(F.col("v") * 1000).cast("long").alias("q"))
    p = qv.filter(F.col("vec_id") % 23 == 0)
    prod = F.col("p.q") * F.col("c.q")
    dots = (
        p.alias("p")
        .join(
            qv.alias("c"),
            (F.col("p.d") == F.col("c.d"))
            & (F.col("c.vec_id") != F.col("p.vec_id")),
        )
        .groupBy(
            F.col("p.vec_id").alias("pid"), F.col("c.vec_id").alias("cid")
        )
        .agg(
            *[
                F.sum(F.when(F.col("p.d") < t, prod).otherwise(0))
                .cast("long")
                .alias(f"dot{t}")
                for t in _MRL_TIERS
            ],
            F.sum(prod).cast("long").alias("dotfull"),
        )
    )
    # one probe×corpus pass feeds every tier; localCheckpoint so the 4
    # ranking branches don't re-run the join
    dots = dots.localCheckpoint(eager=True)

    def top10(col: str) -> DataFrame:
        w = Window.partitionBy("pid").orderBy(F.col(col).desc(), "cid")
        return (
            dots.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("pid", "cid")
        )

    tfull = top10("dotfull")
    np_ = dots.agg(F.count_distinct("pid").alias("n_probes"))
    outs = []
    for t in _MRL_TIERS:
        overlap = top10(f"dot{t}").join(tfull, ["pid", "cid"])
        outs.append(
            overlap.crossJoin(F.broadcast(np_))
            .groupBy("n_probes")
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(
                F.lit(t).alias("dims"),
                F.col("n_probes"),
                F.round(
                    F.col("hits").cast("double") / (10 * F.col("n_probes")), 6
                ).alias("recall_at_10"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("dims")


@q(
    "emb_hard_negatives",
    """WITH qv AS (
         SELECT vec_id, label,
                unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       p AS (SELECT * FROM qv WHERE vec_id % 23 = 0),
       dots AS (
         SELECT p.vec_id AS pid, p.label AS p_label,
                c.vec_id AS cid, c.label AS c_label,
                sum(p.q * c.q)::BIGINT AS dot_q
         FROM p JOIN qv c ON p.d = c.d AND c.vec_id <> p.vec_id
         WHERE c.label <> p.label
         GROUP BY 1, 2, 3, 4),
       ranked AS (
         SELECT pid, p_label, cid, c_label AS neg_label, dot_q,
                row_number() OVER (PARTITION BY pid
                                   ORDER BY dot_q DESC, cid) AS rn
         FROM dots)
       SELECT pid, p_label, rn, cid AS neg_id, neg_label, dot_q
       FROM ranked WHERE rn <= 5
       ORDER BY pid, rn""",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training: for each (strided)
    probe, the top-5 most-similar vectors with a DIFFERENT label — the
    near-misses a contrastive trainer should sample instead of random
    negatives (random ones are trivially far and teach nothing). The
    label filter sits INSIDE the pair generation, so same-label pairs
    never materialize; similarity is the exact integer milli-unit dot
    with the (dot DESC, id) total order — every emitted rank hash-stable.
    Scale note: at 10⁹ vectors the probe set is the training batch and
    the corpus side streams through the same blocked-GEMM/IVF tiers as
    search; the relational form here is the exact-oracle fixture tier."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("d", "v")
    ).select(
        "vec_id", "label", "d", F.round(F.col("v") * 1000).cast("long").alias("q")
    )
    p = qv.filter(F.col("vec_id") % 23 == 0)
    dots = (
        p.alias("p")
        .join(
            qv.alias("c"),
            (F.col("p.d") == F.col("c.d"))
            & (F.col("c.vec_id") != F.col("p.vec_id"))
            & (F.col("c.label") != F.col("p.label")),
        )
        .groupBy(
            F.col("p.vec_id").alias("pid"),
            F.col("p.label").alias("p_label"),
            F.col("c.vec_id").alias("cid"),
            F.col("c.label").alias("neg_label"),
        )
        .agg(F.sum(F.col("p.q") * F.col("c.q")).cast("long").alias("dot_q"))
    )
    w = Window.partitionBy("pid").orderBy(F.col("dot_q").desc(), "cid")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("pid", "p_label", "rn", F.col("cid").alias("neg_id"), "neg_label", "dot_q")
        .orderBy("pid", "rn")
    )


@q(
    "dq_embedding_drift",
    """WITH qv AS (
         SELECT vec_id, label, vec_id % 2 AS gen,
                unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       cent AS (
         SELECT label, gen, d, sum(q)::BIGINT AS sq, count(*)::BIGINT AS n
         FROM qv GROUP BY 1, 2, 3),
       joined AS (
         SELECT o.label, o.d,
                o.sq::DOUBLE / o.n AS c_old, n2.sq::DOUBLE / n2.n AS c_new,
                o.n AS n_old, n2.n AS n_new
         FROM cent o JOIN cent n2
           ON o.label = n2.label AND o.d = n2.d
          AND o.gen = 0 AND n2.gen = 1),
       terms AS (
         SELECT label, n_old, n_new,
                (floor((c_old - c_new) * (c_old - c_new) * 1000000))::BIGINT
                  AS t_micro
         FROM joined)
       SELECT label, min(n_old)::BIGINT AS n_old, min(n_new)::BIGINT AS n_new,
              round(sqrt(sum(t_micro)::DOUBLE / 1000000.0) / 1000.0, 6)
                AS centroid_drift
       FROM terms GROUP BY label ORDER BY label""",
)
def dq_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: per-label centroid displacement between two
    data generations (split by vec_id parity here; in production, by
    ingestion batch) — the data-quality gate that catches a silently
    retrained or re-normalized upstream encoder before stale vectors
    poison an ANN index built on the old geometry. Per-dim centroid sums
    are exact integer milli-unit aggregates; each squared-difference term
    is micro-floored before the 64-dim sum, and only the final sqrt runs
    in doubles. Scale note: ONE partial-aggregated shuffle on (label,
    gen, dim) — output cardinality |labels|·2·d regardless of corpus
    size; the drift arithmetic runs on that tiny frame."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("gen"),
        F.posexplode("embedding").alias("d", "v"),
    ).select(
        "label", "gen", "d", F.round(F.col("v") * 1000).cast("long").alias("q")
    )
    cent = qv.groupBy("label", "gen", "d").agg(
        F.sum("q").cast("long").alias("sq"), F.count(F.lit(1)).cast("long").alias("n")
    )
    o = cent.filter(F.col("gen") == 0).select(
        "label",
        "d",
        (F.col("sq").cast("double") / F.col("n")).alias("c_old"),
        F.col("n").alias("n_old"),
    )
    n2 = cent.filter(F.col("gen") == 1).select(
        "label",
        "d",
        (F.col("sq").cast("double") / F.col("n")).alias("c_new"),
        F.col("n").alias("n_new"),
    )
    diff = F.col("c_old") - F.col("c_new")
    terms = o.join(n2, ["label", "d"]).select(
        "label",
        "n_old",
        "n_new",
        F.floor(diff * diff * 1000000).cast("long").alias("t_micro"),
    )
    return (
        terms.groupBy("label")
        .agg(
            F.min("n_old").cast("long").alias("n_old"),
            F.min("n_new").cast("long").alias("n_new"),
            F.round(
                F.sqrt(F.sum("t_micro").cast("double") / 1000000.0) / 1000.0, 6
            ).alias("centroid_drift"),
        )
        .orderBy("label")
    )


_HAM_PROBE_MOD = 97  # strided probe subset for the Hamming k-NN audit
_HAM_K = 5


@q(
    "emb_hamming_topk",
    f"""WITH sig AS (
         SELECT vec_id,
                list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i + 1] > 0
                              THEN (1::BIGINT << i) ELSE 0::BIGINT END)
                  )::BIGINT AS lo,
                list_sum(list_transform(range(32, 64),
                    i -> CASE WHEN embedding[i + 1] > 0
                              THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END)
                  )::BIGINT AS hi
         FROM embeddings),
       probes AS (SELECT * FROM sig WHERE vec_id % {_HAM_PROBE_MOD} = 0),
       scored AS (
         SELECT p.vec_id AS probe_id, s.vec_id AS neighbor_id,
                (bit_count(xor(p.lo, s.lo))
                 + bit_count(xor(p.hi, s.hi)))::BIGINT AS hamming
         FROM probes p JOIN sig s ON s.vec_id <> p.vec_id),
       ranked AS (
         SELECT probe_id, neighbor_id, hamming,
                row_number() OVER (PARTITION BY probe_id
                                   ORDER BY hamming, neighbor_id) AS rk
         FROM scored)
       SELECT probe_id, neighbor_id, hamming, rk
       FROM ranked WHERE rk <= {_HAM_K}
       ORDER BY probe_id, rk""",
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-quantized Hamming k-NN: each 64-dim float vector
    collapses to a 64-bit sign signature (two packed 32-bit halves so
    neither engine's int64 arithmetic can overflow while summing bit
    values), and nearest neighbors are retrieved by popcount of the
    XOR — the 32×-compression retrieval tier (256 B float32 → 8 B)
    that makes a billion-vector index RAM-resident. Signatures are
    exact integers, distances exact popcounts, ranks total-ordered by
    (hamming, neighbor_id): fully hash-checkable. Shape: ONE map-only
    pass builds the signature table (pure codegen transform/aggregate,
    no UDF); the strided probe rows broadcast against it, so the scan
    is linear and nothing pair-shaped shuffles (ranking is per-probe,
    k-bounded). At 100 TB the signature table is the thing you scan —
    32× less I/O than the raw vectors — and ``emb_srp_buckets``-style
    banding prunes candidates below linear when even that is too much."""
    e = load_table(spark, sf_dir, "embeddings")

    def half(lo_bit: int) -> F.Column:
        return F.expr(
            f"aggregate(transform(sequence({lo_bit}, {lo_bit + 31}), "
            f"i -> IF(element_at(embedding, i + 1) > 0, "
            f"shiftleft(1L, i - {lo_bit}), 0L)), 0L, (a, b) -> a + b)"
        )

    sig = materialize(
        e.select(
            "vec_id", half(0).alias("lo"), half(32).alias("hi")
        )
    )
    probes = sig.filter(F.col("vec_id") % _HAM_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
    )
    scored = F.broadcast(probes).join(
        sig, F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.expr("p_lo ^ lo")) + F.bit_count(F.expr("p_hi ^ hi"))
        )
        .cast("long")
        .alias("hamming"),
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HAM_K)
        .orderBy("probe_id", "rk")
    )


@q(
    "emb_hamming_recall_report",
    f"""WITH qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       sig AS (
         SELECT vec_id,
                list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i + 1] > 0
                              THEN (1::BIGINT << i) ELSE 0::BIGINT END)
                  )::BIGINT AS lo,
                list_sum(list_transform(range(32, 64),
                    i -> CASE WHEN embedding[i + 1] > 0
                              THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END)
                  )::BIGINT AS hi
         FROM embeddings),
       probes AS (SELECT * FROM sig WHERE vec_id % {_HAM_PROBE_MOD} = 0),
       ham AS (
         SELECT pa, pb FROM (
           SELECT p.vec_id AS pa, s.vec_id AS pb,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY bit_count(xor(p.lo, s.lo))
                             + bit_count(xor(p.hi, s.hi)), s.vec_id) AS rn
           FROM probes p JOIN sig s ON s.vec_id <> p.vec_id) t
         WHERE rn <= {_HAM_K}),
       dots AS (
         SELECT p.vec_id AS pa, v.vec_id AS pb, sum(p.q * v.q)::BIGINT AS dot
         FROM qv p JOIN qv v ON p.d = v.d AND p.vec_id <> v.vec_id
         WHERE p.vec_id % {_HAM_PROBE_MOD} = 0
         GROUP BY 1, 2),
       gt AS (
         SELECT pa, pb FROM (
           SELECT pa, pb, row_number() OVER (PARTITION BY pa
                                             ORDER BY dot DESC, pb) AS rn
           FROM dots) t WHERE rn <= {_HAM_K}),
       hits AS (
         SELECT g.pa, count(*)::BIGINT AS h
         FROM gt g JOIN ham a ON a.pa = g.pa AND a.pb = g.pb
         GROUP BY g.pa)
       SELECT g.pa AS probe_id, coalesce(h.h, 0)::BIGINT AS n_hits,
              round(coalesce(h.h, 0)::DOUBLE / {_HAM_K}, 6)
                AS recall_at_{_HAM_K}
       FROM (SELECT DISTINCT pa FROM gt) g
       LEFT JOIN hits h ON h.pa = g.pa
       ORDER BY probe_id""",
)
def emb_hamming_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the binary-Hamming retrieval tier: per strided
    probe, |Hamming top-5 ∩ exact integer-dot top-5| / 5 — the
    quality dial for the 32×-compressed signature scan
    (``emb_hamming_topk``), completing the per-tier audit triangle the
    IVF (emb_ann_recall_report), PQ (emb_pq_recall_report) and
    Matryoshka tiers already have. Every rank on both sides is exact
    integer arithmetic ((hamming, id) and (dot DESC, id) total orders),
    so the recall itself hash-checks. Shape: ground truth is the
    probe-strided GEMM row (priced by the stride, the standard audit
    slice); the Hamming lane is the linear signature scan with
    k-bounded per-probe ranking. At 100 TB you run exactly this audit
    on a sampled probe set before trusting the binary tier."""
    from hawaiidatapipeline_spark.operators.materialize import materialize

    e = load_table(spark, sf_dir, "embeddings")

    def half(lo_bit: int) -> F.Column:
        return F.expr(
            f"aggregate(transform(sequence({lo_bit}, {lo_bit + 31}), "
            f"i -> IF(element_at(embedding, i + 1) > 0, "
            f"shiftleft(1L, i - {lo_bit}), 0L)), 0L, (a, b) -> a + b)"
        )

    sig = materialize(
        e.select("vec_id", half(0).alias("lo"), half(32).alias("hi"))
    )
    probes = sig.filter(F.col("vec_id") % _HAM_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pa"),
        F.col("lo").alias("p_lo"),
        F.col("hi").alias("p_hi"),
    )
    w_h = Window.partitionBy("pa").orderBy("hamming", "pb")
    ham = (
        F.broadcast(probes)
        .join(sig, F.col("vec_id") != F.col("pa"))
        .select(
            "pa",
            F.col("vec_id").alias("pb"),
            (
                F.bit_count(F.expr("p_lo ^ lo"))
                + F.bit_count(F.expr("p_hi ^ hi"))
            ).alias("hamming"),
        )
        .withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= _HAM_K)
        .select("pa", "pb")
    )
    # exact ground-truth dots: map-only broadcast-probes fold (guide §2.4)
    qarr = _quant_arrays(spark, sf_dir)
    dots = materialize(
        _probe_pairs(
            qarr, qarr.filter(F.col("vec_id") % _HAM_PROBE_MOD == 0), "dot"
        )
    )
    w_d = Window.partitionBy("pa").orderBy(F.col("dot").desc(), "pb")
    gt = (
        dots.withColumn("rn", F.row_number().over(w_d))
        .filter(F.col("rn") <= _HAM_K)
        .select("pa", "pb")
    )
    hits = gt.join(ham, ["pa", "pb"]).groupBy("pa").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    return (
        gt.select("pa")
        .distinct()
        .join(hits, "pa", "left")
        .select(
            F.col("pa").alias("probe_id"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("h"), F.lit(0)).cast("double") / _HAM_K, 6
            ).alias(f"recall_at_{_HAM_K}"),
        )
        .orderBy("probe_id")
    )


_MMR_POOL = 12  # relevance candidate pool per probe
_MMR_K = 4  # greedy picks (unrolled rounds)


def _mmr_sql() -> str:
    """Unrolled greedy MMR rounds as CTEs (the kmeans/pagerank idiom:
    bounded iteration → hash-verifiable set-based plan)."""
    pick = """
p{i} AS (
  SELECT pa, pb, rel FROM (
    SELECT c.pa, c.pb, c.rel,
           row_number() OVER (
             PARTITION BY c.pa
             ORDER BY c.rel - (SELECT max(s.sim) FROM sims s
                               JOIN sel{p} x ON x.pa = c.pa
                                AND x.pb = s.b2 AND s.b1 = c.pb) DESC,
                      c.pb) AS rn
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM sel{p} x
                      WHERE x.pa = c.pa AND x.pb = c.pb)) t
  WHERE rn = 1),
sel{i} AS (SELECT pa, pb, {i} AS rk, rel FROM p{i}
           UNION ALL SELECT pa, pb, rk, rel FROM sel{p})"""
    rounds = ",".join(
        pick.format(i=i, p=i - 1) for i in range(2, _MMR_K + 1)
    )
    return f"""WITH qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       dots AS (
         SELECT p.vec_id AS pa, v.vec_id AS pb, sum(p.q * v.q)::BIGINT AS rel
         FROM qv p JOIN qv v ON p.d = v.d AND p.vec_id <> v.vec_id
         WHERE p.vec_id % {_HAM_PROBE_MOD} = 0
         GROUP BY 1, 2),
       cand AS (
         SELECT pa, pb, rel FROM (
           SELECT pa, pb, rel,
                  row_number() OVER (PARTITION BY pa
                                     ORDER BY rel DESC, pb) AS rn
           FROM dots) t WHERE rn <= {_MMR_POOL}),
       sims AS (
         SELECT a.pa, a.pb AS b1, b.pb AS b2,
                sum(v1.q * v2.q)::BIGINT AS sim
         FROM cand a JOIN cand b ON a.pa = b.pa AND a.pb <> b.pb
         JOIN qv v1 ON v1.vec_id = a.pb
         JOIN qv v2 ON v2.vec_id = b.pb AND v2.d = v1.d
         GROUP BY 1, 2, 3),
       p1 AS (
         SELECT pa, pb, rel FROM (
           SELECT pa, pb, rel,
                  row_number() OVER (PARTITION BY pa
                                     ORDER BY rel DESC, pb) AS rn
           FROM cand) t WHERE rn = 1),
       sel1 AS (SELECT pa, pb, 1 AS rk, rel FROM p1),
       {rounds}
       SELECT pa AS probe_id, rk AS rank, pb AS picked_id, rel
       FROM sel{_MMR_K} ORDER BY probe_id, rank"""


@q("emb_mmr_rerank", _mmr_sql())
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-ranking (λ = 0.5): from
    each strided probe's top-12 relevance pool, greedily pick 4 results
    maximizing rel − max-sim-to-already-picked — the re-rank step that
    stops a retrieval page (or a RAG context window) from filling with
    near-duplicates of the first hit. λ = 0.5 makes the score a pure
    INTEGER difference of milli-unit dots, and the greedy argmax uses a
    (score DESC, id) total order, so all 4 unrolled rounds are exact on
    both engines (the kmeans/pagerank bounded-iteration idiom applied
    to greedy selection). Shape: the pool is k-bounded per probe, the
    candidate-pairwise sim table is POOL² per probe (144 rows — built
    once, reused by every round), and each round is an argmax over
    ≤ POOL rows per probe: after the one GEMM-shaped pool build,
    everything is constant-sized per probe regardless of corpus scale."""
    from hawaiidatapipeline_spark.operators.materialize import materialize

    qarr = _quant_arrays(spark, sf_dir)
    # Pool build (r14 optimization, guide §2.3/§2.4): probes broadcast as
    # one array-of-structs row, relevance = per-corpus-row zip_with fold —
    # the old path exploded to (vec, d, q) and joined on the 64-distinct-key
    # dimension index, materializing probes x corpus x d rows through a
    # hash aggregate. Exactly the same int64 dot values.
    probes_row = F.broadcast(
        qarr.filter(F.col("vec_id") % _HAM_PROBE_MOD == 0).agg(
            F.collect_list(
                F.struct("vec_id", F.col("qarr").alias("parr"))
            ).alias("_ps")
        )
    )
    rel_expr = (
        "transform(_ps, p -> struct(p.vec_id AS pa, "
        + _fold_dot("p.parr", "qarr")
        + " AS rel))"
    )
    dots = (
        qarr.crossJoin(probes_row)
        .select(
            F.col("vec_id").alias("pb"),
            F.explode(F.expr(rel_expr)).alias("_s"),
        )
        .select(F.col("_s.pa").alias("pa"), "pb", F.col("_s.rel").alias("rel"))
        .filter(F.col("pa") != F.col("pb"))
    )
    w_rel = Window.partitionBy("pa").orderBy(F.col("rel").desc(), "pb")
    cand = materialize(
        dots.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_POOL)
        .select("pa", "pb", "rel")
    )
    # Candidate vectors ride a broadcast join (cand is POOL x probes rows);
    # pool-pair sims are zip_with folds over the tiny cv frame.
    cv = materialize(
        qarr.join(F.broadcast(cand), qarr["vec_id"] == cand["pb"]).select(
            "pa", "pb", "rel", "qarr"
        )
    )
    sims = (
        cv.alias("a")
        .join(
            cv.alias("b"),
            (F.col("a.pa") == F.col("b.pa"))
            & (F.col("a.pb") != F.col("b.pb")),
        )
        .select(
            F.col("a.pa").alias("pa"),
            F.col("a.pb").alias("b1"),
            F.col("b.pb").alias("b2"),
            F.expr(
                "aggregate(zip_with(a.qarr, b.qarr, (x, y) -> x * y), "
                "cast(0 as bigint), (s, v) -> s + v)"
            ).alias("sim"),
        )
    )
    # All MMR_K greedy rounds in ONE per-probe expression over the
    # collected pool/sims arrays (the old loop ran 3 join+window+checkpoint
    # rounds — ~9 extra jobs for constant-sized frames). The argmax order
    # is the same (score DESC, pb) total order: array_min over
    # struct(-score, pb). Round 1 score = rel; round i score =
    # rel - max(sim to already-picked), exactly the unrolled oracle CTEs.
    pools = cand.groupBy("pa").agg(
        F.collect_list(F.struct("pb", "rel")).alias("pool")
    )
    simsa = sims.groupBy("pa").agg(
        F.collect_list(F.struct("b1", "b2", "sim")).alias("sims")
    )
    greedy = (
        "aggregate(sequence(2, "
        + str(_MMR_K)
        + "), "
        # seed: round-1 pick = argmax rel
        "transform(filter(array(array_min(transform(pool, c -> "
        "struct(-c.rel AS ns, c.pb AS pb, c.rel AS rel)))), p -> p IS NOT NULL), "
        "p -> named_struct('pb', p.pb, 'rk', 1, 'rel', p.rel)), "
        "(acc, i) -> concat(acc, transform(filter(array(array_min(transform("
        "filter(pool, c -> NOT exists(acc, x -> x.pb = c.pb)), "
        "c -> struct("
        "coalesce(array_max(transform(filter(sims, s -> s.b1 = c.pb AND "
        "exists(acc, x -> x.pb = s.b2)), s -> s.sim)), cast(0 as bigint))"
        " - c.rel AS ns, "
        "c.pb AS pb, c.rel AS rel)))), p -> p IS NOT NULL), "
        "p -> named_struct('pb', p.pb, 'rk', i, 'rel', p.rel))))"
    )
    sel = (
        pools.join(simsa, "pa", "left")
        .withColumn("sims", F.coalesce("sims", F.expr("array()")))
        .select("pa", F.explode(F.expr(greedy)).alias("_p"))
        .select(
            "pa",
            F.col("_p.pb").alias("pb"),
            F.col("_p.rk").alias("rk"),
            F.col("_p.rel").alias("rel"),
        )
    )
    return sel.select(
        F.col("pa").alias("probe_id"),
        F.col("rk").alias("rank"),
        F.col("pb").alias("picked_id"),
        "rel",
    ).orderBy("probe_id", "rank")


_OUTLIER_KNN_K = 5


@q(
    "emb_knn_dist_outliers",
    f"""WITH qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       d2 AS (
         SELECT a.vec_id AS va, b.vec_id AS vb,
                sum((a.q - b.q) * (a.q - b.q))::BIGINT AS dist2
         FROM qv a JOIN qv b ON a.d = b.d AND a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       kth AS (
         SELECT va, dist2 FROM (
           SELECT va, dist2,
                  row_number() OVER (PARTITION BY va
                                     ORDER BY dist2, vb) AS rn
           FROM d2) t WHERE rn = {_OUTLIER_KNN_K})
       SELECT va AS vec_id, dist2 AS knn{_OUTLIER_KNN_K}_dist2_milli
       FROM kth ORDER BY dist2 DESC, va LIMIT 20""",
)
def emb_knn_dist_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN-distance outlier detection: each vector's squared distance
    to its 5th-nearest neighbor (exact integer milli² arithmetic), top
    20 most isolated — the embedding-space junk detector (mislabeled
    points, OOD content, encoder glitches live in sparse regions) that
    complements ``llm_doc_outlier_zscore``'s per-feature form with a
    geometric one. Distances and ranks are exact 64-bit ((dist, id)
    total order), so the isolation ranking itself hash-checks. Shape:
    the fixture tier runs the exact pair GEMM (the declared oracle
    shape shared with emb_mips_topk); at 100 TB the 5-NN distance comes
    from the ANN tiers (IVF/Hamming candidates + exact re-rank — the
    recall audits in this family price that substitution), and the
    outlier rank is a TakeOrdered over per-vector scalars.

    r15: the exact leg runs as the broadcast-index blocked GEMM of
    operators/similarity.py (guide §2.3/§4.2) instead of the d-keyed
    self-join that pushed N²·d rows through a hash aggregate: the
    quantized corpus broadcasts once (budget-guarded like
    cosine_topk_gemm), each Arrow batch takes one matmul against it and
    emits ONE scalar per vector — the k-th smallest masked distance,
    which is tie-order-free because only the k-th VALUE is reported.
    All products/sums stay far below 2^53, so the float64 BLAS matmul
    is exact integer arithmetic; results are bit-identical."""
    import numpy as np

    from hawaiidatapipeline_spark.operators.similarity import (
        _index_row_budget,
    )

    qarr = _quant_arrays(spark, sf_dir)
    budget = _index_row_budget(qarr, "qarr", 4_000_000, 4 << 30)
    # the size gate rides the index collect: at most budget + 1 rows
    # ever reach the driver, whatever the corpus size
    idx_rows = qarr.select("vec_id", "qarr").limit(budget + 1).collect()
    if len(idx_rows) > budget:
        raise ValueError(
            f"emb_knn_dist_outliers: {len(idx_rows)} index rows exceed the "
            f"broadcast budget {budget}; at that scale the 5-NN distance "
            "comes from the ANN tiers (see docstring)"
        )
    ids = np.array([r["vec_id"] for r in idx_rows], dtype=np.int64)
    mat = np.stack(
        [np.asarray(r["qarr"], dtype=np.int64) for r in idx_rows]
    )
    assert int(np.abs(mat).max()) < (1 << 21)  # keeps f64 GEMM exact
    pos = {int(v): i for i, v in enumerate(ids)}
    bc = spark.sparkContext.broadcast((pos, mat))
    kcol = f"knn{_OUTLIER_KNN_K}_dist2_milli"
    K = _OUTLIER_KNN_K

    def block(it):
        import pandas as pd

        pos_l, M = bc.value
        Mf = M.astype(np.float64)
        sq = np.einsum("nd,nd->n", M, M)
        big = np.int64(2**62)
        for pdf in it:
            if not len(pdf) or M.shape[0] - 1 < K:
                continue
            Q = _np_stack(pdf["qarr"])
            qid = pdf["vec_id"].values
            G = (Q.astype(np.float64) @ Mf.T).astype(np.int64)  # exact
            D = (
                np.einsum("nd,nd->n", Q, Q)[:, None]
                + sq[None, :]
                - 2 * G
            )
            self_cols = np.array([pos_l[int(v)] for v in qid])
            D[np.arange(len(qid)), self_cols] = big  # drop self-pairs
            kth = np.partition(D, K - 1, axis=1)[:, K - 1]
            yield pd.DataFrame({"vec_id": qid, kcol: kth})

    kth_df = qarr.select("vec_id", "qarr").mapInPandas(
        block, f"vec_id bigint, {kcol} bigint"
    )
    return kth_df.orderBy(F.col(kcol).desc(), "vec_id").limit(20)


@q(
    "emb_srp_recall_report",
    f"""WITH proj AS (
         SELECT j.j, d.d,
                CASE WHEN ('0x' || substring(md5('srp:' || j.j::VARCHAR
                            || ':' || d.d::VARCHAR), 1, 15))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END AS r
         FROM (SELECT unnest(generate_series(0, {_SRP_BITS - 1})) AS j) j,
              (SELECT unnest(generate_series(0, 63)) AS d) d),
       qv AS (SELECT vec_id,
                     unnest(generate_series(0, len(embedding) - 1)) AS d,
                     round(unnest(embedding) * 1000)::BIGINT AS q
              FROM embeddings),
       pdots AS (SELECT v.vec_id, p.j, sum(v.q * p.r)::BIGINT AS dot
                 FROM qv v JOIN proj p ON p.d = v.d GROUP BY 1, 2),
       sig AS (SELECT vec_id,
                      sum(CASE WHEN dot > 0
                               THEN power(2, j)::BIGINT ELSE 0 END)::BIGINT
                        AS srp_sig
               FROM pdots GROUP BY 1),
       dots AS (
         SELECT a.vec_id AS pa, b.vec_id AS pb, sum(a.q * b.q)::BIGINT AS dot
         FROM qv a JOIN qv b ON a.d = b.d AND a.vec_id <> b.vec_id
         WHERE a.vec_id % {_HAM_PROBE_MOD} = 0
         GROUP BY 1, 2),
       gt AS (
         SELECT pa, pb FROM (
           SELECT pa, pb, row_number() OVER (PARTITION BY pa
                                             ORDER BY dot DESC, pb) AS rn
           FROM dots) t WHERE rn <= {_HAM_K}),
       cand AS (
         SELECT d.pa, d.pb, d.dot
         FROM dots d
         JOIN sig x ON x.vec_id = d.pa
         JOIN sig y ON y.vec_id = d.pb AND y.srp_sig = x.srp_sig),
       ann AS (
         SELECT pa, pb FROM (
           SELECT pa, pb, row_number() OVER (PARTITION BY pa
                                             ORDER BY dot DESC, pb) AS rn
           FROM cand) t WHERE rn <= {_HAM_K}),
       hits AS (
         SELECT g.pa, count(*)::BIGINT AS h
         FROM gt g JOIN ann a ON a.pa = g.pa AND a.pb = g.pb
         GROUP BY g.pa),
       nc AS (SELECT pa, count(*)::BIGINT AS n_cand FROM cand GROUP BY pa)
       SELECT g.pa AS probe_id,
              coalesce(nc.n_cand, 0)::BIGINT AS n_candidates,
              coalesce(h.h, 0)::BIGINT AS n_hits,
              round(coalesce(h.h, 0)::DOUBLE / {_HAM_K}, 6)
                AS recall_at_{_HAM_K}
       FROM (SELECT DISTINCT pa FROM gt) g
       LEFT JOIN hits h ON h.pa = g.pa
       LEFT JOIN nc ON nc.pa = g.pa
       ORDER BY probe_id""",
)
def emb_srp_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the SRP (hyperplane-LSH) candidate tier — the
    last ANN tier without one (IVF, PQ, Matryoshka and Hamming all
    carry recall rows): candidates = vectors sharing the probe's
    16-bit SRP bucket, re-ranked by exact integer dot, scored against
    the exact top-5 over the whole corpus. Also reports the candidate
    count — together the two columns give the recall/scan-fraction
    trade that decides bucket width (more bits → fewer candidates,
    lower recall), exactly like emb_ann_recall_report's nprobe dial.
    All ranks are exact-integer total orders, so the audit itself
    hash-checks. Shape: signature build is a 1024-cell broadcast +
    (vec, j) partial agg; ground truth is the probe-strided GEMM row;
    the candidate lane joins on the 16-bit bucket key — sub-linear
    candidate generation, the whole point of SRP."""
    # SRP signature as a per-row fold; exact ground truth via the
    # broadcast-probes fold (r14, guide §2.4 — was two d-keyed joins
    # plus three corpus-sized aggregates)
    qarr = _quant_arrays(spark, sf_dir)
    sig = materialize(
        _with_srp_sig(qarr, _SRP_BITS).select("vec_id", "srp_sig")
    )
    dots = materialize(
        _probe_pairs(
            qarr, qarr.filter(F.col("vec_id") % _HAM_PROBE_MOD == 0), "dot"
        )
    )
    w = Window.partitionBy("pa").orderBy(F.col("dot").desc(), "pb")
    gt = (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HAM_K)
        .select("pa", "pb")
    )
    cand = (
        dots.join(
            sig.select(F.col("vec_id").alias("pa"), F.col("srp_sig").alias("sig_a")),
            "pa",
        )
        .join(
            sig.select(F.col("vec_id").alias("pb"), F.col("srp_sig").alias("sig_b")),
            "pb",
        )
        .filter(F.col("sig_a") == F.col("sig_b"))
        .select("pa", "pb", "dot")
    )
    ann = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HAM_K)
        .select("pa", "pb")
    )
    hits = gt.join(ann, ["pa", "pb"]).groupBy("pa").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    nc = cand.groupBy("pa").agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    return (
        gt.select("pa")
        .distinct()
        .join(hits, "pa", "left")
        .join(nc, "pa", "left")
        .select(
            F.col("pa").alias("probe_id"),
            F.coalesce(F.col("n_cand"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("h"), F.lit(0)).cast("double") / _HAM_K, 6
            ).alias(f"recall_at_{_HAM_K}"),
        )
        .orderBy("probe_id")
    )


@q(
    "emb_nearest_centroid_confusion",
    """WITH qv AS (
         SELECT vec_id, e.label,
                unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings e),
       cent AS (
         SELECT label, d,
                (floor(sum(q) * 1.0 / count(*)))::BIGINT AS cq
         FROM qv WHERE vec_id % 2 = 0 GROUP BY label, d),
       dists AS (
         SELECT v.vec_id, v.label AS true_label, c.label AS pred_label,
                sum((v.q - c.cq) * (v.q - c.cq))::BIGINT AS dist2
         FROM qv v JOIN cent c ON c.d = v.d
         WHERE v.vec_id % 2 = 1
         GROUP BY 1, 2, 3),
       pred AS (
         SELECT vec_id, true_label, pred_label FROM (
           SELECT vec_id, true_label, pred_label,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist2, pred_label) AS rn
           FROM dists) t WHERE rn = 1),
       conf AS (
         SELECT true_label, pred_label, count(*)::BIGINT AS n
         FROM pred GROUP BY true_label, pred_label),
       tot AS (SELECT count(*)::BIGINT AS n_eval,
                      sum(CASE WHEN true_label = pred_label
                               THEN 1 ELSE 0 END)::BIGINT AS n_correct
               FROM pred)
       SELECT c.true_label, c.pred_label, c.n,
              round(t.n_correct::DOUBLE / t.n_eval, 6) AS overall_accuracy
       FROM conf c CROSS JOIN tot t
       ORDER BY c.true_label, c.pred_label""",
)
def emb_nearest_centroid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid classification with a train/eval split and the
    full confusion matrix: centroids from even vec_ids (floor-averaged
    milli integers — the k-means update step reused as a supervised
    prototype), odd vec_ids classified by exact integer squared
    distance with a (dist, label) total-order argmin; every cell of the
    confusion matrix plus overall accuracy hash-checks. This is the
    embedding-quality eval a training pipeline runs after re-encoding
    (a good encoder separates labels; accuracy collapse = encoder or
    pipeline regression — the supervised complement of
    ``emb_kmeans_silhouette``'s unsupervised score and the confusion
    refinement of ``emb_label_centroids``/``llm_knn_label``). Shape:
    one (label, dim) partial agg for centroids (|labels|·d rows,
    broadcast), one linear eval-side join + per-vector argmin over
    |labels| rows — no pairwise anything; identical at 100 TB."""
    from hawaiidatapipeline_spark.operators.materialize import materialize

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("d", "x"),
    ).select(
        "vec_id",
        "label",
        "d",
        F.round(F.col("x") * 1000).cast("long").alias("q"),
    )
    cent = materialize(
        qv.filter(F.col("vec_id") % 2 == 0)
        .groupBy("label", "d")
        .agg(
            F.floor(F.sum("q") * 1.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("cq")
        )
        .withColumnRenamed("label", "pred_label")
    )
    dists = (
        qv.filter(F.col("vec_id") % 2 == 1)
        .withColumnRenamed("label", "true_label")
        .join(F.broadcast(cent), "d")
        .groupBy("vec_id", "true_label", "pred_label")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "pred_label")
    pred = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", "pred_label")
    )
    conf = pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
    return (
        conf.crossJoin(F.broadcast(tot))
        .select(
            "true_label",
            "pred_label",
            "n",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_eval"), 6
            ).alias("overall_accuracy"),
        )
        .orderBy("true_label", "pred_label")
    )


def _kpp_ctes() -> str:
    """Unrolled farthest-first seeding rounds: ``p{r}`` = the r-th pick
    (argmax of running min-distance, ties → min vec_id), ``m{r}`` = the
    corpus min-d² table after including pick r."""
    parts = [
        f"""p0 AS (SELECT min(vec_id)::BIGINT AS vec_id FROM qv),
       m0 AS (SELECT v.vec_id, sum((v.q - c.q) * (v.q - c.q))::BIGINT AS min_d2
              FROM qv v JOIN qv c ON c.d = v.d
                   AND c.vec_id = (SELECT vec_id FROM p0)
              GROUP BY v.vec_id)"""
    ]
    for r in range(1, _KM_K):
        parts.append(
            f"""p{r} AS (SELECT vec_id, min_d2 FROM m{r - 1}
                  ORDER BY min_d2 DESC, vec_id LIMIT 1),
       m{r} AS (SELECT m.vec_id, least(m.min_d2, d.d2) AS min_d2
                FROM m{r - 1} m
                JOIN (SELECT v.vec_id,
                             sum((v.q - c.q) * (v.q - c.q))::BIGINT AS d2
                      FROM qv v JOIN qv c ON c.d = v.d
                           AND c.vec_id = (SELECT vec_id FROM p{r})
                      GROUP BY v.vec_id) d ON d.vec_id = m.vec_id)"""
        )
    return ",\n       ".join(parts)


def _kpp_sql() -> str:
    rows = [
        """SELECT 0 AS pick, p0.vec_id, 0::BIGINT AS min_d2,
              (SELECT sum(min_d2) FROM m0)::BIGINT AS objective FROM p0"""
    ]
    for r in range(1, _KM_K):
        rows.append(
            f"""SELECT {r}, p{r}.vec_id, p{r}.min_d2,
              (SELECT sum(min_d2) FROM m{r})::BIGINT FROM p{r}"""
        )
    union = "\n       UNION ALL ".join(rows)
    return f"""WITH qv AS (
         SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS d,
                round(unnest(embedding) * 1000)::BIGINT AS q
         FROM embeddings),
       {_kpp_ctes()}
       {union}
       ORDER BY pick"""


@q("emb_kmeanspp_init", _kpp_sql())
def emb_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-means seeding (Gonzalez maxmin — the
    derandomized k-means++ rule: each pick is the point FARTHEST from
    the chosen set, ties → min id) for K = 4 centers, with the k-means
    objective Σ min-d² after every pick — the init-quality curve that
    says how much each extra center buys. ml_kmeans_fixed_point seeds
    with the first K ids; this key prices the principled alternative.
    Exact integer milli-unit distances end to end (argmax under a total
    order, integer objective sums), so the oracle unrolls the picks as
    CTEs and matches bit-for-bit. Scale: each pick is one broadcast of a
    single d-dim vector against the corpus + a running least() fold —
    K linear passes, the standard distributed seeding; the argmax is a
    TakeOrdered(1), never a global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = materialize(
        e.select("vec_id", F.posexplode("embedding").alias("d", "x")).select(
            "vec_id", "d", F.round(F.col("x") * 1000).cast("long").alias("q")
        )
    )

    def dist_to(pick_df: DataFrame) -> DataFrame:
        c = qv.join(
            F.broadcast(pick_df.select(F.col("vec_id").alias("_pid"))),
            F.col("vec_id") == F.col("_pid"),
        ).select("d", F.col("q").alias("cq"))
        return (
            qv.join(F.broadcast(c), "d")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq")))
                .cast("long")
                .alias("d2")
            )
        )

    p = materialize(qv.agg(F.min("vec_id").cast("long").alias("vec_id")))
    m = materialize(dist_to(p).withColumnRenamed("d2", "min_d2"))
    out = p.select(
        F.lit(0).alias("pick"), "vec_id", F.lit(0).cast("long").alias("min_d2")
    ).crossJoin(m.agg(F.sum("min_d2").cast("long").alias("objective")))
    for r in range(1, _KM_K):
        p = materialize(
            m.orderBy(F.col("min_d2").desc(), "vec_id").limit(1)
        )
        m = materialize(
            m.join(dist_to(p).withColumnRenamed("vec_id", "v2"),
                   F.col("vec_id") == F.col("v2"))
            .select("vec_id", F.least("min_d2", "d2").alias("min_d2"))
        )
        out = out.unionByName(
            p.select(F.lit(r).alias("pick"), "vec_id", "min_d2").crossJoin(
                m.agg(F.sum("min_d2").cast("long").alias("objective"))
            )
        )
    return out.orderBy("pick")
