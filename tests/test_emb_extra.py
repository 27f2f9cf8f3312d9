"""Int8 quantization reconstruction bound."""

from hawaiidatapipeline_spark.queries.emb_extra import emb_quantize_int8
from hawaiidatapipeline_spark.registry import load_table

from .conftest import SF0001


def test_quantize_codes_fit_int8_and_reconstruct(spark):
    e = load_table(spark, SF0001, "embeddings")
    out = emb_quantize_int8(spark, SF0001)
    rows = {r["vec_id"]: r for r in out.collect()}
    orig = {r["vec_id"]: r["embedding"] for r in e.collect()}
    assert set(rows) == set(orig)
    checked = 0
    for vid, r in rows.items():
        codes = [int(c) for c in r["codes"].split("|")]
        assert len(codes) == len(orig[vid])
        assert all(-127 <= c <= 127 for c in codes)
        # reconstruction error bounded by half a quantization step
        # (r.scale is rounded to 6dp for the gate; rebuild it exactly)
        scale = max(abs(float(x)) for x in orig[vid]) / 127.0
        if scale == 0:
            continue
        for c, x in zip(codes, orig[vid]):
            assert abs(c * scale - float(x)) <= scale / 2 + 1e-12
        checked += 1
    assert checked > 0


def test_ann_recall_report_matches_python(spark):
    """Full plain-Python recompute: fixed-point k-means (milli units,
    floor-average, (dist, cid) argmin), nprobe=1 IVF candidates vs exact
    integer-dot top-10, per-cell recall — must equal the Spark report."""
    import math
    from collections import defaultdict

    from hawaiidatapipeline_spark.queries import emb_extra

    e = load_table(spark, SF0001, "embeddings").collect()

    def half_round(x):  # Spark F.round on exact milli floats = half-up
        import decimal
        return int(
            decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP)
        )

    qv = {
        r["vec_id"]: [half_round(x * 1000) for x in r["embedding"]] for r in e
    }
    cents = {cid: list(qv[cid]) for cid in range(emb_extra._KM_K)}
    assign = {}
    for _ in range(emb_extra._KM_ROUNDS):
        for vid, v in qv.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
                for cid, c in cents.items()
            )
            assign[vid] = best[1]
        sums, cnt = defaultdict(lambda: None), defaultdict(int)
        for vid, cid in assign.items():
            cnt[cid] += 1
            if sums[cid] is None:
                sums[cid] = list(qv[vid])
            else:
                sums[cid] = [a + b for a, b in zip(sums[cid], qv[vid])]
        cents = {
            cid: [math.floor(s * 1.0 / cnt[cid]) for s in sums[cid]]
            for cid in sums
        }
    probes = [v for v in qv if v % emb_extra._ANN_PROBE_MOD == 0]
    per_cell = defaultdict(lambda: [0, 0, 0])  # n_probes, hits, cands
    for p in probes:
        dots = {
            o: sum(a * b for a, b in zip(qv[p], qv[o]))
            for o in qv if o != p
        }
        rank = sorted(dots, key=lambda o: (-dots[o], o))
        gt = set(rank[: emb_extra._ANN_TOPK])
        cand = [o for o in dots if assign[o] == assign[p]]
        ann = set(
            sorted(cand, key=lambda o: (-dots[o], o))[: emb_extra._ANN_TOPK]
        )
        st = per_cell[assign[p]]
        st[0] += 1
        st[1] += len(gt & ann)
        st[2] += len(cand)
    got = {
        r["cid"]: (r["n_probes"], r["n_hits"],
                   r[f"recall_at_{emb_extra._ANN_TOPK}"], r["avg_candidates"])
        for r in emb_extra.QUERIES["emb_ann_recall_report"](spark, SF0001).collect()
    }
    want = {
        cid: (
            n, h,
            round(h / (emb_extra._ANN_TOPK * n), 6),
            round(c / n, 6),
        )
        for cid, (n, h, c) in per_cell.items()
    }
    assert got == want
    assert sum(n for n, _, _, _ in got.values()) == len(probes)


def test_knn_outliers_index_collect_stops_at_budget(spark, monkeypatch):
    """The broadcast-index size gate rides the collect itself: with a
    budget below the corpus size the key must raise after pulling only
    budget + 1 rows, never the whole corpus."""
    import pytest

    from hawaiidatapipeline_spark.operators import similarity
    from hawaiidatapipeline_spark.queries.emb_extra import emb_knn_dist_outliers

    budget = 7
    n = load_table(spark, SF0001, "embeddings").count()
    assert n > budget + 1
    monkeypatch.setattr(similarity, "_index_row_budget", lambda *a: budget)
    with pytest.raises(ValueError) as err:
        emb_knn_dist_outliers(spark, SF0001)
    assert f"{budget + 1} index rows exceed the broadcast budget {budget}" in str(
        err.value
    )
    assert f"{n} index rows" not in str(err.value)
