"""Scaling-curve evidence: time representative queries at sf0.01 and sf0.1
(10× the data) and report the runtime growth factor. A plan that "would
survive 100×" shows sub-linear growth for aggregates/top-k (fixed group
cardinality) and ~linear growth for scans and candidate generation.
Best-of-2 per (query, sf) after a warmup pass. Writes SCALING.md.

Run: ``python tools/scaling_probe.py``.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# third point: synthesized lane (tools/make_scale_lane.py) — 3× sf0.1
SF3 = os.path.join(REPO, ".cache", "sf0.3")
SF3_RATIO = 3.0
PROBES = [
    ("pricing_summary", "agg over 6 groups — time ~ scan, output constant"),
    ("join_inner_sortmerge", "fact-fact join — ~linear in filtered rows"),
    ("join_asof", "union+window — n log n in events per user"),
    ("win_topk_per_group", "window top-k — linear + per-group heap"),
    ("llm_dedup_minhash", "LSH signatures+candidates — linear in docs"),
    ("llm_cosine_topk", "blocked GEMM — linear probe side at fixed index"),
    ("tpch_q10_returned_items", "join chain + top-20 — linear in window rows"),
    ("llm_chunk_documents", "narrow-only chunking — linear, no shuffle"),
    ("sample_bernoulli", "map-only hash filter — linear in scan, zero state"),
    ("agg_heavy_hitters_cms", "sketch counters fixed-size — time ~ scan only"),
    ("join_interval_binned", "binned equi-join — linear in candidate pairs"),
    ("etl_snapshot_diff", "full-outer diff — linear in snapshot rows"),
    ("llm_dedup_url", "canonicalize+group — linear scan, one shuffle"),
    ("etl_dedup_incremental", "distinct-hash anti-join — linear in batch+corpus keys"),
    ("llm_containment_pairs", "shingle self-join under stop-shingle cap — linear in shared-shingle pairs"),
    ("events_sessionize_gap", "lag+cumsum sessionization — n log n per user partition"),
    ("llm_dupspan_ngram", "gram table build — linear in corpus tokens"),
    ("tpch_q13_order_count_distribution", "outer join + stacked aggs — linear in orders"),
    ("events_rate_limit", "per-(user,hour) rank — linear, bounded partitions"),
    ("tpch_q21_late_supplier_blame", "semi+anti chain — linear in late lines"),
    ("ml_kmeans_fixed_point", "k-means 3 rounds — linear per round in corpus"),
    ("events_dau_mau", "two-grain distinct counts — linear scan, tiny output"),
    ("graph_triangle_count", "edge-oriented triangle join — ~linear in wedges under degree cap"),
    ("graph_link_prediction", "common-neighbor pairs — linear in wedges under stop-hub cap"),
    ("llm_cosine_topk_sharded", "sharded GEMM — linear in probe×shards, no driver index"),
    ("llm_bigram_logprob", "bigram LM scoring — linear in corpus tokens"),
    ("graph_kcore_peel", "bounded k-core peel — linear per round in surviving edges"),
    ("llm_bigram_cond_entropy", "conditional entropy — linear token explode + two aggs"),
    ("emb_covariance_topk", "in-array pair partial agg — linear in vectors at fixed d"),
    ("emb_pca_power_iteration", "S build linear in vectors; squaring ladder fixed-cost in N"),
    ("dq_order_total_reconciliation", "micro-cent reconcile — linear in lineitems"),
    ("events_attribution_linear", "24h touch join — linear in per-user touch×conv pairs"),
    # round-9 additions
    ("llm_dedup_incremental_lsh", "incremental LSH — O(batch) signatures + band join touching the batch"),
    ("emb_ivfpq_topk", "IVF-PQ read path — ADC scan bounded by cell size per probe"),
    ("agg_bootstrap_ci_mean", "Poisson bootstrap — map-side row×B expansion, shuffle = B means"),
    ("events_session_entry_exit", "entry/exit matrix — one user shuffle, windows + tiny agg"),
    ("dq_ks_drift", "KS drift — value-grouped ECDF, cost ~ #distinct prices"),
    ("graph_clustering_coefficient", "per-node wedges under hub cap — linear in capped wedges"),
    ("stream_interval_join", "user-key equi-join + time band — linear in matched pairs"),
    # round-9 batch 4-6 additions
    ("agg_spearman_corr", "distributed rank map — linear in rows + distinct values, no single-partition window"),
    ("join_spatial_grid", "cell-key spatial join — linear in points + bounded box fan-out"),
    ("join_interval_overlap", "dual-binned overlap join, exactly-once bin attribution — no pair-stream shuffle"),
    # round-9 batch 7-9 additions
    ("events_cuped_adjustment", "CUPED — one user-grain partial agg + 1-row reduce"),
    ("events_pit_features", "PIT feature backfill — one user shuffle + shared range windows"),
    ("events_survival_km", "KM curve — user-grain agg; windows on calendar-bounded duration grain"),
    ("llm_trigram_backoff", "trigram LM — 3 model aggs + five gram-keyed linear joins"),
    ("emb_hamming_topk", "sign-signature build linear; broadcast probe join, k-bounded ranks"),
    ("graph_bfs_hops", "frontier joins — per-hop O(touched edges), fixed hop count"),
    ("multimodal_frame_dedup", "Arrow decode map + one fingerprint-key shuffle"),
    # round-11 additions
    ("stream_late_audit", "per-key arrival window + bounded rollup — linear in events"),
    ("llm_semdedup_cells", "within-bucket cosine pairs — buckets = cell × corpus-scaled SRP hash, ~128 vectors each, pair volume linear"),
    ("emb_ivfpq_topk_nprobe2", "two-cell ADC read — bounded by cell size; K=4 cells is fixture-scale, production scales cell count with N (priced by emb_ivf_nprobe_cost_curve)"),
    ("llm_semdedup_survivors", "bucketed pair scan + per-cluster min — linear in bucketed pairs"),
    ("llm_semdedup_recall", "bucketed candidate edges vs sampled truth slice — linear in buckets + sample²"),
    ("llm_corpus_pipeline_v6", "staged funnel; semantic drop-list is a broadcast anti-join over doc ids"),
    ("llm_dsir_weights", "DSIR — linear feature explode + B-row broadcast λ join + doc-keyed agg"),
    ("llm_quality_classifier_train", "logistic GD — per round: one map-only pass over the docs x (B+1) vector frame, tasks x (B+3) partials to the driver"),
    ("llm_dsir_sample", "DSIR Gumbel-top-k — weights plan + map-side key + TakeOrdered top-N"),
    ("emb_ivfpq_rerank", "ADC shortlist + exact refine — probes x shortlist vector fetch, never corpus"),
    ("fulltext_bm25", "BM25 — token explode + 3-term posting join + doc agg, top-50"),
    ("fulltext_eval_ndcg", "nDCG/MRR — BM25 plan + per-term posting-bounded rank windows"),
    ("llm_bpe_merge_steps", "BPE training — one linear word agg, then vocabulary-grain merge rounds"),
    ("llm_dsir_eval", "DSIR audit — weights plan + top-N + source-grain share aggs"),
    ("graph_harmonic_centrality", "seeded 3-hop harmonic — per-hop frontier joins, (seed,node) keys"),
    ("llm_dupspan_removal_plan", "span-union removal plan — gram index + dup join + per-doc window"),
    ("ts_pacf", "Yule-Walker PACF — day agg + per-type lag window + 4-sum agg"),
    ("agg_ddsketch_quantiles", "DDSketch — map-side log buckets, bounded (flag,bucket) state"),
    ("emb_kmeanspp_init", "farthest-first seeding — K broadcast passes + least() folds"),
    ("emb_kmeans_scalable_init", "k-means|| — R oversampling rounds, each one candidate broadcast + fold; candidate-grain recluster"),
    ("llm_doremi_mixture", "DoReMi — one linear token pass, then constant-grain (domains x vocab) rounds"),
    ("llm_sequence_packing", "packing audit — narrow map + distributed prefix sums + span-grain histogram"),
    ("emb_effective_rank", "participation ratio — in-array pair expansion, d^2/2 shuffle groups at any N"),
    ("llm_corpus_pipeline_v8", "v7 funnel + classifier-gate broadcast + per-shard packing windows"),
    ("llm_corpus_pipeline_v7", "v6 funnel + DSIR selection — λ broadcast + TakeOrdered, nothing pair-sized"),
    ("agg_cms_merge_proof", "CMS merge proof — linear cell map + bounded counter aggs"),
    ("graph_ppr_seeded", "seeded PPR — frontier-sized join + partial agg per round"),
    # round-13 additions
    ("llm_unimax_allocation", "UniMax waterfill — one linear token agg, then source-grain windows"),
    ("llm_ccnet_buckets", "CCNet terciles — bigram model aggs + bigram join + per-lang rank window"),
    ("llm_decontaminate_semantic", "semantic decon — ~65 corpus-scaled probes x corpus integer cosine test"),
    ("emb_intrinsic_dim_twonn", "TwoNN ID — probe x corpus exact distances, 2-row state per probe"),
    ("emb_whitening_audit", "whitening audit — d-grain co-moment agg, shuffle = 64 groups"),
    ("emb_cosine_histogram", "probe-pair cosine buckets — ~2k pairs at any N"),
    ("llm_domain_cross_entropy", "source CE — model aggs + bigram join, source grain after"),
    ("graph_betweenness_sampled", "Brandes sampled — per-level (seed,node) joins, seeds capped ~100"),
    ("llm_rho_loss_selection", "RHO-loss — two bigram models + term join, doc-grain aggs"),
    ("multimodal_scene_cuts", "RAWV decode + frame-pair deltas — map-only, one video-grain agg"),
    ("llm_classifier_auc", "rank-map AUC — classifier train + value-grain rank join"),
    ("llm_cluster_prune_plan", "SRP clusters + quality agg + bottom-k — cluster grain N/128"),
    # round-13 batch 6-7 additions
    ("dq_k_anonymity", "QI-grain aggs + broadcast nation dim — class count bounded by QI domain"),
    ("agg_theta_sketch_setops", "two KMV synopses + bounded set ops; exact audit leg is the linear part"),
    ("sample_reservoir_merge_proof", "per-shard top-k windows + bounded merge — linear scan, synopsis state"),
    ("graph_katz_centrality", "3 attenuated-walk rounds — edge-grain join+agg per round"),
    ("llm_influence_proxy", "classifier train + one linear influence pass over docs x B frame"),
    ("emb_jl_distortion", "16xd broadcast projection fold + probe-pair distances via stride"),
    ("etl_bitemporal_correction", "per-order <=2-row version windows + month rollup"),
    ("events_ipw_ate", "user-grain agg + constant-grain strata — CUPED family"),
    ("graph_hits_hubs_auth", "2 HITS rounds — edge join + partial agg + 1-row max per half-round"),
    ("dq_fd_discovery", "5 FDs x (A,B)-grain count then A-grain fold — shrinking grains"),
    ("mine_sequential_pairs", "(user,type) agg + bounded per-user type-pair expansion"),
    ("ts_stl_anomaly", "day-grain pre-agg; decomposition + MAD gate on calendar frame"),
    ("multimodal_audio_fingerprint", "map-only decode+energy, per-clip lag over <=10 frames"),
    ("llm_kneser_ney_bigram", "token self-join + type-grain folds + TakeOrdered"),
    ("llm_bitext_mining_margin", "strided probes x one lang shard — ADC economics"),
    ("llm_split_leakage_audit", "prefix-fingerprint clusters + split column — one md5 + fp-grain window"),
    ("layout_manifest_prune", "file-grain manifest aggs; sorted-leg rank is the one full shuffle"),
    ("llm_char_entropy_compressibility", "char-bigram explode -> doc -> source shrinking grains"),
    ("multimodal_video_keyframes", "map-only decode+delta; per-video bounded windows"),
    ("llm_gopher_rules_gate", "token explode -> 3 doc-grain partial aggs -> source rollup"),
    ("agg_decay_counters", "map-side dyadic weight + type-grain partial agg"),
    ("multimodal_image_patches", "map-only decode+patchify; tile-grain rows"),
    ("events_sequential_obf_guardrail", "purchase pass -> day sums -> calendar-frame windows"),
    ("llm_rrf_hybrid_retrieval", "two bounded top-N legs + <=2N fusion join"),
    ("multimodal_audio_downsample", "map-only decode+decimate, clip-grain rows"),
    ("ts_granger_lite", "day-grain pre-agg + calendar-frame moment sums"),
    ("ts_rolling_median", "day-grain pre-agg + bounded median window"),
    ("llm_domain_balance_hill", "one linear token agg, then K rows"),
    ("graph_random_walks", "per-hop frontier x edges join, ~200 seeds"),
    ("llm_good_turing_spectrum", "bigram self-join -> type count -> spectrum"),
    ("multimodal_image_channel_hist", "map-only decode+bin; 48-row output"),
    # round-14 additions
    ("llm_heaps_law", "token explode -> type min-agg; 5-row broadcast checkpoints"),
    ("llm_term_burstiness", "(doc,term) partial agg -> term rollup -> TakeOrdered"),
    ("llm_softdedup_weights", "hash-cluster sizes + hash-keyed join back, no pairs"),
    ("llm_moe_router_balance", "map-side portable hash + E-row aggregate"),
    ("llm_context_chunking", "map-only closed-form chunk math + source rollup"),
    ("sample_neyman_allocation", "source-grain moments; allocation on |sources| frame"),
    ("emb_knn_graph_health", "~64 probes x probes integer dots + top-k windows"),
    ("multimodal_audio_clipping", "map-only decode+count; source rollup"),
    ("dq_uniqueness_profile", "one (col,value) unpivot shuffle for all columns"),
    ("graph_reciprocity", "edge build + edge-grain (dst,src) self-equi-join"),
]


def main() -> int:
    from hawaiidatapipeline_spark.queries import collect
    from hawaiidatapipeline_spark.session import get_spark

    # subset mode: `python tools/scaling_probe.py key1 key2` re-times only
    # those probes and patches their rows in the existing SCALING.md table
    # (full run with no args rewrites the whole file)
    subset = set(sys.argv[1:])
    probes = PROBES
    if subset:
        unknown = subset - {n for n, _ in PROBES}
        if unknown:
            print(f"unknown probe keys (add to PROBES first): {sorted(unknown)}")
            return 2
        probes = [(n, e) for n, e in PROBES if n in subset]

    spark = get_spark(app_name="hdp-scaling-probe")
    queries, _ = collect()
    # warm JVM + Python/Arrow worker pool
    queries["pricing_summary"](spark, SFS[0]).collect()
    spark.range(10).mapInPandas(lambda it: it, "id long").collect()

    import math
    import os

    lanes = list(SFS)
    have_sf3 = os.path.isdir(SF3)
    if have_sf3:
        lanes.append(SF3)
    else:
        print(f"NOTE: {SF3} missing — run tools/make_scale_lane.py for the 3rd point")

    results = []
    for name, expectation in probes:
        walls = []
        for sf in lanes:
            best = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                # noop sink, not collect(): full materialization of the
                # compute without the driver-side transfer — a wide-output
                # query (e.g. the fact-fact join) otherwise measures
                # single-threaded driver deserialization + GC, which is
                # noisy and NOT the scaling property under test (bench.py
                # uses the same discipline)
                queries[name](spark, sf).write.mode("overwrite").format(
                    "noop"
                ).save()
                best = min(best, time.monotonic() - t0)
            walls.append(best)
        growth = walls[1] / walls[0] if walls[0] > 0 else float("nan")
        if have_sf3:
            # log-log exponent over the 2nd interval (3× data): alpha > 1
            # means the SECOND decade is super-linear — the signature of a
            # pairwise blowup that small-scale fixed overhead was hiding
            g2 = walls[2] / walls[1] if walls[1] > 0 else float("nan")
            alpha2 = math.log(g2) / math.log(SF3_RATIO) if g2 > 0 else float("nan")
        else:
            g2, alpha2 = float("nan"), float("nan")
        results.append((name, walls, growth, g2, alpha2, expectation))
        line = f"{name}: sf0.01={walls[0]:.2f}s sf0.1={walls[1]:.2f}s growth={growth:.1f}x"
        if have_sf3:
            line += f" sf0.3={walls[2]:.2f}s growth2={g2:.2f}x alpha2={alpha2:.2f}"
        print(line)

    if subset:
        # patch mode: replace (or append) only the re-timed rows
        rows = {}
        for name, walls, g, g2, alpha2, expectation in results:
            w3 = f"{walls[2]:.2f}" if have_sf3 else "—"
            g2s = f"{g2:.2f}×" if have_sf3 else "—"
            a2s = f"{alpha2:.2f}" if have_sf3 else "—"
            rows[name] = (
                f"| {name} | {walls[0]:.2f} | {walls[1]:.2f} | {w3} "
                f"| {g:.1f}× | {g2s} | {a2s} | {expectation} |"
            )
        lines = open("SCALING.md").read().splitlines()
        # insert point: end of the FIRST table (perf_evidence.py idiom) —
        # a plain EOF extend would land rows after any later table and
        # the key match above would also be fooled by same-keyed rows
        # there (ADVICE r11)
        table_end = None
        in_table = False
        for i, ln in enumerate(lines):
            parts = ln.split("|")
            key = parts[1].strip() if len(parts) > 2 else ""
            if key in rows and table_end is None:
                lines[i] = rows.pop(key)
            if ln.startswith("|"):
                in_table = True
            elif in_table and not ln.startswith("|"):
                if table_end is None:
                    table_end = i
                in_table = False
        insert_at = table_end if table_end is not None else len(lines)
        for row in rows.values():  # probes new to the table
            lines.insert(insert_at, row)
            insert_at += 1
        open("SCALING.md", "w").write("\n".join(lines) + "\n")
        print("\npatched SCALING.md rows for subset")
        if have_sf3:
            bad = [n for n, _w, _g, _g2, a2, _e in results if a2 == a2 and a2 > 1.15]
            if bad:
                print(f"SUPER-LINEAR second interval (alpha2 > 1.15): {bad}")
                return 1
        return 0

    with open("SCALING.md", "w") as f:
        f.write(
            "# SCALING — 3-point runtime growth (sf0.01 → sf0.1 → sf0.3)\n\n"
            "Generated by `tools/scaling_probe.py`, best-of-2 after warmup.\n"
            "sf0.3 is the synthesized key-offset lane from\n"
            "`tools/make_scale_lane.py` (3× sf0.1 rows, FK-consistent,\n"
            "content-perturbed so dedup workload shape is preserved).\n\n"
            "Growth ≪ data ratio means fixed overhead / bounded output\n"
            "dominates; growth ≈ ratio tracks the linear passes. The gate is\n"
            "the SECOND interval: `alpha2` = ln(t_sf0.3/t_sf0.1)/ln(3) is the\n"
            "log-log scaling exponent once small-scale overhead has been\n"
            "amortized — alpha2 materially > 1 flags a pairwise blowup.\n"
            "(alpha2 ≲ 0 means wall time is still overhead-bound at sf0.1;\n"
            "short-wall queries sit in the scheduler-noise floor.)\n\n"
            "| query | sf0.01 s | sf0.1 s | sf0.3 s | growth (10×) | growth2 (3×) | alpha2 | expectation |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, walls, g, g2, alpha2, expectation in results:
            w3 = f"{walls[2]:.2f}" if have_sf3 else "—"
            g2s = f"{g2:.2f}×" if have_sf3 else "—"
            a2s = f"{alpha2:.2f}" if have_sf3 else "—"
            f.write(
                f"| {name} | {walls[0]:.2f} | {walls[1]:.2f} | {w3} "
                f"| {g:.1f}× | {g2s} | {a2s} | {expectation} |\n"
            )
    print("\nwritten SCALING.md")
    if have_sf3:
        bad = [n for n, _w, _g, _g2, a2, _e in results if a2 == a2 and a2 > 1.15]
        if bad:
            print(f"SUPER-LINEAR second interval (alpha2 > 1.15): {bad}")
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
