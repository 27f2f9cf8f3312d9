"""Measured shuffle-volume evidence — the quantitative companion to the
plan-shape audit (`explain_audit.py` proves the SHAPE; this proves the
BYTES). For each probed query: wall time, shuffle write/read bytes, input
bytes, and task count, harvested from the Spark UI REST API after running
the query. Writes PERF_EVIDENCE.md.

Run: ``python tools/perf_evidence.py [sf_dir]`` (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROBES = [
    # query, one-line expectation the numbers should back up
    ("pricing_summary", "6-group agg: shuffle bytes ~KB vs MB of input (partial agg)"),
    ("join_inner_broadcast", "broadcast dim join: near-zero shuffle"),
    ("join_inner_sortmerge", "fact-fact: AQE demotes to broadcast here (0 shuffle); SMJ shuffles both sides at scale"),
    ("join_asof", "union+window: ONE shuffle family, no pairwise blowup"),
    ("llm_dedup_exact", "hash dedup: shuffle ~ one narrow hash column"),
    ("llm_dedup_minhash", "LSH: narrow (id,band,sig) candidate exchange"),
    ("llm_chunk_documents", "chunking: ZERO shuffle (narrow-only plan)"),
    ("llm_decontaminate", "probe broadcast: corpus never shuffles"),
    ("tpch_q5_local_supplier_volume", "6-table join: shuffle only on the fact chain"),
    ("sample_bernoulli", "hash Bernoulli sample: ZERO shuffle (map-only filter)"),
    ("agg_heavy_hitters_cms", "count-min: shuffle ~ depth*width counters, not input rows"),
    ("join_interval_binned", "large-to-large interval join: equi-join shuffle, no NL blowup"),
    ("emb_quantize_int8", "int8 quantization: ZERO shuffle (map-only rewrite)"),
    ("etl_snapshot_diff", "snapshot diff: one full-outer shuffle; change set only survives"),
    ("llm_dedup_url", "URL dedup: shuffle ~ one canonical-url column, not documents"),
    ("etl_dedup_incremental", "incremental dedup: anti-join ships 16-byte hashes only"),
    ("llm_containment_pairs", "containment: shuffle bounded by kept shingles (stop-shingle cap)"),
    ("events_sessionize_gap", "gap sessionization: ONE user_id shuffle for two windows + agg"),
    ("llm_dupspan_ngram", "4-gram dupspan: codegen gram expansion, shuffle = gram agg only"),
    ("scan_partition_pruned_agg", "partition pruning: input bytes ~ 2 of 5 partitions"),
    ("llm_influence_proxy", "influence: val gradient = B+1-row broadcast; one linear pass over docs x B"),
    ("agg_theta_sketch_setops", "theta set ops: synopsis legs bounded (k hashes); exact audit leg is the linear part"),
    ("emb_jl_distortion", "JL audit: 16xd sign broadcast + per-vector fold; distances probe-pair grain"),
    ("multimodal_audio_fingerprint", "audio fingerprint: map-only decode+energy, frame rows ~10/clip"),
    ("llm_kneser_ney_bigram", "KN bigram LM: token self-join linear; model state type-grain"),
    # round-9 batch 7-15 scale-notable shapes
    ("events_pit_features", "PIT features: ONE user_id shuffle shared by all range windows"),
    ("emb_hamming_topk", "sign-signature scan: shuffle ~ 8-byte signatures, probes broadcast"),
    ("llm_trigram_backoff", "trigram LM: gram-keyed joins, shuffle ~ model tables not corpus"),
    ("multimodal_frame_dedup", "frame dedup: pixels stay in the decode map; shuffle = fingerprints"),
    ("llm_dedup_threshold_curve", "df-capped pair pass: shuffle bounded by informative tokens"),
    ("events_attribution_time_decay", "time-decay: user-keyed band join + conv-window normalizer"),
    ("ts_window_distinct_kmv", "windowed KMV: shuffle ~ (window, hash) distinct, state k/window"),
    ("multimodal_video_frames", "video decode+stride: map-only, ZERO shuffle"),
    ("tpch_q21_late_supplier_blame", "semi+anti chain: all legs on one orderkey exchange family"),
    ("graph_triangle_count", "wedge join on degree-oriented materialized edges: no cartesian"),
    ("graph_link_prediction", "common neighbors: wedge cost bounded by the stop-hub cap"),
    ("llm_lsh_band_stats", "LSH bucket audit: linear band table, (band,sig) agg — candidate join never runs"),
    ("graph_connected_components", "hash-min CC: per-round join+min on the materialized edge set"),
    ("llm_doc_outlier_zscore", "z-score gate: ONE stats shuffle; doc table joins a broadcast"),
    ("llm_bpe_pair_counts", "BPE pair counting: scan-bound, shuffle ~ alphabet^2 partials"),
    ("llm_bigram_logprob", "bigram LM scoring: linear bigram exchange, scalar vocab broadcast"),
    ("graph_kcore_peel", "k-core peel: per-round degree agg + semi-joins on materialized edges"),
    ("emb_ann_recall_report", "ANN recall: probe-strided GEMM rows, assignment broadcast"),
    ("dq_psi_drift", "PSI drift: shuffle ~ langs x bins, independent of corpus size"),
    ("emb_covariance_topk", "covariance top-k: in-array pair expansion, shuffle ~ d^2/2 partials, NO join"),
    ("emb_pca_power_iteration", "PCA squaring ladder: only S's d^2 agg sees N; rounds are tiny materialized frames"),
    ("events_rfm_segmentation", "RFM: percentile breakpoints broadcast — no global ntile total-order shuffle"),
    ("dq_order_total_reconciliation", "reconciliation: orderkey partial agg + colocated join, micro-cent ints"),
    ("llm_vocab_coverage_curve", "coverage curve: TakeOrdered top-1000, cumsum over <=1000 rows"),
    ("agg_spearman_corr", "distributed rank map: shuffle ~ distinct values + value-keyed joins, no single-partition window"),
    ("join_spatial_grid", "grid spatial join: equi-join on 4-deg cells, shuffle ~ points + box-cell fanout"),
    ("llm_feature_hashing", "feature hashing: explode + 1-byte-key partial agg, no vocabulary broadcast"),
    ("join_interval_overlap", "dual-binned interval overlap: bin-key equi-join, no nested loop"),
    # round-10: de-serialized value-grain cumulative paths
    ("agg_gini_lorenz", "Lorenz/Gini: range-sliced cumsum over the value grain, no single-partition window"),
    ("dq_ks_drift", "KS ECDFs: distributed prefix sums on distinct prices, serial pass = 1 row/partition"),
    ("sample_systematic", "systematic sample: zipWithIndex-style offsets, no global row_number window"),
    ("stream_static_enrich", "stream-static enrich: broadcast dim join, stream side unshuffled for the join"),
    # round-11 additions
    ("llm_dsir_weights", "DSIR: lambda model broadcast (B=256 rows) — corpus shuffle = hashed-feature partials + doc-keyed agg only"),
    ("llm_quality_classifier_train", "logistic GD: one map-only job per round (gradient + accuracy partials collected per task); no per-round shuffle"),
    ("emb_kmeans_scalable_init", "k-means||: candidate-vector broadcasts per round; shuffle = per-vector distance partials only"),
    ("llm_doremi_mixture", "DoReMi: one linear token pass; rounds are domain x vocab grain — shuffle stays constant-size"),
    ("llm_sequence_packing", "packing: narrow token map + range-partitioned prefix sums; no single-partition window"),
    ("emb_effective_rank", "participation ratio: in-array pair expansion — shuffle = d^2/2 partial-agg groups"),
    ("emb_triplet_margins", "triplet mining: ~65-probe exact slice; shuffle = probe x corpus distance partials"),
    ("llm_corpus_pipeline_v8", "v8 funnel: classifier-gate broadcast + per-shard packing windows on top of v7"),
    ("fulltext_bm25", "BM25: 3-row term broadcast = posting-list read; shuffle ~ matched postings + doc-grain partials"),
    ("llm_bpe_merge_steps", "BPE training: one word-frequency exchange, then vocabulary-grain rounds"),
    ("llm_semdedup_cells", "SemDeDup: shuffle ~ (vec,cell,bkt) keys + within-bucket pair partials, never corpus x corpus"),
    ("emb_ivfpq_rerank", "two-stage ANN: ADC cell scan + shortlist-sized exact fetch; probe lookup tables broadcast"),
    ("emb_ivfpq_topk", "IVF-PQ read: corpus-scaled K cells, ADC candidates ~ N*512/stride"),
    ("emb_ivfpq_topk_nprobe2", "nprobe=2: one tagged ADC scan serves both legs; ~65-probe exact-truth slice"),
    ("emb_ivfpq_recall_report", "recall audit: corpus-scaled probe stride bounds the exact leg at ~65 x N"),
    ("soql_geo_hull", "exact hull: one distinct-grid-point collect per group; quadratic test on AT survivors only"),
    ("llm_cosine_topk", "GEMM top-k: cached width probe; broadcast index + Arrow-batched local top-k"),
    ("graph_harmonic_centrality", "seeded BFS rounds: shuffle ~ (seed,node) frontier keys per hop"),
    ("llm_dupspan_removal_plan", "span removal: gram-keyed dup join; interval union is a per-doc window"),
    ("ts_pacf", "PACF: day-grain agg + per-type lag window — shuffle ~ series, output 3 rows/type"),
    ("agg_ddsketch_quantiles", "DDSketch: shuffle ~ (flag,bucket) counters, row-count independent"),
    ("emb_kmeanspp_init", "farthest-first seeding: K broadcast-one-vector passes, argmax = TakeOrdered(1)"),
    ("llm_corpus_pipeline_v7", "v7 funnel: v6 shuffles + B-row lambda broadcast + top-N — selection adds no pair-sized exchange"),
    ("graph_ppr_seeded", "seeded PPR: frontier-sized contrib join + partial agg per round"),
    # round-13 additions
    ("llm_ccnet_buckets", "CCNet terciles: model aggs + bigram join; rank window per language"),
    ("llm_decontaminate_semantic", "semantic decon: probe x corpus dot partials; norms broadcast"),
    ("emb_intrinsic_dim_twonn", "TwoNN: probe x corpus distance partials; 2 rows per probe after rank"),
    ("emb_whitening_audit", "whitening audit: shuffle = d-grain co-moment partials only"),
    ("graph_betweenness_sampled", "Brandes sampled: sigma/delta frames keyed (seed,node); no pair blowup"),
]


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read())


def stage_totals(ui: str, app_id: str) -> dict[str, int]:
    out = {"shuffle_write": 0, "shuffle_read": 0, "input": 0, "tasks": 0}
    for stage in _rest(f"{ui}/api/v1/applications/{app_id}/stages?status=complete"):
        out["shuffle_write"] += stage.get("shuffleWriteBytes", 0)
        out["shuffle_read"] += stage.get("shuffleReadBytes", 0)
        out["input"] += stage.get("inputBytes", 0)
        out["tasks"] += stage.get("numCompleteTasks", 0)
    return out


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.0f} {unit}" if unit == "B" else f"{n:.1f} {unit}"
        n /= 1024
    return f"{n:.1f} TB"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import os

    from pyspark.sql import SparkSession

    from hawaiidatapipeline_spark.queries import collect
    from hawaiidatapipeline_spark.session import prepare_session

    # the engine factory disables the UI; this tool needs its REST API
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = prepare_session(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("hdp-perf-evidence")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    if not ui:
        print("Spark UI disabled; cannot harvest metrics", file=sys.stderr)
        return 1
    queries, _ = collect()

    # subset mode: `python tools/perf_evidence.py [sf_dir] key1 key2` re-probes
    # only those keys and patches their rows in the existing PERF_EVIDENCE.md
    # table (the appended skew/streaming lanes survive untouched)
    subset = set(sys.argv[2:])
    probes = PROBES
    if subset:
        unknown = subset - {n for n, _ in PROBES}
        if unknown:
            print(f"unknown probe keys (add to PROBES first): {sorted(unknown)}")
            return 2
        probes = [(n, e) for n, e in PROBES if n in subset]

    # warm the JVM + Python worker pool so deltas measure the query alone
    queries["pricing_summary"](spark, sf_dir).collect()

    rows = []
    for name, expectation in probes:
        time.sleep(0.5)  # let async stage metrics settle before the snapshot
        before = stage_totals(ui, app_id)
        t0 = time.monotonic()
        queries[name](spark, sf_dir).collect()
        wall = time.monotonic() - t0
        time.sleep(0.5)
        after = stage_totals(ui, app_id)
        delta = {k: after[k] - before[k] for k in before}
        rows.append((name, wall, delta, expectation))
        print(
            f"{name}: {wall:.2f}s, shuffle_write={fmt_bytes(delta['shuffle_write'])}, "
            f"input={fmt_bytes(delta['input'])}, tasks={delta['tasks']}"
        )

    if subset:
        fmt = {}
        for name, wall, d, expectation in rows:
            fmt[name] = (
                f"| {name} | {wall:.2f} | {fmt_bytes(d['input'])} | "
                f"{fmt_bytes(d['shuffle_write'])} | {fmt_bytes(d['shuffle_read'])} | "
                f"{d['tasks']} | {expectation} |"
            )
        lines = open("PERF_EVIDENCE.md").read().splitlines()
        # insert point: end of the main table = first blank line after it
        table_end = None
        in_table = False
        for i, ln in enumerate(lines):
            parts = ln.split("|")
            key = parts[1].strip() if len(parts) > 2 else ""
            if key in fmt:
                lines[i] = fmt.pop(key)
            if ln.startswith("|"):
                in_table = True
            elif in_table and not ln.startswith("|"):
                if table_end is None:
                    table_end = i
                in_table = False
        insert_at = table_end if table_end is not None else len(lines)
        for row in fmt.values():  # probes new to the table
            lines.insert(insert_at, row)
            insert_at += 1
        open("PERF_EVIDENCE.md", "w").write("\n".join(lines) + "\n")
        print("\npatched PERF_EVIDENCE.md rows for subset")
        return 0

    with open("PERF_EVIDENCE.md", "w") as f:
        f.write(
            "# PERF_EVIDENCE — measured shuffle volumes (Spark UI REST)\n\n"
            f"Harvested at `{sf_dir}` by `tools/perf_evidence.py`. The plan-shape\n"
            "audit (`PLANS.md`) proves operators take the right strategies; this\n"
            "table proves the shuffle BYTES those strategies imply: ≈0 for\n"
            "broadcast joins and narrow-only plans, small partials for\n"
            "aggregates, and the MinHash candidate exchange stays ~MB against\n"
            "MBs of corpus. (`input` is the UI's inputBytes counter — local-FS\n"
            "reads under-report it; read the shuffle columns as the signal.\n"
            "Single-run walls; best-of-2 timings live in bench.py/BENCH_r*.)\n\n"
            "| query | wall s | input | shuffle write | shuffle read | tasks | expectation |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, wall, d, expectation in rows:
            f.write(
                f"| {name} | {wall:.2f} | {fmt_bytes(d['input'])} | "
                f"{fmt_bytes(d['shuffle_write'])} | {fmt_bytes(d['shuffle_read'])} | "
                f"{d['tasks']} | {expectation} |\n"
            )
    print("\nwritten PERF_EVIDENCE.md")
    # append the incremental-LSH hot-band lane (VERDICT r8 item 9) so the
    # candidate-volume evidence survives regeneration
    from tools.skew_stress import incremental_lsh_hot_band_lane

    lsh = incremental_lsh_hot_band_lane(spark)
    with open("PERF_EVIDENCE.md", "a") as f:
        f.write(
            "\n## incremental-LSH hot-band lane (tools/skew_stress.py)\n\n"
            "Planted boilerplate-collapsed band bucket (210 docs share one "
            "template):\n\n"
            "| lane | candidates | genuine near-dup pairs kept |\n"
            "|---|---|---|\n"
            f"| uncapped | {lsh['uncapped']} | — |\n"
            f"| max_bucket=50 | {lsh['capped']} "
            f"(x{lsh['uncapped'] / max(lsh['capped'], 1):.0f} reduction) | "
            f"{lsh['genuine_survived']}/{lsh['genuine_total']} |\n\n"
            "The hot-band guard is the stop-hub cap applied to LSH bands: "
            "degenerate buckets carry ~no per-pair signal, true near-dups "
            "still collide in their other bands "
            "(operators/dedup.incremental_minhash_candidates max_bucket).\n"
        )
    # append the heavy-tie rank lane (VERDICT r9 next-round #8) — proof the
    # de-serialized value-grain cumulative path is tie-proof, measured
    from tools.skew_stress import heavy_tie_rank_lane

    tie = heavy_tie_rank_lane(spark)
    with open("PERF_EVIDENCE.md", "a") as f:
        f.write(
            "\n## heavy-tie rank lane (tools/skew_stress.py)\n\n"
            f"Planted tie: 15% of {tie['n_fact_rows']} customers share one "
            "revenue value, run through operators/ranks.py "
            "partitioned_prefix_sums (the path behind agg_gini_lorenz / "
            "dq_ks_drift / the rank-map statistics):\n\n"
            "| check | value |\n"
            "|---|---|\n"
            f"| parity vs serial Window.orderBy | {tie['parity']} |\n"
            f"| hot-tie fact rows | {tie['hot_weight']} "
            "(collapse to 1 distinct-value row) |\n"
            f"| value-grain rows | {tie['n_distinct']} |\n"
            f"| largest cumsum partition | {tie['max_partition_rows']} rows "
            f"= {tie['max_partition_share']:.1%} of the grain "
            f"({tie['n_partitions']} partitions) |\n\n"
            "Ties cannot collapse a partition: the cumulative stage runs on "
            "the distinct-value grain where a tie block is one weighted row, "
            "and the only serial pass is the per-partition offset prefix "
            "(one row per partition).\n"
        )
    # append the streaming micro-batch latency table so regeneration keeps it
    from tools.streaming_latency import run as latency_run

    return latency_run(spark, write_to="PERF_EVIDENCE.md")


if __name__ == "__main__":
    raise SystemExit(main())
