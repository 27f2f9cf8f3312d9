"""10x scale spot-check: time scale-notable queries at sf0.1 and the
synthesized sf1.0 lane (tools/make_scale_lane.py with 10 replicas —
100x the correctness fixture) and report the log-log exponent
alpha10 = ln(t_sf1.0 / t_sf0.1) / ln(10). This is the widest interval
the box can host and the closest local proxy for the 100 TB question:
a plan whose alpha10 stays ~1 scales linearly; materially above 1 is a
pairwise blowup. Writes SCALING10.md.

Run: ``python tools/scale10_probe.py [key ...]`` (default: full list;
build the lane first: ``python tools/make_scale_lane.py .cache/sf1.0 10``).
sf0.1 walls are best-of-2; sf1.0 is a single warmed pass (the 10x work
dwarfs scheduler noise).
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(REPO, ".cache", "sf1.0")
RATIO = 10.0

PROBES = [
    ("pricing_summary", "scan-bound agg — alpha ~ scan growth"),
    ("join_inner_sortmerge", "fact-fact join — linear in filtered rows"),
    ("llm_dedup_exact", "hash dedup — one narrow-hash exchange"),
    ("llm_dedup_minhash", "LSH — linear signatures, banded candidates"),
    ("llm_containment_pairs", "int64-hashed shingle self-join under corpus-scaled stop-shingle cap"),
    ("events_sessionize_gap", "per-user windows — n log n per partition"),
    ("graph_triangle_count", "degree-oriented wedges under hub cap"),
    ("graph_harmonic_centrality", "seeded frontier rounds — seeds scale with parts"),
    ("llm_semdedup_cells", "corpus-scaled SRP buckets — pair volume stays linear"),
    ("llm_semdedup_recall", "fixed ~1000-vector truth sample — flat exact leg"),
    ("emb_ivfpq_topk", "corpus-scaled K=max(4,ceil(N/512)) cells: cell size ~512, ADC pairs ~ N x 512/stride"),
    ("emb_ivfpq_rerank", "ADC shortlist + exact refine — adds probes x 30 fetch on top of the ADC scan"),
    ("emb_ivfpq_topk_nprobe2", "nprobe=2 shares one tagged ADC scan — 2 cells/probe, still cell-sized"),
    ("emb_ivfpq_recall_report", "cell-pruned ADC + strided exact-truth leg (probes x N / stride pairs)"),
    ("llm_dsir_weights", "hashed n-gram model fixed-size; linear explode + doc agg"),
    ("fulltext_bm25", "posting join + doc agg — linear in matched postings"),
    ("llm_bpe_merge_steps", "vocabulary-grain rounds after one linear word agg"),
    ("llm_dupspan_ngram", "gram inverted-index build — linear in tokens"),
    ("llm_corpus_pipeline_v6", "staged funnel incl. SemDeDup drop-list anti-join"),
    ("tpch_q21_late_supplier_blame", "semi+anti chain on one orderkey family"),
    ("agg_ddsketch_quantiles", "map-side log buckets — state row-count independent"),
    ("llm_corpus_pipeline_v7", "v6 funnel + DSIR selection — lambda broadcast + top-N"),
    ("graph_ppr_seeded", "seeded PPR — frontier-sized rounds, seeds scale with parts"),
    ("llm_quality_classifier_train", "logistic GD — one map-only pass per round, B+1-row weight broadcast, per-task partials"),
    ("llm_corpus_pipeline_v8", "v7 funnel + classifier gate broadcast + per-shard packing windows"),
    ("emb_kmeans_scalable_init", "k-means|| — R candidate broadcasts + folds; candidate-grain recluster"),
    ("llm_decontaminate_semantic", "probe-strided integer cosine sweep — probes ~65 at any N"),
    ("emb_intrinsic_dim_twonn", "TwoNN ID — probe-strided exact NN distances"),
    ("graph_betweenness_sampled", "Brandes sampled — corpus-scaled seeds, per-level frontier joins"),
    ("llm_influence_proxy", "classifier train + one linear influence pass over docs x B"),
    ("emb_jl_distortion", "16xd sign broadcast fold; strided probe pairs"),
    ("llm_gopher_rules_gate", "token explode -> doc-grain partial aggs"),
    ("llm_char_entropy_compressibility", "char-bigram explode -> doc -> source grains"),
    ("agg_theta_sketch_setops", "bounded synopses; exact audit leg linear"),
    ("graph_katz_centrality", "3 attenuated rounds, edge-grain join+agg"),
]


def main() -> int:
    from hawaiidatapipeline_spark.queries import collect
    from hawaiidatapipeline_spark.session import get_spark

    if not os.path.isdir(SF10):
        print(f"{SF10} missing — run: python tools/make_scale_lane.py {SF10} 10")
        return 1
    subset = set(sys.argv[1:])
    probes = [(n, e) for n, e in PROBES if not subset or n in subset]

    spark = get_spark(app_name="hdp-scale10-probe")
    queries, _ = collect()
    queries["pricing_summary"](spark, SF01).collect()
    spark.range(10).mapInPandas(lambda it: it, "id long").collect()

    results = []
    for name, expectation in probes:
        best01 = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            queries[name](spark, SF01).write.mode("overwrite").format("noop").save()
            best01 = min(best01, time.monotonic() - t0)
        t0 = time.monotonic()
        queries[name](spark, SF10).write.mode("overwrite").format("noop").save()
        w10 = time.monotonic() - t0
        g = w10 / best01 if best01 > 0 else float("nan")
        alpha = math.log(g) / math.log(RATIO) if g > 0 else float("nan")
        results.append((name, best01, w10, g, alpha, expectation))
        print(f"{name}: sf0.1={best01:.2f}s sf1.0={w10:.2f}s growth={g:.2f}x alpha10={alpha:.2f}")

    if subset:
        rows = {
            name: f"| {name} | {b:.2f} | {w:.2f} | {g:.2f}× | {a:.2f} | {e} |"
            for name, b, w, g, a, e in results
        }
        lines = open("SCALING10.md").read().splitlines()
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
        for row in rows.values():
            lines.insert(insert_at, row)
            insert_at += 1
        open("SCALING10.md", "w").write("\n".join(lines) + "\n")
        print("\npatched SCALING10.md rows for subset")
    else:
        with open("SCALING10.md", "w") as f:
            f.write(
                "# SCALING10 — 10x spot check (sf0.1 → synthesized sf1.0)\n\n"
                "Generated by `tools/scale10_probe.py` over the key-offset\n"
                "sf1.0 lane (10 replicas of sf0.1 — 100x the correctness\n"
                "fixture; 6M lineitem / 1M events / 50k docs / 20k vectors).\n"
                "`alpha10` = ln(t_sf1.0/t_sf0.1)/ln(10): ~1 is linear, <1 is\n"
                "overhead-amortized or bounded-output, materially >1 is a\n"
                "pairwise blowup. sf0.1 best-of-2; sf1.0 single warmed pass.\n\n"
                "| query | sf0.1 s | sf1.0 s | growth (10×) | alpha10 | expectation |\n"
                "|---|---|---|---|---|---|\n"
            )
            for name, b, w, g, a, e in results:
                f.write(f"| {name} | {b:.2f} | {w:.2f} | {g:.2f}× | {a:.2f} | {e} |\n")
        print("\nwritten SCALING10.md")
    bad = [n for n, _b, _w, _g, a, _e in results if a == a and a > 1.15]
    if bad:
        print(f"SUPER-LINEAR at 10x (alpha10 > 1.15): {bad}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
