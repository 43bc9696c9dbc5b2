"""Benchmark harness: runs the headline queries at SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[SPARK_GRAFT_CPUS] and prints
one JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}, then a short summary line.

Results are materialized with the noop sink (full execution, no
driver-side collect) so timings measure the distributed plan, not
row transfer to the driver. Each rep's host CPU steal is read from
/proc/stat; a query's time is its fastest rep with at most 1 % steal,
and a run with any query lacking such a rep is poisoned.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

from perfbench.host import cpu_ticks, steal_share


# Headline set: one per operator family (scan+agg, multi-join, window,
# range join, top-k, pivot, distinct). Extended as families land.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "join_broadcast_brand_revenue",
    "join_range_bucketed",
    "window_topk_per_segment",
    "sort_topk_lineitems",
    "pivot_event_matrix",
    "agg_distinct_users",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "ann_cosine_topk",
    "conv_roundtrip_events",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh_banded",
    "window_sessionize",
    "window_gapfill_resample",
    "window_ewma_decay",
    "sketch_kmv_distinct",
    "sketch_cms_heavy_hitters",
    "text_token_bpe",
    "dedup_simhash_hamming",
    "ann_ivf_topk",
    "agg_percentile_disc",
    "join_asof_events",
    "q8_market_share",
    "q18_large_orders",
    "text_repetition_filter",
    "text_decontaminate",
    "pack_sequences",
    "scalar_json_extract",
    "layout_zorder_lineitem",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "ann_int8_topk",
    "ann_mmr_select",
    "dedup_span_clean",
    "text_chunk_overlap",
    "text_pii_redact",
    "sample_stratified_sources",
    "sample_token_budget_mix",
    "sample_train_val_test",
    "report_shard_manifest",
    "report_key_skew",
    "sample_weighted_mix",
    "report_source_quality",
    "pipeline_training_corpus",
    "pipeline_rag_ingest",
    "mm_scene_cuts",
    "join_bloom_prefilter",
    "text_bpe_pair_counts",
    "embed_random_projection",
    "embed_doc_meanpool",
    "text_novelty_score",
    "text_oov_rate",
    "sketch_kmv_set_ops",
    "table_merge_upsert",
    "table_incremental_rollup",
    "table_snapshot_diff",
    "table_scd2_history",
    "window_funnel_stages",
    "agg_cohort_retention",
    "join_fuzzy_blocked",
    "sketch_hll_distinct",
    "graph_pagerank",
    "graph_triangle_count",
    "mine_association_rules",
    "score_quality_linear",
    "score_unigram_surprisal",
    "score_bigram_surprisal",
    "lm_bigram_generate",
    "layout_compaction_bins",
    "mm_phash_dedup",
    "mm_image_features_pgm",
    "agg_mode_exact",
    "join_scd2_asof",
    "mm_frame_dedup",
    "sql_revenue_by_nation",
    "text_bpe_train",
    "text_bpe_encode",
    "text_bm25_topk",
    "pairgen_contrastive_negatives",
    "order_curriculum_interleave",
    "mm_audio_fingerprint_match",
    "dq_rule_violations",
    "dq_outlier_mad",
    "dq_k_anonymity",
    "dedup_ngram_containment",
    "table_purge_users",
    "cluster_kmeans_int8_exact",
    "ann_lsh_banded_topk",
    "window_percent_rank_price",
    "agg_variance_exact",
    "agg_corr_exact",
    "agg_linreg_exact",
    "report_vocab_gini",
    "dedup_lsh_verified",
    "dedup_lsh_recall_report",
    "dedup_lsh_recall_sampled",
    "embed_feature_hash_chunks",
    "conv_oneof_roundtrip",
    "mm_image_features_bmp",
    "mm_image_features_jpeg",
    "mm_image_features_jpeg_color",
    "mm_thumbnail_jpeg",
    "mm_image_features_png",
    "mm_image_features_gif",
    "mm_audio_windows_wav",
    "mm_audio_windows_ulaw",
    "dedup_incremental_lsh",
    "sketch_histogram_quantiles",
    "window_time_range_sum",
    # winnowing joined the headline set after the interpreted-HOF
    # recompute fix (it was the one operator with superlinear cost)
    "text_winnow_fingerprint",
    "dedup_semdedup",
    "text_boilerplate_ngrams",
    "sample_temperature_mix",
    "window_cusum_changepoint",
    "dq_referential_integrity",
    "sample_perplexity_filter",
    "embed_pca_top1",
    "join_asof_nearest",
    "dq_freshness_lag",
    "dedup_boundary_overlap",
    "embed_pca_project",
    "pipeline_ccnet",
    "agg_skew_kurtosis_exact",
    "order_length_buckets",
    "graph_common_neighbors",
    "mine_sequence_bigrams",
    "dq_benford",
    "window_attribution_last_touch",
    "window_rolling_median",
    "agg_hhi_concentration",
    "ann_ivf_recall_report",
    "retrieval_hybrid_rrf",
    "report_token_fertility",
    "dq_drift_splithalf",
    "window_seasonal_baseline",
    "agg_time_to_convert",
    "graph_kcore",
    "sketch_error_report",
    "ann_quantization_error_report",
    "pairgen_hard_negatives",
    "dedup_threshold_sweep",
    "conv_decode_corrupt_tolerance",
    # round-7 scale/robustness variants (r8: added to the headline set
    # the same round they gained sf1 decade rows — see BASELINE.md)
    "dedup_threshold_sweep_sampled",
    "dedup_semdedup_bounded",
    "conv_encode_error_tolerance",
    # progressive JPEG (r8): multi-scan SOF2 through the distributed path
    "mm_image_features_jpeg_progressive",
    # bottom-k quantile sketch + rank audit (r8)
    "sketch_quantile_bottomk",
    # Adam7/palette/alpha PNG layouts through the distributed path (r8)
    "mm_image_features_png_adam7",
    # repeated/packed fields through the vectorized codec (r9)
    "conv_roundtrip_repeated",
    # map<k,v> fields through the vectorized codec (r9)
    "conv_roundtrip_map",
    # value-exact k-means population readout (r9)
    "cluster_kmeans_assign_counts",
    # well-known types through the vectorized codec (r10)
    "conv_roundtrip_wkt",
    # repeated messages + message-valued maps through the codec (r10)
    "conv_roundtrip_nested_repeated",
    # char-level exact-substring dedup (late r10)
    "dedup_substring_windows",
    # margin-based bitext/alignment mining (late r10)
    "pairgen_bitext_margin",
    # Heaps'-law vocabulary-growth diagnostic (late r10)
    "report_heaps_law",
    # exact-integer TF-IDF keyword extraction (late r10)
    "text_keyword_tfidf",
    # soft dedup: duplicate-aware sampling weights (late r10)
    "sample_downweight_duplicates",
    # char-level integer-bits entropy quality gate (late r10)
    "text_char_entropy",
    # product-quantization ANN with integer ADC scoring (late r10)
    "ann_pq_topk",
    # PQ recall audit vs brute-force truth (late r10)
    "ann_pq_recall_report",
    # IVF-PQ composite index (late r10)
    "ann_ivfpq_topk",
    # two-scale exact-substring dedup profile (r11)
    "dedup_substring_multiscale",
    # stride-sampled scale form of the substring profile (r11)
    "dedup_substring_windows_sampled",
    # kNN label-noise audit over the embeddings label column (r11)
    "dq_label_knn_consistency",
    # train->eval vs eval->train containment asymmetry audit (r11)
    "report_contamination_direction",
    # cluster-level downweight form — no per-doc join-back (r12)
    "sample_downweight_cluster_sizes",
    # DSIR importance-weighted data selection (r13)
    "sample_dsir_importance",
    # train/eval split-leakage audit (r13)
    "report_split_leakage",
    # NDCG/recall/MRR retrieval-quality eval (r13)
    "retrieval_eval_ndcg",
    # greedy k-Center coreset selection (r13)
    "sample_kcenter_coreset",
    # deterministic per-epoch shuffle + sharding (r13)
    "order_epoch_shuffle",
    # language-ID confusion-matrix eval (r13)
    "report_langid_confusion",
    # exact two-sample Kolmogorov-Smirnov drift test (r13)
    "dq_ks_drift",
    # per-column completeness profile (r13)
    "dq_completeness_profile",
]


#: A rep is clean when at most this share of host CPU time went to other
#: virtual machines while it ran (steal ticks in /proc/stat); the bound
#: perfbench uses for its passes. Steal only ever inflates a wall time.
STEAL_CLEAN = 0.01
#: Back-to-back reps per query: rep 1 pays the whole-stage-codegen
#: compile for the query's plan, later reps hit the codegen cache.
#: Separating reps by a full pass would let the (100-entry) codegen
#: cache evict the entry, and every rep would pay the compile.
REPS = 3
#: Further reps for a query none of whose first REPS reps was clean.
EXTRA_REPS = 3
#: Queries per Spark session (see main).
RECYCLE = 50
#: The committed artifact every cross-round comparison anchors on.
OFFICIAL = "BENCH_LOCAL.json"


def _time_query(run_once) -> list[list[float]]:
    """[wall seconds, host steal share] for each rep of one query: REPS
    reps, then up to EXTRA_REPS more until one of them is clean."""
    reps: list[list[float]] = []
    for i in range(REPS + EXTRA_REPS):
        if i >= REPS and any(s <= STEAL_CLEAN for _, s in reps):
            break
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        run_once()
        reps.append([time.perf_counter() - t0, steal_share(ticks, cpu_ticks())])
    return reps


def _classify(
    reps: dict[str, list[list[float]]],
) -> tuple[dict[str, float], list[str]]:
    """(per-query time, unresolved queries). A query's time is its
    fastest clean rep; a query with no clean rep is unresolved and keeps
    its fastest rep, which includes host steal."""
    timings: dict[str, float] = {}
    unresolved: list[str] = []
    for name, rs in reps.items():
        clean = [sec for sec, steal in rs if steal <= STEAL_CLEAN]
        if not clean:
            unresolved.append(name)
        timings[name] = round(min(clean or [sec for sec, _ in rs]), 3)
    return timings, sorted(unresolved)


def _refresh_baseline_row(payload: dict, headline_names: set[str]) -> None:
    """Regenerate BASELINE.md's 'query-layer headline wall' table row
    from the just-measured artifact, so the prose can never drift from
    BENCH_LOCAL.json again (it went two rounds stale when hand-edited).
    Matched by the row's leading cell; only full headline runs rewrite
    it — the coverage check lives HERE (not just at call sites) because
    a caller once passed a clean-but-partial artifact: a 4-query sweep
    clobbered the official row to '10.7 s for 4 queries' (commit
    0f650af) while the real committed artifact held 218.7 s / 173."""
    got = set(payload.get("queries", {})) | set(payload.get("errors", {}))
    if got != headline_names:
        missing = sorted(headline_names - got)[:5]
        print(
            "BENCH baseline row NOT refreshed: artifact covers "
            f"{len(got)}/{len(headline_names)} headline queries "
            f"(missing e.g. {missing})",
            file=sys.stderr,
        )
        return
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md")
    try:
        with open(path) as fh:
            lines = fh.readlines()
    except OSError:
        return
    t = payload["queries"]
    if not t:
        return
    vals = sorted(t.values())
    median = vals[len(vals) // 2]
    slow_name = max(t, key=t.get)
    n_err = len(payload.get("errors", {}))
    row = (
        "| query-layer headline wall | "
        f"{payload['value']:.1f} s total for {len(t)} queries "
        f"(`BENCH_LOCAL.json`), {n_err} errors, median {median:.2f} s, "
        f"slowest {t[slow_name]:.2f} s (`{slow_name}`) "
        "— AUTO-GENERATED by bench.py from the committed artifact | "
        f"sf{payload['sf']}, local[{payload['cpus']}], fastest of "
        f"{REPS}-{REPS + EXTRA_REPS} reps with <= {STEAL_CLEAN:.0%} host "
        f"steal per query, noop sink, session recycled every {RECYCLE} "
        "queries | `bench.py` |\n"
    )
    for i, line in enumerate(lines):
        if line.startswith("| query-layer headline wall |"):
            lines[i] = row
            with open(path, "w") as fh:
                fh.writelines(lines)
            print("BENCH updated BASELINE.md headline row", file=sys.stderr)
            return


def _guarded_out_path(
    out_path: str, poisoned: bool, sf: float, cpus: int
) -> str:
    """Official-artifact guard (r14, VERDICT item 1): BENCH_LOCAL.json
    is the committed baseline every cross-round comparison anchors on,
    so only a run COMPARABLE to it may take the default path — poisoned
    runs (the r13 sweep-B clobber), non-sf0.1 runs, and runs at a
    different core count than the committed artifact (the r13 driver
    c8 clobber: 160.9 s / cpus=8 replaced the 201.0 s / cpus=32
    baseline and shipped a red tests/test_baseline_row.py) divert to
    BENCH_RUN.json. An explicit SPARK_GRAFT_BENCH_OUT still wins at the
    call site: intent stated is intent honored."""
    divert = None
    if poisoned:
        divert = "steal-poisoned run"
    elif abs(sf - 0.1) >= 1e-9:
        divert = f"sf={sf} run (official artifact is sf0.1)"
    elif os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                official_cpus = json.load(fh).get("cpus")
        except Exception:
            official_cpus = None
        if official_cpus is not None and official_cpus != cpus:
            divert = (
                f"cpus={cpus} run (committed artifact measured at "
                f"cpus={official_cpus})"
            )
    if not divert:
        return out_path
    print(
        f"BENCH GUARD: {divert} — writing BENCH_RUN.json instead of "
        "the official BENCH_LOCAL.json (set SPARK_GRAFT_BENCH_OUT "
        "to override deliberately)",
        file=sys.stderr,
    )
    return "BENCH_RUN.json"


def _publish(payload: dict, headline_names: set[str], subset: bool) -> str | None:
    """Write the artifact; returns its path, or None if it could not be
    written. The file is SPARK_GRAFT_BENCH_OUT when set, else
    BENCH_SUBSET.json for a subset sweep, else whatever
    _guarded_out_path picks. BASELINE.md's row is regenerated only
    when this run wrote the official artifact and is not poisoned, so a
    diverted run can never rewrite it."""
    poisoned = payload["steal_probe"]["poisoned"]
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or (
        "BENCH_SUBSET.json"
        if subset
        else _guarded_out_path(OFFICIAL, poisoned, payload["sf"], payload["cpus"])
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:
        print(f"BENCH WARN could not write {out_path}: {exc}", file=sys.stderr)
        return None
    if os.path.basename(out_path) == OFFICIAL and not poisoned:
        _refresh_baseline_row(payload, headline_names)
    return out_path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from protarrow_spark.queries import all_queries
    from protarrow_spark.session import get_spark

    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]
    # The full-coverage set the baseline row requires: every headline
    # query registered at this code version. Captured BEFORE any
    # subset filter so a partial sweep can never pass the guard.
    headline_names = set(names)
    # Optional subset (comma-separated) for targeted sweeps, e.g. the
    # sf1 scaling decade over the headliner six.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        names = [n for n in wanted if n in queries]

    # Warm up the JVM + parquet footer caches with one cheap pass, and
    # the Python-UDF worker pool (spawn + pandas/pyarrow import is a
    # one-time per-executor cost, not per-query throughput) with one
    # trivial mapInPandas job across all cores. Re-run on every
    # session recycle so segment boundaries don't charge the first
    # query of a segment for cold-start costs.
    def fresh_session():
        spark = get_spark("protarrow-spark-bench", cpus=cpus)
        try:
            queries[names[0]](spark, sf_dir).count()
        except Exception:
            pass
        warm = spark.range(cpus, numPartitions=cpus)
        warm.mapInPandas(lambda it: it, "id long").mapInPandas(
            lambda it: it, "id long"
        ).count()
        return spark

    # Session recycling: long multi-query sessions accumulate JVM
    # state (codegen cache churn, broadcast cleanup backlog, heap
    # fragmentation) that inflates LATE queries 1.5-3x with no code
    # change — the r7 sweep measured pipeline_training_corpus (slot
    # ~#70) at 6.04 s vs ~3 s in a fresh session. Recycling every
    # RECYCLE queries bounds that drift; the per-segment warm-up
    # keeps the comparison apples-to-apples.
    spark = fresh_session()

    reps: dict[str, list[list[float]]] = {}
    errors: dict[str, str] = {}
    for qi, name in enumerate(names):
        if qi and qi % RECYCLE == 0:
            spark.stop()
            spark = fresh_session()
            print(f"BENCH RECYCLE session at query {qi}", file=sys.stderr)
        try:
            reps[name] = _time_query(
                lambda: queries[name](spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        except Exception as exc:  # one broken query must not zero the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        # Release leftover blocks (localCheckpoints, broadcasts)
        # between queries: long multi-query sessions otherwise
        # accumulate JVM heap pressure that inflates later timings
        # 2-3x (GC pauses mid-query), which would misread as
        # operator cost.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if name in reps:
            t, hot = _classify({name: reps[name]})
            steal = "/".join(f"{s:.3f}" for _, s in reps[name])
            tag = " [no clean rep]" if hot else ""
            print(f"BENCH OK {name}: {t[name]}s (steal {steal}){tag}", file=sys.stderr)

    timings, unresolved = _classify(reps)
    poisoned = bool(unresolved)
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "steal_probe": {
            "source": "host steal share per rep from /proc/stat",
            "clean_bound": STEAL_CLEAN,
            "rep_steal": {
                n: [round(s, 4) for _, s in rs] for n, rs in reps.items()
            },
            "unresolved": unresolved,
            "poisoned": poisoned,
        },
    }
    if poisoned:
        print(
            f"BENCH POISONED: {len(unresolved)} quer"
            f"{'y' if len(unresolved) == 1 else 'ies'} never got a rep "
            f"with <= {STEAL_CLEAN:.0%} host steal "
            f"({', '.join(unresolved)}) — those timings include host "
            "CPU steal; do not treat their drift as regression",
            file=sys.stderr,
        )
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))
    out_path = _publish(payload, headline_names, bool(only))
    # LAST stdout line: a compact self-describing summary that survives
    # the driver's 2,000-char tail capture (the full line above is
    # ~4 KB and was truncated to parsed:null in BENCH_r04/r05). Anyone
    # parsing the tail gets the headline number + where the complete
    # per-query payload lives.
    summary = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_unresolved": len(unresolved),
        "steal_poisoned": poisoned,
        "queries_file": out_path and os.path.abspath(out_path),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
