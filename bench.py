"""Benchmark harness: runs the headline queries at SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Results are materialized with the noop sink (full execution, no
driver-side collect) so timings measure the distributed plan, not
row transfer to the driver.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


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


# Host-steal probe (r12, VERDICT r11 item #1a). BASELINE.md's r11
# characterization: this box suffers INTERMITTENT CPU STEAL — a fixed
# 2048x4096x2048 float32 numpy matmul swings 0.095 -> 1.06 s (11x)
# across back-to-back reps with zero local load, which poisoned the
# r11 graded sweep (mm_image_features_jpeg read 15.13 s official vs
# 1.34 s clean on identical code). The probe re-runs that exact
# matmul between query segments and records every reading into the
# artifact, so a poisoned sweep is detectable from the artifact
# itself instead of by manual forensics.
_PROBE_CLEAN_SEC = float(os.environ.get("SPARK_GRAFT_PROBE_CLEAN", "0.095"))
_PROBE_POISON_RATIO = float(os.environ.get("SPARK_GRAFT_PROBE_RATIO", "2.0"))
#: The per-query quick probe gets a LOOSER ratio than the segment
#: probe: residual JVM activity right after a query inflates a ~30 ms
#: matmul 2-3x even on a quiet host (measured), while genuine steal
#: windows read 10-30x — 4x separates the two populations cleanly.
_QPROBE_RATIO = float(os.environ.get("SPARK_GRAFT_QPROBE_RATIO", "4.0"))


def _steal_probe(reps: int = 3) -> float:
    """Best-of-`reps` wall seconds for the characterized fixed matmul.

    min-of-3 answers "is the host stealing RIGHT NOW": a momentary
    scheduler blip loses to the other two reps, a genuine steal window
    (seconds long per BASELINE.md) elevates all three.
    """
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((2048, 4096), dtype=np.float32)
    b = rng.standard_normal((4096, 2048), dtype=np.float32)
    a @ b  # untimed warm-up: first call pays BLAS thread-pool spin-up
    best = float("inf")
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        a @ b
        best = min(best, time.perf_counter() - t0)
    return best


class _QuickProbe:
    """Per-query steal bracket: a ~25 ms 1024x4096x1024 matmul timed
    immediately after each query (and, by chaining, immediately before
    the next), cheap enough to run 170+ times per sweep. The r12
    segment-probe experience showed steal windows shorter than a
    10-query cadence (a 4.3x query between two clean probes), so the
    bracket has to be per-query to assign blame.

    The clean reference is the RUNNING MINIMUM of every reading the
    run takes (plus the initial calibration): calibrating once up
    front is wrong because the calibration itself can land inside a
    steal window (observed: 0.35 s calibrated vs 0.03 s true clean,
    which silently raised the hot threshold 10x). The minimum
    converges to the host's true clean figure as soon as ONE quiet
    reading occurs; on a host with NO quiet moments nothing flags,
    which is also correct — uniform slowness is the boot's real
    speed, not steal. Bracket classification therefore happens
    RETROACTIVELY against the final converged reference."""

    def __init__(self) -> None:
        import numpy as np

        rng = np.random.default_rng(1)
        self._a = rng.standard_normal((1024, 4096), dtype=np.float32)
        self._b = rng.standard_normal((4096, 1024), dtype=np.float32)
        for _ in range(3):  # warm the BLAS pool before calibrating
            self._a @ self._b
        self.clean = float("inf")
        for _ in range(5):
            self.read()

    def read(self) -> float:
        best = float("inf")
        for _ in range(2):  # min-of-2: halves scheduler-jitter noise
            t0 = time.perf_counter()
            self._a @ self._b
            best = min(best, time.perf_counter() - t0)
        self.clean = min(self.clean, best)
        return best

    def read_settled(self) -> float:
        """Bracket read that separates HOST STEAL from the JVM's own
        wind-down (r14 measurement fix, documented in
        OPTIMIZATION_r14.md): a reading taken right after a query (even
        after the synchronous GC) competes with residual JVM cleanup
        threads and can read 5-20x clean on a perfectly quiet host —
        that residual decays within ~1-2 s, while the characterized
        steal windows (BASELINE.md Appendix A) persist for multiple
        seconds. So when the first reading is hot, re-read a few times
        with short sleeps and keep the MINIMUM: wind-down settles to
        clean (bracket correctly reads quiet), genuine steal stays
        elevated across the 2 s of re-reads (bracket correctly reads
        hot). Steal only ever inflates, so min is conservative. The r14
        before-sweep showed why this is needed: the coarse segment
        probe never left its clean band (max 0.096 s vs 0.19 s
        threshold) yet 50 queries kept 'hot' brackets purely because
        the converged clean reference (5.6 ms on this host) put the 4x
        threshold at 22 ms — below documented wind-down residual."""
        best = self.read()
        for _ in range(6):
            if not self.hot(best):
                break
            time.sleep(0.3)
            best = min(best, self.read())
        return best

    def hot(self, sec: float) -> bool:
        return sec > _QPROBE_RATIO * max(self.clean, 1e-4)


def _git_rev() -> str | None:
    """Short HEAD rev, stamped into artifacts so merge mode can warn
    when min()-merging timings measured on different code versions."""
    import subprocess

    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        return None


def _refresh_baseline_row(payload: dict, headline_names: set[str]) -> None:
    """Regenerate BASELINE.md's 'query-layer headline wall' table row
    from the just-measured artifact, so the prose can never drift from
    BENCH_LOCAL.json again (it went two rounds stale when hand-edited).
    Matched by the row's leading cell; only full sf0.1 headline runs
    rewrite it — the coverage check lives HERE (not just at call
    sites) because the r12 merge-repair path proved a caller can pass
    a clean-but-partial artifact: a 4-query decade sweep merged into
    its own subset file and clobbered the official row to '10.7 s for
    4 queries' (commit 0f650af) while the real committed artifact held
    218.7 s / 173."""
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
        f"sf{payload['sf']}, local[{payload['cpus']}], best-of-3 per query, "
        "noop sink, session recycled every "
        f"{os.environ.get('SPARK_GRAFT_RECYCLE', '50')} queries | "
        "`bench.py` |\n"
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


def _refreshes_row(written_path: str | None, poisoned: bool, sf: float) -> bool:
    """Whether a run that wrote its artifact to ``written_path`` may
    regenerate BASELINE.md's headline row: only a clean sf0.1 run whose
    artifact IS BENCH_LOCAL.json, the file the row describes. Ask with
    the path actually written (after ``_guarded_out_path``): a diverted
    run lands in BENCH_RUN.json and leaves the row alone, while an
    explicit SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json re-baseline keeps
    artifact and row together at any core count."""
    return (
        written_path is not None
        and os.path.basename(written_path) == "BENCH_LOCAL.json"
        and not poisoned
        and abs(sf - 0.1) < 1e-9
    )


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
    recycle_every = int(os.environ.get("SPARK_GRAFT_RECYCLE", "50"))
    spark = fresh_session()

    # Best-of-3 back-to-back per query: run 1 pays the one-time
    # whole-stage-codegen compile for that query's plan (several
    # seconds for wide aggregate plans); run 2 hits the codegen cache
    # and measures the steady-state distributed-plan cost; a third
    # rep rides out multi-second host-noise windows (observed on this
    # box: whole-query 2-5x swings with no local process running).
    # Repeats
    # must stay back-to-back: separating them by a full pass lets the
    # (100-entry) codegen cache evict the entry, and both runs pay
    # the compile.
    import gc

    # Steal-probe cadence: at run start, every PROBE_EVERY queries
    # (between queries, Spark idle), and at run end. Each reading is
    # (query_index, best_of_3_sec); any reading above
    # ratio x characterized-clean marks the run poisoned.
    probe_every = int(os.environ.get("SPARK_GRAFT_PROBE_EVERY", "25"))
    probe_readings: list[list] = []

    def probe(slot: int) -> None:
        sec = round(_steal_probe(), 4)
        probe_readings.append([slot, sec])
        tag = "STEAL" if sec > _PROBE_POISON_RATIO * _PROBE_CLEAN_SEC else "ok"
        print(f"BENCH PROBE at q{slot}: {sec}s [{tag}]", file=sys.stderr)

    probe(0)
    qp = _QuickProbe()
    print(f"BENCH QPROBE calibrated clean={qp.clean:.4f}s", file=sys.stderr)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    query_probes: dict[str, float] = {}
    brackets: dict[str, tuple] = {}
    last_qp = qp.clean  # the bracket BEFORE the first query

    def run_best_of_3(name: str) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    for qi, name in enumerate(names):
        if qi and probe_every > 0 and qi % probe_every == 0:
            probe(qi)
        if qi and recycle_every > 0 and qi % recycle_every == 0:
            spark.stop()
            spark = fresh_session()
            print(f"BENCH RECYCLE session at query {qi}", file=sys.stderr)
        ok = False
        try:
            pre = last_qp
            best = run_best_of_3(name)
            ok = True
        except Exception as exc:  # one broken query must not zero the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        # Release leftover blocks (localCheckpoints, broadcasts)
        # between queries: long multi-query sessions otherwise
        # accumulate JVM heap pressure that inflates later timings
        # 2-3x (GC pauses mid-query), which would misread as
        # operator cost. The post-probe reads AFTER this synchronous
        # GC — probing straight off the query's tail measures the
        # JVM's own wind-down (2-3x on a quiet host), not the host.
        df = None
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # Refresh the chained bracket even when the query ERRORED:
        # otherwise the next query's pre-bracket is a stale reading
        # taken before the failure, and a steal window starting during
        # the failed query can hide behind a clean-looking bracket.
        post = qp.read_settled()
        last_qp = post
        if ok:
            query_probes[name] = round(post, 4)
            brackets[name] = (pre, post)
            timings[name] = round(best, 3)
            tag = " [hot bracket]" if qp.hot(pre) or qp.hot(post) else ""
            print(f"BENCH OK {name}: {timings[name]}s{tag}", file=sys.stderr)

    # Retroactive bracket classification with the CONVERGED clean
    # reference (see _QuickProbe: inline classification would trust a
    # possibly-steal-inflated calibration).
    suspects = [
        n
        for n, (pre, post) in brackets.items()
        if n in timings and (qp.hot(pre) or qp.hot(post))
    ]
    if suspects:
        print(
            f"BENCH {len(suspects)} suspect(s) vs converged clean "
            f"{qp.clean:.4f}s: {', '.join(suspects)}",
            file=sys.stderr,
        )

    # Retry-on-steal: steal only ever INFLATES a wall reading, so a
    # suspect re-measured under a clean bracket takes min(old, new).
    # Two rounds, each waiting up to 60 s for the host to go quiet —
    # per-query retries converge where whole-sweep retries can't (a
    # clean 25-minute window may never occur on a stealing host; a
    # clean 5-second window almost always does). A global budget caps
    # the pass: a steal STORM marking dozens of suspects must not turn
    # an automated sweep into hours of quiet-waiting — whatever is
    # still hot when the budget runs out ships as unresolved, which is
    # the honest answer anyway.
    retry_budget = float(os.environ.get("SPARK_GRAFT_RETRY_BUDGET_SEC", "600"))
    retry_t0 = time.perf_counter()
    retried: list[str] = []
    retry_errors: dict[str, str] = {}
    for _round in range(2):
        if not suspects:
            break
        # Triage DESCENDING by recorded time: when the budget runs out
        # mid-pass (r12 driver sweep: 34 unresolved at 600 s), the
        # multi-second steal-inflated readings distort the total most,
        # so they must be re-measured first — not whatever sub-second
        # query happened to come earlier in registry order.
        suspects = sorted(suspects, key=lambda n: -timings.get(n, 0.0))
        still: list[str] = []
        for name in suspects:
            if time.perf_counter() - retry_t0 > retry_budget:
                print(
                    f"BENCH RETRY-BUDGET exhausted ({retry_budget}s) — "
                    f"{name} and later suspects stay unresolved",
                    file=sys.stderr,
                )
                still.append(name)
                continue
            pre = qp.read()
            for _ in range(30):
                if not qp.hot(pre):
                    break
                time.sleep(2)
                pre = qp.read()
            try:
                best = run_best_of_3(name)
            except Exception as exc:
                # NOT the shared errors dict: the query already has a
                # valid (if steal-inflated) timing from the main pass;
                # reporting it as both timed and errored would make the
                # artifact self-contradictory.
                retry_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(
                    f"BENCH RETRY-ERROR {name}: {retry_errors[name]}",
                    file=sys.stderr,
                )
                still.append(name)
                continue
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            post = qp.read_settled()
            new = round(min(timings[name], best), 3)
            improved = new < timings[name]
            timings[name] = new
            retried.append(name)
            if qp.hot(pre) or qp.hot(post):
                still.append(name)
                print(
                    f"BENCH RETRY-HOT {name}: {new}s "
                    f"(bracket {pre:.3f}/{post:.3f}s)",
                    file=sys.stderr,
                )
            else:
                print(
                    f"BENCH RETRY-CLEAN {name}: {new}s"
                    f"{' (improved)' if improved else ''}",
                    file=sys.stderr,
                )
        suspects = still

    probe(len(names))
    worst_probe = max(s for _, s in probe_readings)
    # poisoned = some query NEVER got a clean-bracketed reading; the
    # coarse segment probes are kept as the run's noise ledger but no
    # longer decide the flag (a steal window between queries does not
    # contaminate any query's accepted timing).
    poisoned = bool(suspects)
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "git_rev": _git_rev(),
        "steal_probe": {
            "matmul": "2048x4096x2048 float32, best-of-3 per reading",
            "clean_ref_sec": _PROBE_CLEAN_SEC,
            "poison_ratio": _PROBE_POISON_RATIO,
            "readings": probe_readings,
            "max_sec": round(worst_probe, 4),
            "quick_clean_sec": round(qp.clean, 4),
            "query_post_probes": query_probes,
            "retried": sorted(set(retried)),
            "unresolved": sorted(suspects),
            "poisoned": poisoned,
        },
    }
    if retry_errors:
        payload["steal_probe"]["retry_errors"] = retry_errors
    if poisoned:
        print(
            f"BENCH POISONED: {len(suspects)} quer"
            f"{'y' if len(suspects) == 1 else 'ies'} never got a "
            f"clean-bracketed reading ({', '.join(sorted(suspects))}) — "
            "those timings include host CPU steal; do not treat their "
            "drift as regression (BASELINE.md Appendix A)",
            file=sys.stderr,
        )
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))
    # Repair mode (SPARK_GRAFT_BENCH_MERGE=<artifact>): a subset run
    # re-measures its queries INTO an existing full artifact instead
    # of writing a separate file — the surgical fix for a sweep whose
    # retry pass left 1-2 unresolved steal suspects (observed r12: a
    # 173-query sweep fully clean except ONE 0.23 s query whose
    # brackets kept landing in steal windows; re-running 25 minutes of
    # clean measurements to repair 0.23 s is the wrong trade). Rules:
    # merged timings take min(old, new) — steal only inflates — a
    # merged query only LEAVES the unresolved list if this run's
    # brackets were clean, and the baseline row refreshes only once
    # the merged artifact has no unresolved queries left.
    merge_path = os.environ.get("SPARK_GRAFT_BENCH_MERGE")
    if only and merge_path and os.path.exists(merge_path):
        with open(merge_path) as fh:
            full = json.load(fh)
        # min() across runs is only valid when both runs measured the
        # SAME thing: refuse cross-SF merges outright (an sf0.1 repair
        # min()-merged into an sf1 artifact keeps nonsense "faster"
        # numbers), and warn on code-version mismatch (post-change
        # timings merged into a pre-change artifact keep stale minima).
        if full.get("sf") is not None and full["sf"] != sf:
            print(
                f"BENCH MERGE REFUSED: artifact sf={full['sf']} != run "
                f"sf={sf} — min()-merging across scale factors corrupts "
                "the artifact",
                file=sys.stderr,
            )
            spark.stop()
            return
        rev = _git_rev()
        if full.get("git_rev") and rev and full["git_rev"] != rev:
            print(
                f"BENCH MERGE WARNING: artifact measured at rev "
                f"{full['git_rev']}, this run is {rev} — min() keeps the "
                "stale faster reading if the code changed; re-run the "
                "full sweep if these queries' code differs between revs",
                file=sys.stderr,
            )
        sp = full.setdefault("steal_probe", {})
        unresolved = set(sp.get("unresolved", []))
        for name, sec in timings.items():
            if name not in full.get("queries", {}):
                # A birth can grow HEADLINE after the full artifact was
                # recorded; append its timing rather than forcing a full
                # re-sweep — but only a clean-bracketed reading, and only
                # for a query the current HEADLINE set actually contains
                # (anything else merged here would silently widen the
                # artifact past the official set).
                if name in headline_names and name not in suspects:
                    full["queries"][name] = sec
                    print(
                        f"BENCH MERGE {name}: appended {sec}s "
                        "(new headline query, clean bracket)",
                        file=sys.stderr,
                    )
                elif name in headline_names:
                    unresolved.add(name)
                    full["queries"][name] = sec
                    print(
                        f"BENCH MERGE {name}: appended {sec}s but "
                        "bracket was NOT clean — marked unresolved",
                        file=sys.stderr,
                    )
                continue
            old_sec = full["queries"][name]
            full["queries"][name] = min(old_sec, sec)
            if name not in suspects:  # this run's brackets were clean
                unresolved.discard(name)
                print(
                    f"BENCH MERGE {name}: {old_sec} -> "
                    f"{full['queries'][name]}s (clean bracket)",
                    file=sys.stderr,
                )
        full["value"] = round(sum(full["queries"].values()), 3)
        sp["unresolved"] = sorted(unresolved)
        sp["poisoned"] = bool(unresolved)
        sp.setdefault("merged_repairs", []).extend(sorted(timings))
        with open(merge_path, "w") as fh:
            json.dump(full, fh, indent=1)
        print(
            f"BENCH MERGED into {merge_path}: total {full['value']}s, "
            f"unresolved={sp['unresolved']}",
            file=sys.stderr,
        )
        if _refreshes_row(merge_path, sp["poisoned"], sf):
            _refresh_baseline_row(full, headline_names)
        print(json.dumps(payload))
        spark.stop()
        return

    # Self-recorded artifact: the driver's capture truncates long JSON
    # tails (BENCH_r04 lost 14 of 80 per-query timings), so persist
    # the complete payload next to the repo-root BENCH_r*.json files.
    # Subset sweeps (SPARK_GRAFT_BENCH_QUERIES) default to a separate
    # file so a targeted run never clobbers the full headline artifact.
    default_out = "BENCH_SUBSET.json" if only else "BENCH_LOCAL.json"
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", default_out)
    if out_path == default_out and not only and not os.environ.get("SPARK_GRAFT_BENCH_OUT"):
        out_path = _guarded_out_path(out_path, poisoned, sf, cpus)
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:
        print(f"BENCH WARN could not write {out_path}: {exc}", file=sys.stderr)
        out_path = None
    # Only a clean-probed full headline run that wrote the official
    # artifact may rewrite the baseline row — a poisoned sweep
    # embedding 11-17x steal into BASELINE.md is exactly the r11
    # failure this probe exists to stop, and a run the guard diverted
    # to BENCH_RUN.json must not describe BENCH_LOCAL.json.
    if not only and _refreshes_row(out_path, poisoned, sf):
        _refresh_baseline_row(payload, headline_names)
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
        "steal_probe_max_sec": round(worst_probe, 4),
        "steal_poisoned": poisoned,
        "queries_file": out_path and os.path.abspath(out_path),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
