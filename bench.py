#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed as a full cold plan->execute->collect cycle
(the session is shared and warmed by a trivial job first, so JVM
startup is excluded but per-query planning is included — matching
how the reference's Athena layer is billed per-query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_de_final_project_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
)

import __spark_entry__ as entrymod  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "return_pct_by_nation",
    # round-13 additions
    "pdf_extract_stats",
    "media_exif_stats",
    "scrub_exif_gps_docs",
    "image_caption_pairs",
    "pagerank_host_graph",
    "chat_validation_suite",
    "chat_prompt_dedup",
    "chat_prompt_near_dedup",
    "chat_loss_mask_stats",
    "chat_prompt_split",
    "image_caption_keepers",
    "chat_render_template",
    "chat_pack_sequences",
    "streaming_chat_validation_replay",
    # round-12 additions
    "html_table_rows",
    "html_table_records",
    "avro_roundtrip_stats",
    "tokenizer_roundtrip_docs",
    "tokenizer_export_manifest",
    "dedup_video_frames",
    "video_scene_cut_frames",
    "media_header_stats",
    "dedup_image_quality_keepers",
    "dedup_audio_fingerprint",
    # round-11 additions
    "main_content_multilingual_docs",
    "dedup_image_phash",
    "dedup_image_exact_groups",
    "unigram_lm_vocab",
    "unigram_encode_docs",
    # round-10 additions: the auto-sized dedup paths users should run
    # (r9 verdict: BENCH must carry the recommended path, not just the
    # fixed-literal oracle twins)
    "dedup_embedding_cosine_auto",
    "dedup_semantic_auto",
    "html_main_content_docs",
    "robots_wildcard_docs",
    "lang_id_classifier_docs",
    "perplexity_buckets_docs",
    "kneser_ney_logprob_docs",
    "temperature_mixture_rates",
    "repetition_signals_docs",
    # round-9 additions
    "bpe_merge_table",
    "registered_domain_psl_docs",
    "bpe_encode_docs",
    "dsir_importance_docs",
    "pii_card_scrub_docs",
    "script_mix_docs",
    "streaming_dedup_replay",
    # round-8 additions
    "host_blocklist_filter",
    "warc_extract_stats",
    "quality_classifier_scores",
    "host_link_graph",
    "orc_roundtrip_stats",
    "mojibake_repair_docs",
    "streaming_session_replay",
    "bloom_decontaminate_docs",
    "bpe_merge_candidates",
    "anchor_text_stats",
    "sentence_stats_docs",
    "robots_filter_docs",
    "zipf_fit_tokens",
    "streaming_drift_replay",
    "bloom_incremental_union",
    "cap_docs_per_host",
    "lexicon_filter_docs",
    # round-7 additions
    "url_canonicalize",
    "host_quality_stats",
    "dedup_url_canonical",
    "html_extract_text",
    "mixture_plan_rates",
    "streaming_kmv_replay",
    "pii_scrub_docs",
    "jsonl_roundtrip_stats",
    "unicode_nfc_docs",
    # round-6 additions
    "dedup_component_groups_portable",
    "sketch_kmv_distinct_portable",
    "epoch_shuffle_docs",
    "split_train_val_test_docs",
    "bigram_logprob_scores",
    "curation_manifest_docs",
    "sketch_cms_token_freq",
    "jl_project_embeddings",
    "rollup_incremental_distinct_kmv",
    "basket_pair_affinity",
    "chunk_text_cdc",
    "dedup_containment_pairs",
    "filter_disjunctive",
    "dim_join_rollup",
    "window_rank_orders",
    "hourly_event_stats",
    "latest_event_per_user",
    "json_extract_events",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_blocked",
    "doc_winnow_fingerprints",
    "ann_cosine_topk",
    "ann_cosine_topk_vec",
    "ann_ivf_topk",
    "text_stats_by_lang",
    "quality_filter_flags",
    "ngram_top_terms",
    "dedup_component_groups_lsh",
    "skew_plain_join",
    "skew_salted_join",
    "dedup_semantic_clustered",
    "funnel_user_steps",
    "dq_orders_suite",
    "spatial_near_customers",
    "fuzzy_name_pairs",
    # round 4 additions
    "asof_click_attribution",
    "range_join_event_sessions",
    "semi_join_fast_parts",
    "unpivot_part_metrics",
    "repetition_top_bigram",
    "pii_redact_names",
    "rollup_incremental_user_variance",
    # round 5 additions
    "zorder_pruned_scan",
    "dedup_exact_spans",
    "pca_embedding_projection",
    "ann_int8_topk",
    "weighted_sample_docs",
    "hard_negatives_contrastive",
    "pagerank_trade_nations",
    "cohort_retention",
    "rollup_incremental_value_quantiles",
    "interval_coverage_per_user",
    "event_transition_matrix",
    "drift_psi_event_values",
    "shard_docs_by_token_budget",
    "q5_local_supplier_volume",
    "weighted_median_price_by_flag",
    "winsorize_event_values",
    "ann_matryoshka_prefix_recall",
    "ivm_join_view_fold",
    "lateral_top_orders_per_customer",
    "mad_outlier_orders",
    # round 5 session additions
    "dedup_prefix_filter_pairs",
    "scd2_user_event_type",
    "heavy_hitter_tokens",
    "triangle_parts_copurchase",
    "bm25_doc_scores",
    "seasonal_hourly_outliers",
    "cdc_apply_user_state",
    "k_anonymity_customers",
    "inverted_index_postings",
    "ema_user_value",
    "entity_resolution_customers",
    "state_diff_user_snapshots",
    "profile_orders_table",
    "phrase_search_docs",
    "chi2_event_type_hour",
    "max_event_gap_per_user",
    "topk_orders_per_customer_agg",
    "latency_quantiles_by_type",
]


def drive(df) -> None:
    """Execute a query with a FULL-WIDTH action: a checksum over every
    output column. ``.count()`` would let Catalyst prune computed
    columns the query's whole point is to produce (VERDICT r1 #5);
    XOR-folding xxhash64 over the row struct forces every column to
    be evaluated while still collecting one row (XOR: no ANSI
    overflow, order-insensitive)."""
    from pyspark.sql import functions as F

    df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()


def measure_action_overhead(spark) -> float:
    """Fixed per-query cost of the drive() action itself (VERDICT r4
    #8): scheduling a 32-task stage + the checksum agg + py4j collect,
    measured on a cached trivial 32-partition frame whose own compute
    is ~0. At local[32] this is ~0.3 s and DOMINATES every sub-second
    query, masking plan regressions; reporting warm times both raw and
    overhead-adjusted separates plan cost from action noise. Min of 5
    (one-sided noise)."""
    from pyspark.sql import functions as F

    tiny = (
        spark.range(10_000)
        .repartition(32)
        .select("id", (F.col("id") + 1).alias("b"))
        .cache()
    )
    tiny.count()
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        drive(tiny)
        reps.append(time.perf_counter() - t0)
    tiny.unpersist()
    return round(min(reps), 3)


def bench_streaming_upsert(spark, sf_dir: str) -> dict:
    """Wall-clock for the foreachBatch keyed-MERGE sink: seed the
    target with 75% of events, then merge 3 micro-batches of inserts +
    re-deliveries (bumped version). Measures the per-batch MERGE cost
    (bucketed dynamic partition overwrite) the streaming query pays —
    the plumbing-free twin of tests/test_streaming.py's upsert test."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming.upsert import merge_batch

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmpd = tempfile.mkdtemp(prefix="bench_upsert_")
    target = os.path.join(tmpd, "keyed")
    try:
        t0 = time.perf_counter()
        merge_batch(spark, ev.filter(F.col("event_id") % 4 != 3), target,
                    "event_id", "ts")
        for i in range(3):
            inserts = ev.filter(
                (F.col("event_id") % 4 == 3) & (F.col("event_id") % 3 == i)
            )
            redeliveries = ev.filter(F.col("event_id") % 40 == i).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
            )
            merge_batch(spark, inserts.unionByName(redeliveries), target,
                        "event_id", "ts")
        elapsed = round(time.perf_counter() - t0, 3)
        final = spark.read.parquet(target)
        n_rows = final.count()
        n_keys = final.select("event_id").distinct().count()
        assert n_rows == n_keys, f"duplicate keys after merge: {n_rows} != {n_keys}"
        return {"upsert_seed_plus_3_batches_sec": elapsed, "rows": n_rows}
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


def bench_streaming_window(spark, sf_dir: str) -> dict:
    """Wall-clock for the watermarked tumbling-window aggregation over
    the whole events table delivered as 4 micro-batches
    (AvailableNow + maxFilesPerTrigger): the per-event cost of the
    stateful windowed-agg path, complementing the upsert sink number.
    Runs in append mode so the watermark actually EVICTS finalized
    windows between batches — the path the description claims — not
    complete mode, which would keep all window state forever and bench
    the no-eviction plan (ADVICE r4)."""
    import shutil
    import tempfile

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming.windows import (
        windowed_event_counts,
    )

    ev = load_tables(spark, sf_dir, ("events",), register_views=False)[
        "events"
    ].select("event_id", "ts", "user_id", "event_type", "value")
    tmpd = tempfile.mkdtemp(prefix="bench_stream_win_")
    src = os.path.join(tmpd, "src")
    try:
        ev.repartition(4).write.mode("overwrite").parquet(src)
        n_in = ev.count()
        with _state_partitions(spark) as sp:
            t0 = time.perf_counter()
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = windowed_event_counts(stream, watermark="2 hours")
            q = (
                agg.writeStream.format("memory")
                .queryName("bench_win")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            elapsed = round(time.perf_counter() - t0, 3)
        # append emits only watermark-finalized windows; the last ~2 h
        # of event time stays in (evictable) state when the query ends
        n_windows = spark.table("bench_win").count()
        return {
            "windowed_agg_append_4_batches_sec": elapsed,
            "events": n_in,
            "windows_emitted": n_windows,
            "window_state_partitions": sp.n,
        }
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


_STREAM_STATE_PARTITIONS = 8


class _state_partitions:
    """Scope the stateful-operator partition count for a streaming
    bench. Each state partition is a state store instance paying fixed
    per-batch cost (checkpoint files, snapshot, task dispatch) — at
    100k bench events the 32-partition default is pure overhead
    (measured on the stream-stream join: 13.9 s at 32 -> 4.3 s at 8,
    identical pairs), while a real deployment sizes this UP with state
    volume. The count used is reported in each bench's output dict."""

    def __init__(self, spark, n: int = _STREAM_STATE_PARTITIONS):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _write_time_ordered_files(ev, src: str, ts_col: str = "ts") -> None:
    """Land ``ev`` as 4 event-time-quantile files with increasing
    mtimes so the file stream delivers ordered micro-batches — the
    realistic arrival pattern for event-time pipelines, and the one
    that makes watermark-based lateness (and therefore the benched
    output) DETERMINISTIC: with shuffled files, which rows count as
    late depends on file pickup order and the result varies run to
    run."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.functions.numeric import epoch_us

    os.makedirs(src)
    with_us = ev.withColumn("_us", epoch_us(ts_col))
    qs = with_us.approxQuantile("_us", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(4):
        part = with_us.filter(
            (F.col("_us") > bounds[i]) & (F.col("_us") <= bounds[i + 1])
        ).drop("_us")
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/stage{i}")
        f = [x for x in os.listdir(f"{src}/stage{i}")
             if x.endswith(".parquet")][0]
        os.rename(f"{src}/stage{i}/{f}", f"{src}/f{i}.parquet")
        now = time.time()
        os.utime(f"{src}/f{i}.parquet", (now + i * 10, now + i * 10))


def bench_streaming_ss_join(spark, sf_dir: str) -> dict:
    """Wall-clock for the watermarked stream-stream interval join
    (purchase <- preceding clicks within 60 min) over the events table
    delivered as 4 event-time-ordered micro-batches — the
    buffered-state join path whose per-batch cost was previously
    untracked (VERDICT r4 #6)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming.joins import (
        click_purchase_attribution,
    )

    ev = load_tables(spark, sf_dir, ("events",), register_views=False)[
        "events"
    ].select("event_id", "ts", "user_id", "event_type")
    tmpd = tempfile.mkdtemp(prefix="bench_stream_ssj_")
    src = os.path.join(tmpd, "src")
    try:
        _write_time_ordered_files(ev, src)
        with _state_partitions(spark) as sp:
            t0 = time.perf_counter()
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            joined = click_purchase_attribution(
                stream.filter(F.col("event_type") == "purchase"),
                stream.filter(F.col("event_type") == "click"),
            )
            q = (
                joined.writeStream.format("memory")
                .queryName("bench_ssj")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            elapsed = round(time.perf_counter() - t0, 3)
        n_pairs = spark.table("bench_ssj").count()
        return {
            "ss_join_4_batches_sec": elapsed,
            "pairs": n_pairs,
            "ss_join_state_partitions": sp.n,
        }
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


def bench_streaming_sessionize(spark, sf_dir: str) -> dict:
    """Wall-clock for applyInPandasWithState sessionization (30-min
    gap) over the events table as 4 micro-batches — the custom
    stateful-operator path (VERDICT r4 #6). Counts only gap/timeout-
    closed sessions (append semantics; open state dies with the
    query)."""
    import shutil
    import tempfile

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming.stateful import (
        sessionize_stateful,
    )

    ev = load_tables(spark, sf_dir, ("events",), register_views=False)[
        "events"
    ].select("user_id", "ts", "value")
    tmpd = tempfile.mkdtemp(prefix="bench_stream_sess_")
    src = os.path.join(tmpd, "src")
    try:
        # ordered delivery (see _write_time_ordered_files): a 0-second
        # watermark over shuffled files would drop most rows as late
        # and bench nothing
        _write_time_ordered_files(ev, src)
        with _state_partitions(spark) as sp:
            t0 = time.perf_counter()
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            out = sessionize_stateful(stream, gap_minutes=30)
            q = (
                out.writeStream.format("memory")
                .queryName("bench_sess")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            elapsed = round(time.perf_counter() - t0, 3)
        n_sessions = spark.table("bench_sess").count()
        return {
            "stateful_sessionize_4_batches_sec": elapsed,
            "sessions_closed": n_sessions,
            "sessionize_state_partitions": sp.n,
        }
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


# per-round slope guard (VERDICT r4 #7): queries re-timed at sf0.01 so
# BENCH carries warm(sf)/warm(sf0.01) slopes, overhead-adjusted — a
# superlinear regression shows up as a slope jump even when the
# absolute sf0.1 time still looks healthy. All entries are in HEADLINE
# so the big-tier number is reused, not re-measured.
SCALING_QUERIES = [
    "hourly_event_stats",
    "latest_event_per_user",
    "doc_winnow_fingerprints",
    "quality_filter_flags",
    "dedup_minhash_lsh",
    "dedup_component_groups_lsh",
    # round-5 additions with a quadratic failure mode to watch: the
    # anchor self-join (span dedup) and the Gram aggregate (PCA)
    "dedup_exact_spans",
    "pca_embedding_projection",
]


def bench_scaling(spark, sf_dir, queries, warm, overhead) -> dict:
    small_dir = "/root/testdata/sf0.01"
    if os.path.realpath(sf_dir) == os.path.realpath(small_dir):
        return {}
    out = {}
    for name in SCALING_QUERIES:
        fn = queries[name]
        drive(fn(spark, small_dir))  # warmup
        reps = []
        for _ in range(2):
            t0 = time.perf_counter()
            drive(fn(spark, small_dir))
            reps.append(time.perf_counter() - t0)
        small = round(min(reps), 3)
        big = warm[name]
        slope = (max(big - overhead, 1e-3)) / (max(small - overhead, 1e-3))
        out[name] = {
            "sf0.01_warm_sec": small,
            "warm_sec": big,
            "slope_10x_data": round(slope, 2),
        }
    return out


LINE_BUDGET = 1800

# A warm query whose rep spread exceeds half its median was measured
# under interference (GC storm, noisy neighbor); flagging these lets
# the driver distinguish a real regression from a loaded box
# (VERDICT r7 item 1: BENCH_r07's headline was contention-inflated by
# ~50% and the artifact could not say so).
NOISY_SPREAD_FRACTION = 0.5


def run_quality(load_start, load_end, warm, spread, *, cpus: int) -> dict:
    """Self-describing run-quality block for the bench artifacts.

    ``cpus`` is the bench's core budget (the ``local[N]`` its session
    runs on), recorded as given. ``noisy`` is True when either (a) the
    1-min load average BEFORE this process started any Spark work
    already showed substantial external CPU demand (> 25% of that
    budget), or (b) a meaningful share of queries (> max(3, 10%))
    had rep spread > NOISY_SPREAD_FRACTION of their median — the
    within-run signature of cross-process contention."""
    noisy_queries = sorted(
        n for n in warm
        if spread.get(n, 0.0) > NOISY_SPREAD_FRACTION * max(warm[n], 1e-3)
    )
    external_load = load_start[0] > cpus / 4
    widespread = len(noisy_queries) > max(3, len(warm) // 10)
    return {
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "cpus": cpus,
        "noisy_queries": noisy_queries,
        "noisy": bool(external_load or widespread),
    }


def final_line(warm: dict, total_warm: float, sf, quality: dict | None = None) -> str:
    """The driver-visible stdout line, guaranteed <= LINE_BUDGET chars.

    The driver captures only the tail of stdout (~2000 chars), so the
    final line must fit with margin: keep the slowest queries in the
    map and drop the cheapest until the serialized line is under
    budget (the full warm map is in BENCH_DETAIL.json). Iterates down
    to keep == 0 so a line is ALWAYS built — the last candidate, the
    empty-queries payload, is ~160 chars, within budget by
    construction (pinned in tests/test_bench_line.py; BENCH_r04/r05
    came back \"parsed\": null when this line outgrew the window).
    """
    by_cost = sorted(warm, key=lambda n: (-warm[n], n))
    line = None
    for keep in range(len(by_cost), -1, -1):
        payload = {
            "metric": "median-of-3 warm wall-clock; full detail in BENCH_DETAIL.json",
            "value": total_warm,
            "unit": "sec",
            "queries": {n: warm[n] for n in by_cost[:keep]},
            "queries_omitted": len(by_cost) - keep,
            "sf": sf,
        }
        if quality is not None:
            payload["noisy"] = quality["noisy"]
            payload["load1_start"] = quality["loadavg_start"][0]
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= LINE_BUDGET:
            break
    return line


def _load_optional(name: str):
    """A sibling JSON artifact if present (heavy off-tier runs write
    these; the per-round bench only carries them forward)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sample external load BEFORE any Spark work: once the bench is
    # running, loadavg mostly measures the bench itself
    load_start = os.getloadavg()
    cpus = default_parallelism()
    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen paths so query timings are not startup noise
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = entrymod.queries()
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_spread: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        # JMH-style forced GC between trials: without it, garbage from
        # the previous query's run inflates later queries' times by up
        # to 2-4x in a long session (measured on ann_ivf_topk)
        spark.sparkContext._jvm.System.gc()
        # run 1: cold — includes Catalyst analysis + whole-stage
        # codegen compile for this plan shape (the per-query price an
        # Athena-style serverless engine pays every time)
        t0 = time.perf_counter()
        drive(fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
        # runs 2-4: warm/steady-state — codegen cached; what a
        # resident engine (and a TPC-style power run) measures.
        # MEDIAN of three reps (VERDICT r7): min-of-2 let one clean
        # rep hide systematic contention while one dirty rep dragged
        # the other metric; the median tolerates a single outlier in
        # either direction and the recorded spread (max-min) makes
        # residual interference visible in the artifact.
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            drive(fn(spark, sf_dir))
            reps.append(time.perf_counter() - t0)
        warm[name] = round(sorted(reps)[1], 3)
        warm_spread[name] = round(max(reps) - min(reps), 3)
    total_warm = round(sum(warm.values()), 3)
    total_cold = round(sum(cold.values()), 3)
    overhead = measure_action_overhead(spark)
    warm_adj = {
        name: round(max(t - overhead, 0.0), 3) for name, t in warm.items()
    }
    streaming = bench_streaming_upsert(spark, sf_dir)
    streaming.update(bench_streaming_window(spark, sf_dir))
    streaming.update(bench_streaming_ss_join(spark, sf_dir))
    streaming.update(bench_streaming_sessionize(spark, sf_dir))
    scaling = bench_scaling(spark, sf_dir, queries, warm, overhead)
    # slow-growth probe artifact (tools/scale_probe.py writes it; the
    # x10/x30 synthetic tiers are too heavy to rebuild per bench run)
    probe_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALING_PROBE.json"
    )
    scaling_probe = None
    if os.path.exists(probe_path):
        with open(probe_path) as fh:
            scaling_probe = json.load(fh)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Full detail (cold runs, adjusted times, streaming, scaling
    # slopes, the x10/x30 probe) goes to BENCH_DETAIL.json; the final
    # stdout line stays compact (headline total + warm per-query map)
    # so it fits the driver's output-capture window — BENCH_r04/r05
    # came back "parsed": null because this line had grown past it
    # (VERDICT r5 item 2).
    quality = run_quality(
        load_start, os.getloadavg(), warm, warm_spread, cpus=cpus
    )
    detail = {
        "queries_warm": warm,
        "queries_warm_spread": warm_spread,
        "run_quality": quality,
        "total_cold": total_cold,
        "queries_cold": cold,
        "action_overhead_sec": overhead,
        "queries_warm_adjusted": warm_adj,
        "total_warm_adjusted": round(sum(warm_adj.values()), 3),
        "streaming": streaming,
        "scaling": scaling,
        "scaling_probe": scaling_probe,
        # joint sf1 streaming-replay interference run (r9 verdict item
        # 9; tools/streaming_joint_bench.py writes it — too heavy to
        # rebuild per bench run, same posture as the scaling probe)
        "streaming_joint_sf1": _load_optional("STREAMING_JOINT_SF1.json"),
        "sf": float(sf) if sf else sf_dir,
    }
    # $SPARK_GRAFT_DETAIL redirects the detail artifact so an
    # off-tier run (e.g. the sf1 full-suite tier) never clobbers the
    # driver's sf0.1 BENCH_DETAIL.json
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    # the driver captures only the tail of stdout (~2000 chars), so
    # the final line must fit with margin: keep the slowest queries
    # in the map and drop the cheapest until the serialized line is
    # under budget (the full warm map is in BENCH_DETAIL.json).
    print(final_line(warm, total_warm, float(sf) if sf else sf_dir,
                     quality=quality))


if __name__ == "__main__":
    main()
