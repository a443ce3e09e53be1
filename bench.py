#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints the full per-query JSON line
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
followed by a compact capture-proof trailer line
{"metric": "headline_total_sec", ...} (the driver records the output
tail; round 3's 81-query line got head-truncated and lost its total).

Each query is forced with a count() action (no driver-side collect of
payload rows). Wall-clock includes plan + execution, excludes session
startup and whole-stage-codegen compilation: before timing, every
headline query runs once at sf0.001 so the JVM has compiled each plan
shape (JMH-style warm-up — a deployed engine runs each query shape far
more than once per JVM). The timed runs then measure steady-state
execution at the target scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from event_streaming_toy_example_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: one per major engine surface (scan+agg, join, window,
#: codec+dedup pipeline, LSH dedup, ANN, text, streaming, generator).
#: Round-2 additions (curation family, incremental dedup, real WAV
#: decode) extend the list — pre-existing names are unchanged so
#: BENCH_r{N} stays per-query diffable across rounds.
HEADLINE = [
    "curate_sample_scrub",
    "curate_decontaminate",
    "dedup_incremental",
    "mm_wav_decode",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "join_local_supplier_volume",
    "grouped_zscore_outliers",
    "window_top_orders",
    "session_window_users",
    "pivot_type_by_day",
    "sql_shipping_priority",
    "asof_last_event_before_order",
    "pipe_dedup_batch",
    "pipe_dup_count",
    "latest_event_per_user",
    "curate_documents",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_topk_bruteforce",
    # rounds 1-3 benched this workload under the name "sim_ivf_topk";
    # round 4 turned that catalog entry into the hash-checked recall
    # CONTRACT (ANN + in-query brute-force), so the raw ANN workload —
    # what the number has always measured — now lives under the
    # `_neighbors` twin.  Diff r4's sim_ivf_topk_neighbors against
    # r3's sim_ivf_topk.
    "sim_ivf_topk_neighbors",
    "text_quality",
    "text_langid",
    "mm_media_features",
    "stream_hourly_counts",
    "gen_events_profile",
    # round-3 additions (appended; pre-existing names unchanged)
    "mm_bmp_decode",
    "sketch_cms_heavy_hitters",
    "mm_dhash_dedup",
    "curate_pack_sequences",
    "mm_gif_decode",
    "join_bloom_pruned_revenue",
    "sketch_kmv_setops",
    "curate_gopher_rules",
    "match_fuzzy_names",
    "dedup_substring",
    "graph_pagerank_nations",
    "mm_audio_dsp",
    "rp_project",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q14_promo_share",
    "tpch_q22_idle_balances",
    "stream_join_outer",
    # rounds 3-4 benched this workload under the name "sim_ivfpq_topk";
    # round 5 turned that entry into the hash-checked recall contract
    # (same construction as the round-4 sim_ivf_topk swap above), so
    # the raw ANN workload now lives under the `_neighbors` twin.
    # Diff r5's sim_ivfpq_topk_neighbors against r4's sim_ivfpq_topk.
    "sim_ivfpq_topk_neighbors",
    "snapshot_diff",
    "table_stats",
    "winsorize_revenue",
    "text_bpe_tokens",
    # same round-5 rename: the raw clustering workload benched rounds
    # 3-4 as "cluster_embeddings" is now the `_assignments` twin (the
    # catalog name carries the quality contract).
    "cluster_embeddings_assignments",
    "funnel_conversion",
    "cohort_retention",
    "timeseries_gapfill",
    "agg_incremental_merge",
    "dq_expectations",
    "window_analytics",
    "mm_gif_frames",
    "geo_grid_join",
    "stream_upsert_sink",
    "assoc_pairs",
    "graph_triangles",
    "sql_recursive_hierarchy",
    "mm_jpeg_decode",
    "text_lm_score",
    "curate_pii_redact",
    "curate_model_filter",
    "dedup_jaccard_prefix",
    "cep_pattern_match",
    "scd2_point_lookup",
    "search_tfidf_topk",
    "stream_cep_pattern",
    "variant_extract_stats",
    "pysource_sensor_agg",
    "curate_ksample_stratified",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_suppliers",
    "privacy_k_anonymity",
    "stream_watermark_flush",
    "map_surface_events",
    # round-4 additions (appended; pre-existing names unchanged)
    "layout_compact_invariance",
    "stream_running_stats",
    "mm_jpeg_progressive",
    "timeseries_ohlc",
    "source_orc_roundtrip",
    "source_csv_malformed",
    "graph_khop_reach",
    "stream_static_enrich",
    "window_range_frame",
    "sql_grouping_sets",
    "join_null_safe",
    "setop_union_by_name",
    # round-4 thirteenth wave: the remaining TPC-H shapes
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_priority",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_promotion_suppliers",
    # round-4 fourteenth wave: chunking + segment dedup/rebuild
    "text_chunk_windows",
    "dedup_segments_rebuild",
    # round-4 fifteenth wave: native XML + binaryFile sources
    "source_xml_roundtrip",
    "source_binaryfile_ingest",
    # round-4 sixteenth wave: join-IVM + streaming Python source
    "ivm_join_delta",
    "pysource_stream_agg",
    # round-4 seventeenth wave: cogrouped-map as-of merge + real resize
    "cogroup_asof_counts",
    "mm_boxdown2",
    # round-4 eighteenth wave: end-to-end entity resolution
    "entity_resolution",
    # round-4 nineteenth wave: streaming session_window + param SQL
    "stream_session_window",
    "sql_parameterized",
    # round-4 twentieth wave: the Arrow-native surfaces
    "arrow_token_surface",
    "arrow_grouped_stats",
    # round-4 twenty-first wave: LATERAL decorrelation + pandas dialect
    # + inlined SQL-defined functions
    "sql_lateral_topn",
    "ps_pandas_api_stats",
    "sql_udf_inline",
    "curate_contamination_score",
    # round-5 additions (appended; pre-existing names unchanged):
    # the unified transactional table's end-to-end contract and the
    # HLL error contract (sketch + exact distinct in one aggregate)
    "tx_snapshot_isolation",
    "sketch_hll_users",
    # data-skipping wave: predicate DELETE and the stats-pruned range
    # read on the transactional table
    "tx_delete_where",
    "tx_stats_skipping",
    # round-6 additions (appended; pre-existing names unchanged): the
    # streaming change-feed follower and the declared-partition-
    # transform pruned read
    "tx_feed_follower",
    "tx_partition_pruning",
    # round-7 additions (appended; pre-existing names unchanged): the
    # merge-on-read deletion-vector delete + its change-feed view, and
    # the 12-bit extended-sequential JPEG decode
    "tx_delete_dv",
    "tx_feed_dv_deletes",
    "mm_jpeg12_decode",
    # round-8 additions: the conditional MERGE (three-clause CDC apply
    # through deletion vectors, hash-checked vs a full-outer-join
    # oracle) and the two-dimension ZORDER BY pruned read
    "tx_merge_cdc",
    "tx_zorder_pruning",
    # round-9 additions: MERGE schema evolution, the SQL read surface
    # (tx_view), 3-column Morton, the merge-apply follower's pair twin,
    # Bloom-filter point-lookup pruning, SQL UPDATE (CoW + MOR), the
    # zero-copy shallow clone, and the SQL DML router
    "tx_merge_evolution",
    "tx_sql_surface",
    "tx_zorder3_pruning",
    "tx_feed_follower_pair",
    "tx_bloom_pruning",
    "tx_update_dml",
    "tx_clone_divergence",
    "tx_sql_dml",
    "tx_matview_incremental",
    "tx_pushdown_source",
    # round-10 additions: the SQL DDL / utility surface, inline time
    # travel in SQL text, and the factorized two-sided join matview
    "tx_sql_ddl",
    "tx_sql_timetravel",
    "tx_matview_join",
    "tx_matview_sketch",
    "tx_stream_source",
    "tx_auto_maintenance",
    # round-11 additions: the persistent warehouse catalog, SQL
    # constraints + generated columns, TRUNCATE + RESTORE
    "tx_sql_catalog",
    "tx_sql_constraints",
    "tx_truncate_restore",
    "tx_zorder_string_pruning",
    "tx_matview_join3",
    "tx_auto_vacuum",
    "tx_stream_sql",
    # round-12 additions
    "tx_stream_sink",
    "tx_matview_minmax",
    "tx_sql_views",
    "tx_token_pruning",
]

#: Headline entries whose FIRST run at a given sf_dir builds a
#: stage_once artifact (streaming input dirs, IVF/PQ/KMeans centroids
#: and codebooks, BPE merges).  bench runs each once untimed at the
#: target SF before the timed loop — see the pre-staging note in
#: main().
PRESTAGE = [
    "stream_hourly_counts",
    "stream_join_outer",
    "stream_upsert_sink",
    "stream_cep_pattern",
    "stream_watermark_flush",
    "sim_ivf_topk_neighbors",
    "sim_ivfpq_topk_neighbors",
    "text_bpe_tokens",
    "cluster_embeddings_assignments",
    "stream_running_stats",
    "source_orc_roundtrip",
    "source_csv_malformed",
    "stream_static_enrich",
    "source_xml_roundtrip",
    "source_binaryfile_ingest",
    "ivm_join_delta",
    "stream_session_window",
    "tx_snapshot_isolation",
    "tx_delete_where",
    "tx_feed_follower",
    "tx_partition_pruning",
    "tx_delete_dv",
    "tx_feed_dv_deletes",
    "tx_merge_cdc",
    "tx_zorder_pruning",
    "tx_merge_evolution",
    "tx_sql_surface",
    "tx_zorder3_pruning",
    "tx_feed_follower_pair",
    "tx_bloom_pruning",
    "tx_update_dml",
    "tx_clone_divergence",
    "tx_sql_dml",
    "tx_matview_incremental",
    "tx_pushdown_source",
    "tx_sql_ddl",
    "tx_sql_timetravel",
    "tx_matview_join",
    "tx_matview_sketch",
    "tx_stream_source",
    "tx_auto_maintenance",
    "tx_sql_constraints",
    "tx_truncate_restore",
    "tx_zorder_string_pruning",
    "tx_matview_join3",
    "tx_auto_vacuum",
    "tx_stream_sql",
    # round-12 additions
    "tx_stream_sink",
    "tx_matview_minmax",
    "tx_sql_views",
    "tx_token_pruning",
]


def _calibration(spark) -> dict:
    """Fixed, SF-independent calibration workload (VERDICT r6 item 7):
    three deterministic synthetic queries — codegen scan+agg, a 100k-key
    shuffle, and a hash/string pass — timed as medians of 3.  They
    measure the BOX (CPU, shuffle path, JVM state), not the engine, so
    cross-round bench comparisons can divide out machine drift: a
    headline entry that moved with the calibration moved with the box;
    one that moved against it moved because of code.  Protocol in
    docs/PLANS.md."""
    probes = {
        "scan_agg": lambda: spark.range(0, 50_000_000)
        .selectExpr("sum(id * 2 + 1) AS s", "avg(id % 97) AS a")
        .collect(),
        "shuffle": lambda: spark.range(0, 5_000_000)
        .selectExpr("id % 100000 AS k")
        .groupBy("k")
        .count()
        .count(),
        "hash_strings": lambda: spark.range(0, 1_000_000)
        .selectExpr("sha2(cast(id AS string), 256) AS h")
        .selectExpr("count(distinct substring(h, 1, 8)) AS n")
        .collect(),
    }
    out: dict = {}
    total = 0.0
    for name, fn in probes.items():
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        med = round(sorted(runs)[1], 3)
        out[f"{name}_sec"] = med
        total += med
    out["total_sec"] = round(total, 3)
    return out


def _ingest_throughput(spark, n: int = 100_000) -> dict:
    """End-to-end ingest rate, comparable to the reference's 278 ev/s
    single-node design rate (`BASELINE.md`): Kinesis-enveloped records
    on disk -> decode (unbase64+from_json) -> exact dedup -> enrich ->
    NDJSON staging write. One batch, one output dir — the same shape as
    the reference's per-minute batch (`toy_lambda_function.py:64-69`),
    so events/sec measures the processing path, not toy-scale
    many-tiny-files filesystem overhead.
    """
    import shutil
    import tempfile

    from event_streaming_toy_example_spark.operators.dedup import dedup_exact
    from event_streaming_toy_example_spark.operators.enrich import enrich_events
    from event_streaming_toy_example_spark.sources.generator import generate_events
    from event_streaming_toy_example_spark.sources.kinesis import (
        decode_kinesis_records,
        wrap_kinesis_envelope,
    )

    base = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        feed = f"{base}/feed"
        wrap_kinesis_envelope(generate_events(spark, n, seed=11)).select(
            "record"
        ).write.mode("overwrite").text(feed)
        t0 = time.perf_counter()
        records = spark.read.text(feed).withColumnRenamed("value", "record")
        staged = enrich_events(dedup_exact(decode_kinesis_records(records)))
        staged.write.mode("overwrite").json(f"{base}/staging")
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return {
        "events": n,
        "sec": round(dt, 3),
        "events_per_sec": round(n / dt),
        "reference_events_per_sec": 278,
    }


def _failure_note(exc: BaseException) -> str:
    """``"<Type>: <message>"`` for an artifact: the message's first
    line only, capped, since Spark errors carry whole plans."""
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0][:300] if lines else ''}"


def main(medians: bool = False) -> None:
    # Resolve against the FULL catalog (PRIMARY ∪ EXTENDED) so the
    # round-1 headline set stays diffable even though the driver-facing
    # __spark_entry__.queries() is trimmed to the ≤50 PRIMARY entries.
    from event_streaming_toy_example_spark.plans.catalog import ALL_QUERIES

    spark = get_spark(app_name="bench")
    qs = ALL_QUERIES
    # codegen warm-up: compile every headline plan shape on tiny data
    # so timed runs measure execution, not one-time JIT compilation
    warm_sf = "/root/testdata/sf0.001"
    # set-up failures are not fatal (the timed run still measures the
    # entry) but are recorded, so a broken warm-up or staging build is
    # visible in the artifact instead of hidden inside a timed run
    warmup_failures: dict[str, str] = {}
    if os.path.isdir(warm_sf):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_sf).count()
            except Exception as exc:
                warmup_failures[name] = _failure_note(exc)
        spark.catalog.clearCache()
    from event_streaming_toy_example_spark.caching import release_caches

    # Ingest is measured right after the tiny warm-up, BEFORE the
    # target-SF pre-staging and the query loop: its number used to sit
    # at the end and decayed with headline length purely from
    # accumulated JVM/GC pressure (49.9k ev/s after 28 queries in one
    # round, 27k after 76 in another, 44k after prestage moved in front
    # of it in an early round-4 run — same code path every time).
    # Position independence makes it comparable across rounds.
    ingest = _ingest_throughput(spark)

    # box calibration (same position every round, right after ingest):
    # SF-independent synthetic probes whose drift measures the MACHINE;
    # per-query ratios against cal["total_sec"] divide that drift out
    cal = _calibration(spark)

    # artifact pre-staging at the TARGET SF: these entries build
    # stage_once artifacts (streaming input dirs, IVF/PQ centroids and
    # codebooks, KMeans centroids, BPE merge tables) keyed per
    # (key, sf_dir) — the sf0.001 warm-up above does NOT build them for
    # SF_DIR, so in round 3 the first timed run of
    # stream_watermark_flush was billed 12.7 s for a 4.4 s query (the
    # staging rebuild landed inside the timed window, docs/PLANS.md).
    # One untimed run each makes the timed loop measure the operator,
    # not the one-time artifact build.
    prestage_failures: dict[str, str] = {}
    for name in PRESTAGE:
        try:
            qs[name](spark, SF_DIR).count()
        except Exception as exc:
            prestage_failures[name] = _failure_note(exc)
    spark.catalog.clearCache()

    n_runs = 3 if medians else 1
    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = qs[name]
        runs: list[float] = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            runs.append(round(time.perf_counter() - t0, 3))
            release_caches()  # drop per-query persisted intermediates
            # untimed JVM GC between queries (JMH-style): without it a
            # query's measurement includes collections triggered by its
            # predecessors' garbage (measured 2-3x inflation deep into
            # the loop, docs/PLANS.md bench-context variance note)
            try:
                spark._jvm.System.gc()
            except Exception:
                pass
        dt = sorted(runs)[len(runs) // 2]  # median (run 1 when n=1)
        timings[name] = dt
        total += dt
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    if medians:
        # the machine-readable standalone-median artifact VERDICT r4
        # item 5 asked for: round-over-round comparisons diff THESE
        # instead of in-loop one-shot values (which inflate with
        # headline length — r4 had 13 apparent regressions, all noise)
        artifact = {
            "metric": "headline_query_medians_sec",
            "value": round(total, 3),
            "unit": "sec",
            "runs_per_query": n_runs,
            "n_queries": len(timings),
            "queries": timings,
            # calibration-relative ratios: each entry's median divided
            # by the box probes' total — the number to diff across
            # rounds when the absolute seconds moved with the machine
            "queries_rel_calibration": {
                k: round(v / cal["total_sec"], 4) for k, v in timings.items()
            },
            "calibration": cal,
            "sf": sf_val,
            "ingest": ingest,
            "warmup_failures": warmup_failures,
            "prestage_failures": prestage_failures,
        }
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_MEDIANS.json"
        )
        with open(out, "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps(artifact))
        spark.stop()
        return
    artifact = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # calibration-relative ratios in the DRIVER artifact too
        # (VERDICT r8 item 8): the round-8 in-loop capture ran on
        # a 1.42x-loaded box and its raw totals read as a fake 2x
        # regression — with the ratios inline, BENCH_rN vs
        # BENCH_r{N-1} comparisons can be made box-independent
        # without reaching for BENCH_MEDIANS.json
        "queries_rel_calibration": {
            k: round(v / cal["total_sec"], 4) for k, v in timings.items()
        },
        "calibration": cal,
        "sf": sf_val,
        "ingest": ingest,
        "warmup_failures": warmup_failures,
        "prestage_failures": prestage_failures,
    }
    print(json.dumps(artifact))
    # VERDICT r12 item 2 asked for the per-query dict inside the FINAL
    # one-line JSON, but the driver's capture keeps only the last 2000
    # chars of stdout (every BENCH_rN.json tail is exactly 2000 chars;
    # round 3's 81-query single line was head-truncated inside that
    # window and parsed as null) and the 160 query NAMES alone total
    # 2859 chars — a final line carrying the dict can never parse and
    # would lose the headline total too.  So the full artifact is
    # (a) printed above as its own line, and (b) persisted to a file
    # on EVERY run so per-query numbers are machine-readable without
    # depending on the stdout window at all.
    full_out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LAST.json"
    )
    try:
        with open(full_out, "w") as f:
            json.dump(artifact, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line above still has it
    # capture-proof trailer: the driver keeps only the output TAIL, and
    # in round 3 the 81-query JSON line above got head-truncated —
    # BENCH_r03 recorded "parsed": null and the headline total survived
    # only in docs/PLANS.md.  A second, compact line AFTER the big one
    # guarantees the totals always land inside the capture window.
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(timings),
                "calibration": cal,
                "sf": sf_val,
                "ingest": ingest,
                # count only: the notes are in the full artifact
                "setup_failures": len(warmup_failures)
                + len(prestage_failures),
                # where the full per-query dict lives (see the capture-
                # window note above): the preceding stdout line and this
                # always-written file
                "queries_file": "BENCH_FULL_LAST.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(medians="--medians" in sys.argv[1:])
