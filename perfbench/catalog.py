"""Every metric the benchmark reports, with its unit and direction.

BENCHMARK.json lists the same metrics; ``perfbench/tests/test_catalog.py``
keeps the two in step. Each workload reports every metric: a layer that a
workload does not exercise reports 0 work on it.
"""

from __future__ import annotations

# warehouse_sql's list: the reference's nine standing queries plus three
# wh_* analytics (aggregation, sessionization, a six-table join). The other
# six wh_* queries the benchmark could run are left out to keep a run within
# the time the benchmark may take.
WAREHOUSE_QUERIES = (
    "cdc_enriched",
    "cdc_leaderboard",
    "cdc_content_stats",
    "cdc_user_engagement",
    "cdc_minute_window",
    "cdc_parse_envelope",
    "cdc_apply_changelog",
    "cdc_incremental_agg",
    "cdc_asof_enrich",
    "wh_pricing_summary",
    "wh_sessions",
    "wh_market_share",
)

# The serving views the cdc_stream reader queries.
READ_VIEWS = ("leaderboard", "content_stats")

END_TO_END = (
    # session start + input generation + warmup
    ("setup_s", "s", "lower"),
    # bulk rows per second: the backlog replay on cdc_stream; input rows
    # generated and landed by sources.generator on the query workloads
    ("bulk_eps", "1/s", "higher"),
    # input-to-result latency: freshness (wire file written -> visible in
    # the serving views) on cdc_stream; request -> collected result through
    # plans.registry.queries() on the query workloads
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
    # executing an already defined read: a serving-view read during live
    # ingest on cdc_stream; the action of a built query on the others
    ("read_p50_ms", "ms", "lower"),
    ("read_tail_ms", "ms", "lower"),
    # one pass of the closed-loop client over its list
    ("pass_s", "s", "lower"),
)


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    out = [
        # peak resident set (VmHWM) of the Spark JVM at the end of the timed
        # part. Not an end-to-end metric: under the program's default 8g heap
        # it follows the GC's heap sizing more than the program's need, and
        # spreads too widely across seeds for any bound.
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("loadgen.lag_max_ms", "ms", "lower"),
        ("pipeline.increments", "count", "lower"),
        ("pipeline.events_per_increment", "count", "higher"),
        ("pipeline.live_eps", "1/s", "higher"),
        ("pipeline.start_s", "s", "lower"),
        ("pipeline.latest_offset_s", "s", "lower"),
        ("pipeline.add_batch_s", "s", "lower"),
        ("pipeline.commit_s", "s", "lower"),
        ("pipeline.other_s", "s", "lower"),
        ("pipeline.coverage", "ratio", "higher"),
        ("pipeline.backfill_eps_1core", "1/s", "higher"),
        ("debezium.parse_s", "s", "lower"),
        ("debezium.dead_letter_ratio", "ratio", "lower"),
        ("enrich.self_s", "s", "lower"),
        ("enrich.miss_ratio", "ratio", "lower"),
        ("sinks.write_warehouse_s", "s", "lower"),
        ("sinks.files_written", "count", "lower"),
        ("sinks.refresh_serving_views_s", "s", "lower"),
        ("sinks.warehouse_files", "count", "lower"),
    ]
    out += [(f"aggregates.{v}.read_s", "s", "lower") for v in READ_VIEWS]
    for q in WAREHOUSE_QUERIES:
        out += [
            (f"registry.{q}.build_s", "s", "lower"),
            (f"registry.{q}.action_s", "s", "lower"),
            (f"spark.{q}.tasks", "count", "lower"),
        ]
    out += [
        ("session.free_caches_s", "s", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()
