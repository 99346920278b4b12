"""Names and units of every metric the benchmark prints.

BENCHMARK.json lists the same names; perfbench/tests/test_perfbench.py keeps the
two in step. Every traced run prints every per-layer metric: a layer that a
workload does not exercise reads 0 there.
"""

from __future__ import annotations

# The registry entries the analytics workload times, one or two of each kind
# the registry has: CTE templates, hand-written runners, the all-pairs rank
# window, Python/Arrow nodes, floor-dominated and shuffle-heavy entries.
ANALYTICS_ENTRIES = (
    "topk_cosine",
    "mmr_rerank",
    "rare_token_share",
    "hard_negative_mining",
    "federated_label_topk",
    "basket_lift_pairs",
    "q1_pricing_summary",
    "bpe_tokenize",
)

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

INGEST_SPANS = (
    "sources.loaders",
    "pipeline.curate",
    "pipeline.populate_first",
    "pipeline.populate_delta",
    "operators.testbed.eval",
)
INGEST_COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_mb", "spill_mb", "driver_gap_ms",
)
SERVE_MODES = ("similarity", "threshold", "mmr", "int8")
ALL_COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "deserialize_ms", "shuffle_write_mb", "shuffle_fetch_wait_ms", "spill_mb",
    "driver_gap_ms",
)
_COUNTER_UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    # ingest layers -> setup_s on serve
    for name in ("sources.loaders", "pipeline.curate", "pipeline.populate_first",
                 "pipeline.populate_delta"):
        m[f"{name}.ms"] = "ms"
    m["pipeline.curate.exact_drop_ratio"] = "ratio"
    m["pipeline.curate.near_drop_ratio"] = "ratio"
    m["pipeline.populate_delta.new_ratio"] = "ratio"
    # storage layer
    m["catalog.store_bytes"] = "bytes"
    m["catalog.index_bytes"] = "bytes"
    m["catalog.store_files"] = "count"
    m["catalog.store_bytes_per_text_byte"] = "ratio"
    # tiered and batched retrieval
    m["operators.testbed.generate_ms"] = "ms"
    m["operators.testbed.eval_ms"] = "ms"
    m["operators.testbed.eval_questions_per_s"] = "1/s"
    m["operators.tier_guard.prepare_ms"] = "ms"
    # serving: retrieval per mode, chat nodes, HTTP
    for mode in SERVE_MODES:
        m[f"serving.chat.retrieve_ms.{mode}"] = "ms"
    for node in ("embed", "rephrase", "grade", "generate"):
        m[f"serving.chat.{node}_ms"] = "ms"
    m["serving.chat.grade_yes_ratio"] = "ratio"
    m["serving.http_api.overhead_ms"] = "ms"
    m["serving.repeat_share"] = "ratio"
    m["serving.requests"] = "count"
    m["serving.supported_percentile"] = "pct"
    # Spark counters of the ingest spans
    for span in INGEST_SPANS:
        for c in INGEST_COUNTERS:
            m[f"{span}.spark.{c}"] = _COUNTER_UNITS.get(c, "ms")
    # Spark counters of each serve retrieval mode
    for mode in SERVE_MODES:
        m[f"serving.chat.retrieve.{mode}.spark.driver_gap_ms"] = "ms"
        m[f"serving.chat.retrieve.{mode}.spark.jobs"] = "count"
    # registry entries -> throughput_per_s and latency on analytics
    for entry in ANALYTICS_ENTRIES:
        m[f"queries.{entry}.ms"] = "ms"
        m[f"queries.{entry}.spark.driver_gap_ms"] = "ms"
    for c in ALL_COUNTERS:
        m[f"queries.spark.{c}"] = _COUNTER_UNITS.get(c, "ms")
    # memory, session hygiene and the tracing run itself
    m["process.peak_rss_mb"] = "MB"
    m["leaked_views"] = "count"
    m["leaked_blocks"] = "count"
    m["trace.spans"] = "count"
    for name, unit in END_TO_END.items():
        m[f"trace.{name}"] = unit
    return m


PER_LAYER = _per_layer()
