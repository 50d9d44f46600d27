"""The benchmark's workloads and metrics; ``python3 perfbench/spec.py``
rewrites ``BENCHMARK.json`` at the repository root from them."""

from __future__ import annotations

import json
import os

RUN_SECONDS = 16

WORKLOADS = {
    "trickle": "steady-state CDC: 1,000-record batches into ~1M keys of state; per-batch fixed "
               "cost and the O(state) bucket rewrite dominate; open-loop reads beside the writer "
               "show contention",
    "queries": "the 21 bench.py headline registry queries on the sf0.01 test fixture, closed "
               "loop, one client; the only workload that exercises operators",
}

# name, unit, better, bound (share of the parent's median it may worsen by)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("ingest_events_per_s", "1/s", "higher", 0.25),
    ("batch_latency_p50_ms", "ms", "lower", 0.25),
    ("read_latency_p50_ms", "ms", "lower", 0.25),
    ("read_latency_tail_ms", "ms", "lower", 0.25),
    ("live_read_latency_ms", "ms", "lower", 0.25),
    ("reads_ok_share", "share", "higher", 0.05),
    ("queries_total_s", "s", "lower", 0.25),
    ("queries_geomean_s", "s", "lower", 0.25),
    ("ok_share", "share", "higher", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

# The headline set of the repository's bench.py: one query per operator
# family, weighted toward shuffle aggregation, multiway join, windows,
# CDC materialization, dedup and ANN.
HEADLINE = (
    "q10_agg_pricing_summary", "q05_join_multiway", "q16_window_frames",
    "q17_topk_per_group", "q26_cdc_append", "q27_cdc_upsert_latest",
    "w_session_per_user", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "sim_topk_bruteforce", "sim_ann_ivf", "sim_ann_ivf_pq", "text_quality",
    "mm_decode_metadata", "q51_shipping_priority", "q53_region_share",
    "dedup_span_ngram", "sim_quantize_pq", "text_export_shards",
    "q84_range_join_binned", "w_gapfill_locf",
)

# name, unit, better
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("pipeline.trigger_overhead_ms", "ms", "lower"),
    ("pipeline.query_start_stop_ms", "ms", "lower"),
    ("pipeline.spark_jobs_per_batch", "count", "lower"),
    ("pipeline.input_rows", "count", "higher"),
    ("pipeline.poison_rows", "count", "lower"),
    ("pipeline.decode_materialize_ms", "ms", "lower"),
    ("sources.decode_events_per_s", "1/s", "higher"),
    ("sink.append.write_ms", "ms", "lower"),
    ("sink.upsert.write_ms", "ms", "lower"),
    ("sink.dlq.write_ms", "ms", "lower"),
    ("sink.append.rows", "count", "higher"),
    ("sink.upsert.rows", "count", "lower"),
    ("sink.dlq.rows", "count", "lower"),
    ("state.rows", "count", "lower"),
    ("state.bytes", "bytes", "lower"),
    ("state.buckets_touched_per_batch", "count", "lower"),
    ("state.rows_rewritten_per_event", "rows/event", "lower"),
    ("serve.point_lookup_ms", "ms", "lower"),
    ("serve.state_scan_ms", "ms", "lower"),
    ("serve.append_view_ms", "ms", "lower"),
    ("serve.attempts_per_read", "count", "lower"),
    ("serve.refused_reads", "count", "lower"),
    ("serve.fingerprint_ms", "ms", "lower"),
    ("serve.live_read_ms", "ms", "lower"),
    ("checkpoint.bytes", "bytes", "lower"),
    ("checkpoint.files", "count", "lower"),
    ("storage.leftover_dirs", "count", "lower"),
    *((f"query.{q}_s", "s", "lower") for q in HEADLINE),
    ("gen.reader_lateness_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("jvm.heap_peak_mb", "MB", "lower"),
)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as fh:
        json.dump(benchmark_json(), fh, indent=2)
        fh.write("\n")
