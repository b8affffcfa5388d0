"""Workload definitions and metric names shared by the runner, the
worker and the self-tests.

Each workload runs one generated table through its query calls; every
call is one ``get_queries()[name](spark, data_dir)`` followed by a
``noop`` write. Query groups name the per-layer throughputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import gen

PKG = "minefields_kafka_streams_deduplication_spark"

# Throughput group -> the queries whose calls it times.
GROUPS: dict[str, list[str]] = {
    "stream_watermark": ["dedup_stream_watermark"],
    "stream_ttl": ["dedup_stream_custom_ttl"],
    "batch_dedup": ["dedup_keep_first", "dedup_windowed", "dedup_batch_custom_ttl"],
    "exact_dedup": ["dedup_text_exact"],
    "near_dup": [
        "dedup_text_minhash",
        "dedup_text_simhash",
        "neardup_minhash_verified",
        "dedup_clusters_cc",
    ],
    "doc_filter": ["scrub_repeated_spans", "doc_repetition_metrics"],
}
ALL_QUERIES = [q for qs in GROUPS.values() for q in qs]
# Package modules (relative to the engine package) the queries live in.
MODULES = ["operators.dedup", "streaming.dedup_stream", "functions.neardup", "functions.text"]
# Short names of the two stream dedup operators in per-batch metrics.
STREAM_OPS = {"dedup_stream_watermark": "watermark", "dedup_stream_custom_ttl": "ttl"}


@dataclass(frozen=True)
class Workload:
    table: str
    size: int
    generate: Callable[[str, int, int], dict]
    groups: tuple[str, ...]
    why: str

    @property
    def queries(self) -> list[str]:
        return [q for g in self.groups for q in GROUPS[g]]


WORKLOADS: dict[str, Workload] = {
    "events_stream": Workload(
        table="events",
        size=15_000,
        generate=gen.gen_events,
        groups=("stream_watermark", "stream_ttl", "batch_dedup"),
        why="the paper's stream dedup operators and their batch twins on a "
        "Zipf-skewed event log with re-sends, post-TTL re-sends and out-of-order rows",
    ),
    "docs_dedup": Workload(
        table="documents",
        size=450,
        generate=gen.gen_docs,
        groups=("exact_dedup", "near_dup", "doc_filter"),
        why="LLM document dedup: exact/case copies take the exact-copy collapse, "
        "near-dup variants take the LSH, SimHash and connected-components path",
    ),
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}

STREAM_METRICS = [
    "addBatch_ms",
    "queryPlanning_ms",
    "walCommit_ms",
    "commitOffsets_ms",
    "data_batch_ms",
    "nodata_batch_ms",
    "micro_batches",
    "input_rows",
    "output_rows",
    "state_rows_total",
    "state_memory_bytes",
    "state_commit_ms",
    "rows_dropped_by_watermark",
    "kept_ratio",
]


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    m = {
        "session.cold_start_s": "s",
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "catalog.load_table_s": "s",
        "streaming.source.read_events_stream_s": "s",
        "registry.build_s": "s",
    }
    for q in ALL_QUERIES:
        m[f"{q}.build_s"] = "s"
        m[f"{q}.exec_s"] = "s"
        m[f"{q}.tasks"] = "count"
        m[f"{q}.out_ratio"] = "ratio"
    for op in STREAM_OPS.values():
        for k in STREAM_METRICS:
            unit = k.rsplit("_", 1)[-1] if k.endswith(("_ms", "_bytes")) else "count"
            m[f"dedup_stream.{op}.{k}"] = "ratio" if k == "kept_ratio" else unit
    for mod in MODULES:
        m[f"{mod}.call_s"] = "s"
        m[f"{mod}.jobs"] = "count"
        m[f"{mod}.stages"] = "count"
        m[f"{mod}.tasks"] = "count"
    for g in GROUPS:
        m[f"{g}.rows_per_s"] = "rows/s"
    m.update(
        {
            "jvm.peak_rss_mb": "MB",
            "jvm.gc_s": "s",
            "bench.first_pass_s": "s",
            "bench.jit_settle_s": "s",
            "bench.timed_passes": "count",
            "bench.timed_calls": "count",
            "bench.untraced_pass_s": "s",
            "bench.traced_pass_s": "s",
            "bench.trace_overhead_s": "s",
        }
    )
    return m
