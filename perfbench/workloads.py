"""The benchmark's workloads: which registry queries one pass runs, over
which generated inputs, and why.

A pass runs each listed query once as ``fn(spark, data_dir).count()``;
the seed permutes the order within each pass. Each workload is one
closed-loop client (the next query starts when the previous one ends)
in one process on ``local[nproc]``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float  # scale of the generated base tables (lineitem = 6M x sf)
    mirror: bool  # stage the seed's 10x mirror (datagen.mirror_tables)
    why: str
    # queries whose DuckDB oracle takes seconds on this input (pairwise
    # or per-window SQL): their fingerprint is recorded without the
    # cross-check
    no_oracle: tuple[str, ...] = ()

    def data_key(self, seed: int) -> str:
        """Inputs differ between seeds only for a mirrored workload."""
        return f"sf{self.sf}-seed{seed}" if self.mirror else f"sf{self.sf}"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "monitor_stream_sf001",
            (
                # monitor pass: shape, checks, listing
                "shape_summary_all", "monitor_suite_lake", "bucket_monitor_metrics",
                # streaming twin and file round trip
                "streaming_monitor_health_events", "jsonl_roundtrip_events",
            ),
            0.01,
            False,
            "monitor pass plus a streaming twin and a JSONL round trip at sf0.01: "
            "per-query fixed cost (io reads, eager build jobs, job scheduling, "
            "micro-batch commits) dominates",
        ),
        Workload(
            "pipeline_x10",
            (
                "near_dup_groups_lsh", "resize_synth_media", "large_orders_q18",
            ),
            0.005,
            True,
            "curation pass over a seeded 10x near-duplicate mirror of sf0.005: "
            "LSH dedup, an Arrow kernel and a join; "
            "driver time and eager build jobs outweigh executor work",
            no_oracle=("near_dup_groups_lsh",),
        ),
    )
}
