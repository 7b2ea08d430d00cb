"""The traced run: per-query and per-pass layer readings.

Traced passes alternate with untraced ones in the same process, so
``trace.overhead_frac`` compares like with like. Every reading is
reported per pass (the mean over the traced passes).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from layers import (
    ARROW_METRICS, LAYER_MODULES, SPARK_KEYS, STREAM_KEYS, SparkReadings,
    Tracer, covered, stream_listener_class,
)

# Tracer layers reported as ``<layer>.calls`` / ``<layer>.s``; the io
# layer's load_table is split out as ``io.load_calls`` / ``io.load_s``.
CALL_LAYERS = [k for k in LAYER_MODULES if k != "io"]
# the workload whose pass calls each layer (from the traced record)
CALLED_BY = {
    layer: "pipeline_x10"
    if layer in ("operators.dedup", "operators.multimodal")
    else "monitor_stream_sf001"
    for layer in CALL_LAYERS
}

# metric -> (unit, better, [(end-to-end metric, workload it should move)])
LAYER_METRICS: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    "session.start_s": ("s", "lower", [("setup_s", "all")]),
    "io.load_calls": ("count", "lower", [("pass_cpu_s", "monitor_stream_sf001")]),
    "io.load_s": ("s", "lower", [("pass_cpu_s", "monitor_stream_sf001")]),
    "queries.build_s": ("s", "lower", [("pass_cpu_s", "monitor_stream_sf001"), ("pass_cpu_s", "pipeline_x10")]),
    "queries.build_jobs": ("count", "lower", [("pass_cpu_s", "monitor_stream_sf001"), ("pass_cpu_s", "pipeline_x10")]),
    "queries.build_driver_s": ("s", "lower", [("pass_cpu_s", "monitor_stream_sf001"), ("pass_cpu_s", "pipeline_x10")]),
    **{
        f"{layer}.{kind}": (unit, "lower", [("pass_cpu_s", CALLED_BY[layer])])
        for layer in CALL_LAYERS
        for kind, unit in (("calls", "count"), ("s", "s"))
    },
    **{
        k: (
            "count" if k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks")
            else "frac" if k == "spark.core_busy_frac"
            else "B" if k.endswith("_bytes") else "s",
            "higher" if k == "spark.core_busy_frac" else "lower",
            [("pass_cpu_s", "pipeline_x10"), ("rows_per_cpu_s", "pipeline_x10")]
            + ([("peak_rss_mb", "all")] if k == "spark.gc_s" else []),
        )
        for k in SPARK_KEYS
    },
    **{
        k: ("B" if "bytes" in k else "s", "lower", [("pass_cpu_s", "pipeline_x10")])
        for k in ARROW_METRICS.values()
    },
    **{
        k: (
            "count" if k in ("streaming.batches", "streaming.state_rows", "streaming.input_rows")
            else "ms",
            "lower",
            [("pass_cpu_s", "monitor_stream_sf001")],
        )
        for k in STREAM_KEYS
    },
    "trace.overhead_frac": ("frac", "lower", []),
}

# per-pass seconds compared to name a workload's dominant layer
DOMINANT_CANDIDATES = (
    ["io.load_s", "queries.build_driver_s", "spark.action_s"]
    + [f"{layer}.s" for layer in CALL_LAYERS]
)


class TracedRun:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = Tracer()
        self.tracer.install()
        self.spark_readings = SparkReadings(spark)
        self.listener = stream_listener_class()()
        self.pass_readings: list[dict[str, float]] = []
        self.per_query: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))

    # ---- per query ------------------------------------------------------
    def before(self) -> None:
        self.spark_readings.mark()
        self.listener.take()
        self.tracer.take()
        self.tracer.enabled = True

    def after(self, build_start: float, build_end: float) -> dict[str, float]:
        """Readings of the query just run; ``build_*`` are epoch seconds."""
        self.tracer.enabled = False
        spark, intervals = self.spark_readings.collect()
        layers = self.tracer.take()
        out = dict(spark)
        out.update(self.listener.take())
        out["io.load_calls"] = layers.pop("io.load.calls", 0.0)
        out["io.load_s"] = layers.pop("io.load.s", 0.0)
        for layer in CALL_LAYERS:
            out[f"{layer}.calls"] = layers.get(f"{layer}.calls", 0.0)
            out[f"{layer}.s"] = layers.get(f"{layer}.s", 0.0)
        out["queries.build_jobs"] = float(
            sum(1 for a, _b in intervals if build_start <= a < build_end)
        )
        out["queries.build_driver_s"] = max(
            0.0, (build_end - build_start) - covered(intervals, build_start, build_end)
        )
        return out

    # ---- per pass -------------------------------------------------------
    def start_pass(self) -> None:
        self.spark.streams.addListener(self.listener)

    def end_pass(self, recs: list[dict]) -> None:
        self.spark.streams.removeListener(self.listener)
        tot: dict[str, float] = defaultdict(float)
        for rec in recs:
            rec = dict(rec, **{"queries.build_s": rec["build_s"], "spark.action_s": rec["action_s"]})
            for k, v in rec.items():
                if isinstance(v, (int, float)):
                    tot[k] += v
                    self.per_query[rec["query"]][k].append(v)
        tot["spark.core_busy_frac"] = tot["spark.exec_run_s"] / (tot["wall_s"] * self.cores)
        self.pass_readings.append(dict(tot))

    def metrics(self, start_s: float, untraced: list[list[dict]], traced: list[list[dict]]) -> dict:
        """Per-pass readings (mean over the traced passes);
        ``trace.overhead_frac`` compares CPU seconds per pass, which host
        steal does not inflate."""
        n = len(self.pass_readings)
        values = {"session.start_s": start_s}
        for key in LAYER_METRICS:
            if key not in values and key != "trace.overhead_frac":
                values[key] = sum(p.get(key, 0.0) for p in self.pass_readings) / n
        cpu = lambda passes: statistics.median(sum(r["cpu_s"] for r in recs) for recs in passes)  # noqa: E731
        values["trace.overhead_frac"] = cpu(traced) / cpu(untraced) - 1
        return {k: {"value": values[k], "unit": LAYER_METRICS[k][0]} for k in LAYER_METRICS}

    def record(self, bench, metrics: dict) -> dict:
        shares = {k: metrics[k]["value"] for k in DOMINANT_CANDIDATES}
        with open("/proc/cpuinfo") as fh:
            cpu = next((ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("model name")), "")
        return {
            "workload": bench.w.name,
            "seed": bench.seed,
            "cores": self.cores,
            "cpu": cpu,
            "traced_passes": len(self.pass_readings),
            "metrics": {k: m["value"] for k, m in metrics.items()},
            "dominant_layer": max(shares, key=shares.get),
            "layer_seconds_per_pass": shares,
            "per_query": {
                q: {k: sum(v) / len(v) for k, v in sorted(r.items())}
                for q, r in sorted(self.per_query.items())
            },
        }
