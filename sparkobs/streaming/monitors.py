"""Structured Streaming monitors (OP-53..57).

Rebuild of the reference's continuous behavior — a cron'd DAG wrapping
a 10 s polling subprocess with 30 min auto-restart
(databand_airflow_monitor.py:13-18,90-115) — as checkpointed streams:

- micro-batch trigger (OP-53) ↔ ``trigger(processingTime=...)`` /
  ``availableNow`` for drain-and-stop;
- tumbling/sliding/session windows (OP-54/55) reuse the *batch*
  operators in sparkobs.operators.windows — the same DataFrame program
  runs in both modes;
- watermarks bound state for late data (OP-56);
- run-over-run drift (OP-57) as ``applyInPandasWithState`` keyed by
  entity, replacing the Airflow-Variable KV store.

Restart/timeout supervision is the checkpoint's job: a restarted query
resumes from the last committed offsets, which is what the reference's
retry/timeout machinery approximates by hand.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events(
    spark: SparkSession, events_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream, schema pinned (streams cannot infer).

    ``files_per_trigger=1`` forces one micro-batch per file (useful to
    exercise multi-batch state); the default lets availableNow drain in
    as few batches as possible.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.parquet(events_dir)


def stream_jsonl(
    spark: SparkSession,
    jsonl_dir: str,
    schema: str,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """JSONL file-source stream — continuous ingest of the format crawl
    shards actually arrive in. Schema is mandatory (streams cannot
    infer, and inference would be an extra pass anyway — the same
    contract as sources.files.read_jsonl); extra keys in records are
    skipped, absent keys become NULL, so producers can evolve shards
    without breaking the ingest."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.json(jsonl_dir)


_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _event_time(events: DataFrame) -> DataFrame:
    """Watermarks require TIMESTAMP (instant); map a TIMESTAMP_NTZ event
    time to the equal-wall-clock UTC instant, independent of session
    timezone (naive-as-UTC convention, matching the DuckDB oracle)."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        return events.withColumn(
            "ts",
            F.expr(f"timestamp_micros(timestampdiff(MICROSECOND, {_NTZ_EPOCH}, ts))"),
        )
    return events


def _to_ntz(col: str) -> F.Column:
    return F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {_NTZ_EPOCH})")


def streaming_tumbling(events: DataFrame, duration: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window metrics (OP-54/56): state for a window
    is dropped once the watermark passes its end — bounded memory under
    unbounded input."""
    return (
        _event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(_to_ntz("w.start").alias("window_start"), "n_events", "sum_value")
    )


def streaming_session(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Watermarked session windows per user (OP-55/56)."""
    return (
        _event_time(events)
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", _to_ntz("w.start").alias("session_start"), "n_events")
    )


def streaming_debounce(
    events: DataFrame,
    key_cols: list[str] | None = None,
    gap_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Continuous burst debounce — the streaming twin of
    :func:`sparkobs.operators.behavior.debounce_first_of_burst`: per
    key, each burst collapses to its FIRST row, held as session-window
    state (bounded: the watermark drops closed sessions). The session
    gap is shaved by 1 microsecond because Spark merges an event at
    EXACTLY ``last_ts + gap`` into the open session while the batch
    lag rule starts a new burst at ``gap >= gap_seconds`` — the shave
    makes the two definitions coincide at every timestamp. The burst's
    first row rides the aggregation as ``min(struct(ts, event_id,
    value))`` (unique (ts, event_id) order, the batch tie-break).
    """
    keys = key_cols or ["user_id", "event_type"]
    gap = f"{gap_seconds * 1_000_000 - 1} microseconds"
    return (
        _event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(*keys, F.session_window("ts", gap).alias("w"))
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("first"))
        .select(
            F.col("first.event_id").alias("event_id"),
            *keys,
            _to_ntz("first.ts").alias("ts"),
            F.round("first.value", 4).alias("value"),
        )
    )


def streaming_binned_counts(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 600.0,
    n_bins: int = 100,
) -> DataFrame:
    """Continuous two-sample histogram collection — the stream side of
    the lambda-free KS shape: per (half, bin) counts accumulate in the
    state store (state is bounded by geometry: 2 x ``n_bins`` cells,
    never by input size, so no watermark is needed), and the KS
    distance itself runs as a cheap batch follow-up over the drained
    cells. Halves split on ``event_id`` parity; binning matches
    profile.ks_drift_binned (clamped floor((v - lo)/width))."""
    width = (hi - lo) / n_bins
    bin_id = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(
            (F.col("event_id") % 2).alias("half"), bin_id.alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


DRIFT_STATE_SCHEMA = T.StructType([T.StructField("prev_count", T.LongType())])
DRIFT_OUT_SCHEMA = (
    "entity string, batch_count bigint, prev_count bigint, delta bigint"
)


def stateful_count_drift(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Stateful run-over-run count drift (OP-57): per-entity previous
    batch count kept in the state store; each micro-batch emits
    (count, prev, delta). The streaming rebuild of the
    Variable.get/set pattern (snowflake_table_monitor.py:97-113)."""

    def update(key, pdfs, state):
        import pandas as pd

        count = 0
        for pdf in pdfs:
            count += len(pdf)
        prev = state.get[0] if state.exists else None
        state.update((count,))
        yield pd.DataFrame(
            {
                "entity": [key[0]],
                "batch_count": [count],
                "prev_count": [prev],
                "delta": [None if prev is None else count - prev],
            }
        )

    return events.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=DRIFT_OUT_SCHEMA,
        stateStructType=DRIFT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_DRAIN_TIMEOUT_S = 300


def drain(
    writer: DataStreamWriter,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> str:
    """Drain all available input through a configured stream writer
    (sink set, trigger not) — availableNow, OP-53's drain-and-stop
    form — and return the query name it ran under: ``name`` plus a
    unique suffix, so repeated or concurrent drains in one long-lived
    session never collide on a query name, memory-sink table or
    checkpoint.

    The drain is VERIFIED, not assumed: a timeout raises (a silently
    ``stop()``-ed in-flight drain leaves a partial sink — a flake
    under full-suite load), and so does a query that terminates
    without progress, i.e. without running a single micro-batch (an
    empty source reports an idle progress event but never writes the
    sink). The query is always stopped.

    Two confs are scoped to exactly this drain (both are read at
    query start) and restored afterwards, on failure too:

    - ``shuffle_partitions``: stateful operators inherit the session's
      shuffle-partition count for their STATE exchange, fixed at
      stream start; 32 scheduled state tasks per micro-batch for a
      stream whose state is one key or a handful of groups is pure
      fixed overhead (measured ~2x the whole query wall at sf0.1,
      4.1 s -> 2.15 s at 2 partitions). Pass a small count for
      few-key streams; leave None where state cardinality scales.
      Partition count never changes values (state is key-addressed).
    - the trailing no-data micro-batch is suppressed in complete mode
      only: complete mode evicts no state and re-emits the whole
      result table every batch, so that batch re-emits an identical
      table (~0.15-0.3 s of state tasks per stream). Append and update
      streams keep the engine default, because watermark finalization
      and stateful timeouts need it.
    """
    name = f"{name}_{uuid.uuid4().hex[:8]}"
    scoped = {}
    if shuffle_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if output_mode == "complete":
        scoped["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    conf = writer._spark.conf  # the writer's own session (no public accessor)
    prev = {k: conf.get(k) for k in scoped}
    for k, v in scoped.items():
        conf.set(k, v)
    try:
        q = (
            writer.queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(_DRAIN_TIMEOUT_S):
                raise RuntimeError(
                    f"stream '{name}' did not drain within {_DRAIN_TIMEOUT_S}s"
                    " — its sink would be partial; refusing to read it"
                )
            if not any("addBatch" in p.durationMs for p in q.recentProgress):
                raise RuntimeError(
                    f"stream '{name}' terminated without reporting progress"
                )
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            conf.set(k, v)
    return name


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> str:
    """Drain ``stream_df`` into an in-memory table and return the table
    name to read. The drain contract is :func:`drain`'s: verified
    (raises on timeout or on a drain that reported no progress),
    conf-scoped (``shuffle_partitions`` and the no-data-batch conf are
    restored afterwards), trailing no-data batch suppressed only in
    complete mode, table name made unique per call."""
    return drain(
        stream_df.writeStream.format("memory"),
        name,
        output_mode,
        shuffle_partitions,
    )


def stateful_latest(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Streaming CDC compaction — the continuous form of
    :func:`sparkobs.operators.state.latest_by_key`: per key the state
    store holds the newest (ts, seq) row seen so far; every micro-batch
    in which a key appears emits that key's current latest row (update
    mode). Ties on ts break by event_id, matching the batch operator,
    so replaying the same batches always yields the same emissions.

    Expressed as a built-in streaming ``max_by`` aggregation (r11 —
    previously ``applyInPandasWithState`` with a per-key Python state
    tuple): per-key latest IS an aggregate (argmax under the
    (ts_us, event_id) order), so the JVM state store carries it with
    no Python workers in the loop, exact integer comparisons, and the
    same update-mode emission pattern (a key's aggregate row is
    rewritten — and therefore emitted — exactly in the batches where
    the key appears). The custom-stateful API remains showcased by
    the operators that genuinely need imperative state
    (stateful_count_drift, stateful_disorder, stateful_salted_distinct).

    Timestamps cross the boundary as naive-wall-clock epoch micros
    computed from the NTZ value itself — no session-timezone
    dependence, and directly comparable to DuckDB's ``epoch_us``.
    """
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "CAST(ts AS TIMESTAMP_NTZ))"
    )
    best = F.max_by(
        F.struct(
            us.alias("us"),
            F.col("event_id"),
            F.col("event_type"),
            F.col("value"),
        ),
        F.struct(us.alias("us"), F.col("event_id")),
    )
    return (
        events.groupBy(F.col(key_col).alias("user_id"))
        .agg(best.alias("__b"))
        .select(
            "user_id",
            F.col("__b.us").alias("ts_us"),
            F.col("__b.event_type").alias("event_type"),
            F.round("__b.value", 4).alias("value"),
        )
    )


def stream_stream_join_within(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: every left event matched
    to the right-stream events of the same key whose event time falls
    in ``[left.ts, left.ts + within]`` — the click→conversion /
    cause→effect correlation shape, fully streaming on BOTH sides
    (the stream-static band join covers the one-sided case).

    Both inputs carry watermarks and the join condition carries the
    time range, so Spark bounds each side's state buffer to
    watermark + range instead of holding the streams forever —
    without both, a stream-stream join is an unbounded-state plan and
    Spark (correctly) refuses to run it. Output is append-mode by
    construction; matches surface once both members have arrived.
    """
    lw = _event_time(left).withWatermark("ts", watermark).select(
        F.col("event_id").alias("left_id"),
        F.col(key_col).alias("k"),
        F.col("ts").alias("left_ts"),
    )
    rw = _event_time(right).withWatermark("ts", watermark).select(
        F.col("event_id").alias("right_id"),
        F.col(key_col).alias("rk"),
        F.col("ts").alias("right_ts"),
    )
    return lw.join(
        rw,
        (F.col("k") == F.col("rk"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}")),
    ).select("left_id", "right_id", F.col("k").alias(key_col))


def streaming_freshness(events: DataFrame) -> DataFrame:
    """Continuous freshness collection — the stream side of
    checks.freshness_check: the running max event time accumulates in
    the state store (state is ONE max cell regardless of input volume,
    so no watermark is needed) and the staleness/SLA verdict runs as a
    constant-time batch follow-up against the replayable as-of
    instant. Complete mode; the drained result is a single row. No
    watermark and no event-time cast needed — a global max needs no
    state expiry, and the naive timestamp compares correctly as-is."""
    return events.groupBy().agg(F.max("ts").alias("max_ts"))


DISORDER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_us", T.LongType()),
        T.StructField("max_event_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("max_late_us", T.LongType()),
        T.StructField("sum_late_us", T.LongType()),
        T.StructField("upd_seq", T.LongType()),
    ]
)
DISORDER_OUT_SCHEMA = (
    "n_events bigint, n_late bigint, max_late_us bigint, "
    "sum_late_us bigint, upd_seq bigint"
)


def stateful_disorder(
    events: DataFrame, ts_col: str = "ts", arrival_col: str = "event_id"
) -> DataFrame:
    """Continuous event-time disorder diagnostic — the stream side of
    state.event_disorder_stats: how late is late data, measured as it
    arrives, the live input to watermark tuning. State is SEVEN
    integer cells (running event-time max, the arrival-id high-water
    mark that ENFORCES the arrival-ordered precondition — a replayed
    or reordered batch raises instead of silently measuring the wrong
    sequence — and five accumulators) regardless of input volume, so
    no watermark is needed on the diagnostic itself.

    Exactness across micro-batch splits: each batch sorts its rows by
    the arrival column (a vectorized argsort + prefix np.maximum.
    accumulate — no per-row Python), seeds the prefix max from the
    state cell, and folds the batch's lateness into the accumulators;
    the result after ANY batch partitioning of an arrival-ordered
    stream is bit-identical to the batch operator's single pass (the
    queue entry certifies this against the same DuckDB oracle with a
    4-file, one-file-per-trigger stage). Everything funnels through
    one state cell — fine for a diagnostic whose per-batch work is a
    sort + three vector folds; at cluster scale feed it a per-source
    keyed variant (one cell per ingest shard) rather than sharding
    this global one.

    Update output mode: each batch emits the running verdict with an
    update sequence number; readers take the last row (max upd_seq)
    and derive the two unrounded ratio columns batch-side.
    """

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        NEG = np.iinfo("int64").min  # "no predecessor" / SQL NULL ts
        frames = [p for p in pdfs if len(p)]
        if state.exists:
            (mx, mx_id, n_ev, n_late, mx_late, sum_late, seq) = state.get
        else:
            mx, mx_id, n_ev, n_late, mx_late, sum_late, seq = (
                None, None, 0, 0, None, 0, 0,
            )
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            pdf = pdf.sort_values(arrival_col, kind="mergesort")
            batch_min = int(pdf[arrival_col].iloc[0])
            if mx_id is not None and batch_min <= mx_id:
                # the diagnostic measures EVENT-TIME lateness along the
                # ARRIVAL order; a batch whose ids precede the stored
                # high-water mark means the source replayed/reordered
                # arrivals and the accumulators would silently measure
                # the wrong sequence — fail loudly instead
                raise ValueError(
                    "stateful_disorder: arrival-ordered precondition "
                    f"violated (batch min {arrival_col}={batch_min} <= "
                    f"state high-water {mx_id}); feed an arrival-ordered "
                    "stage (see _stage_events_arrival_ordered)"
                )
            arr = pdf[ts_col].to_numpy("datetime64[ns]")
            valid = ~np.isnat(arr)
            # NULL ts maps to NEG: never late (us < prev is false when
            # prev is NEG), never the running max — SQL NULL semantics
            us = np.where(valid, arr.view("int64") // 1000, NEG)
            seed = np.int64(mx) if mx is not None else NEG
            run = np.maximum.accumulate(np.concatenate(([seed], us)))
            prev = run[:-1]  # strictly-preceding max, seeded from state
            late = valid & (us < prev)
            lateness = np.where(late, prev - us, 0)
            n_ev += len(us)
            n_late += int(late.sum())
            sum_late += int(lateness.sum())
            if late.any():
                batch_max = int(lateness.max())
                mx_late = (
                    batch_max if mx_late is None else max(mx_late, batch_max)
                )
            mx = None if int(run[-1]) == NEG else int(run[-1])
            mx_id = int(pdf[arrival_col].iloc[-1])
        seq += 1
        state.update((mx, mx_id, n_ev, n_late, mx_late, sum_late, seq))
        yield pd.DataFrame(
            {
                "n_events": [n_ev],
                "n_late": [n_late],
                "max_late_us": pd.array([mx_late], dtype="Int64"),
                "sum_late_us": [sum_late],
                "upd_seq": [seq],
            }
        )

    return events.withColumn("__k", F.lit(1)).groupBy("__k").applyInPandasWithState(
        update,
        outputStructType=DISORDER_OUT_SCHEMA,
        stateStructType=DISORDER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


SALTED_DISTINCT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen", T.ArrayType(T.LongType())),
        T.StructField("upd_seq", T.LongType()),
    ]
)
SALTED_DISTINCT_OUT_SCHEMA = (
    "entity string, salt int, n_partial bigint, upd_seq bigint"
)


def stateful_salted_distinct(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    n_salts: int = 32,
) -> DataFrame:
    """Continuous EXACT per-group distinct count with salt-sharded
    state — the stream side of shape.grouped_distinct_salted: exact
    streaming distinct must remember every distinct value somewhere,
    and a naive per-group state cell puts a hot group's entire value
    set in ONE state-store entry (the same single-reducer cliff the
    batch op dodges). Salting the state key by ``pmod(xxhash64(value),
    n_salts)`` splits each group's value set across ``n_salts``
    disjoint cells — every distinct value maps to exactly one cell, so
    the per-cell partial counts SUM to the exact answer and no cell
    holds more than ~1/n of a hot group's values.

    Each batch merges the cell's new values into its sorted state
    array (numpy union, no per-row Python) and emits the cell's
    running partial with an update sequence; the batch follow-up takes
    each cell's latest row and sums per group. NULL values are dropped
    up front — COUNT DISTINCT ignores NULLs, and a NULL would otherwise
    form a NULL-salt cell whose Arrow frame arrives as float64+NaN and
    miscounts. ``n_salts`` defaults to the batch twin's 32 so cell
    partials are directly comparable across the two modes. Memory is
    proportional to the distinct-value count — inherent to exactness;
    for unbounded cardinality use the HLL sketch twin instead."""

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        vals = [p[value_col].to_numpy() for p in pdfs if len(p)]
        if state.exists:
            seen, seq = state.get
            seen = np.asarray(seen, dtype="int64")
        else:
            seen, seq = np.empty(0, dtype="int64"), 0
        if vals:
            seen = np.union1d(
                seen, np.concatenate(vals).astype("int64", copy=False)
            )
        seq += 1
        state.update((seen.tolist(), seq))
        yield pd.DataFrame(
            {
                "entity": [key[0]],
                "salt": [int(key[1])],
                "n_partial": [int(seen.size)],
                "upd_seq": [seq],
            }
        )

    return events.where(F.col(value_col).isNotNull()).withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts)).cast("int"),
    ).groupBy(group_col, "__salt").applyInPandasWithState(
        update,
        outputStructType=SALTED_DISTINCT_OUT_SCHEMA,
        stateStructType=SALTED_DISTINCT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_error_counts(
    events: DataFrame,
    is_error: "F.Column",
    duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window total/error counts — the streaming
    collection half of checks.slo_burn_rate: state per window is two
    integer counters, dropped once the watermark passes the window
    end (bounded memory under unbounded input). Rates/burn/cumulative
    budget derive batch-side from the drained integer frame (the
    cumulative term needs the whole series, which only exists after
    the drain — and integers, not rates, are what merge exactly)."""
    return (
        _event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(is_error, 1).otherwise(0)).cast("long").alias("n_err"),
        )
        .select(_to_ntz("w.start").alias("bucket_ts"), "n", "n_err")
    )
