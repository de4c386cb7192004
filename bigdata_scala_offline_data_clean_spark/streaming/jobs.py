"""Structured Streaming counterparts of the batch archetypes.

The reference declares spark-streaming (pom.xml:26-29) but ships no
streaming code; these are the Spark-native incremental versions of its
batch semantics, for sources that arrive continuously:

- ``stream_append_clean``  -- archetype A as an incremental pipeline:
  every new file in the ODS drop directory is stamped and appended.
- ``stream_dedup``         -- W1 as streaming dedup: watermarked
  ``dropDuplicates`` on the business key.
- ``stream_windowed_counts`` -- watermark + tumbling-window aggregation
  (the canonical late-data-tolerant rollup).

All return lazily-started ``DataStreamWriter``-ready frames; callers pick
sink/trigger.  ``run_available_now`` drives any of them over the data
already present (used by tests and the driver contract -- identical
semantics to a continuous run, bounded execution).

Scale notes: file-source streaming lists the input directory
incrementally (``maxFilesPerTrigger`` bounds batch size); state for the
dedup/window operators is keyed and pruned by the watermark, so state
size is O(keys in the watermark horizon), not O(history).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.etl import stamp_audit
from ..operators.ordering import pin_frame


def stream_append_clean(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    user: str = "user1",
    ts: Column | None = None,
    etl_date: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Archetype A, incremental: parquet-directory stream -> audit stamp."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    return stamp_audit(df, user=user, ts=ts, etl_date=etl_date)


def stream_dedup(
    df: DataFrame,
    key: str | list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """W1 streaming analog: keep the first arrival per business key within
    the watermark horizon (state pruned beyond it)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.withWatermark(ts_col, watermark).dropDuplicates(keys)


def stream_dedup_within_watermark(
    df: DataFrame,
    key: str | list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Dedup with watermark-BOUNDED state: a key may legitimately recur
    after the horizon passes (e.g. daily re-registrations), and its state
    is dropped the moment the watermark clears it.

    Contrast with ``stream_dedup``: plain ``dropDuplicates`` keeps every
    key's state forever when the event-time column is not part of the key
    -- unbounded state growth on an unbounded key space.  This variant is
    the right default for infinite streams at scale.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_windowed_counts(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts: the late-data-tolerant rollup.

    Output: (window_start, window_end, <group_col>, n_events) -- window
    bounds surfaced as flat columns for sink-friendliness.
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n_events",
        )
    )


def stream_session_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session-window aggregation: events within ``gap`` of each
    other merge into one session per key (the built-in counterpart of the
    batch lag+cumsum sessionizer in operators/sessionize.py).

    Output: (key, session_start, session_end, n_events); Spark defines
    session_end = last event + gap.
    """
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join bounded by an event-time range
    (the click-attribution pattern: right events within ``within`` after
    the matching left event).

    Both sides carry watermarks and the join condition bounds event time in
    both directions -- that pair is what lets Spark prune join state: each
    side buffers only rows inside the watermark horizon, so state is
    O(rate x horizon), not O(stream history).  Column names other than
    ``key`` must be pre-disambiguated by the caller.

    ``how='left_outer'`` additionally emits a null-padded row for each
    left event once the watermark passes ``left_ts + within`` (Spark
    emits outer results ONLY on watermark advance, via the engine's
    no-data batch after the last data batch) -- so under an
    ``availableNow`` run, left rows inside the final watermark horizon
    are withheld at termination unless the caller advances the watermark
    past them (see s16's flush-sentinel pattern).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark).withColumnRenamed(key, "__rkey")
    cond = (
        (F.col(key) == F.col("__rkey"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how).drop("__rkey")


def stream_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: Column,
    dim_cols: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: decorate each streaming row with
    dimension attributes (the streaming analog of the archetype-D star
    join, CustomerAddrLevelAggrDataClean.scala:28-30).

    Stateless -- a static dim needs no watermark and no join state; Spark
    re-resolves (and with the explicit hint, broadcasts) the dim per
    micro-batch, which also picks up dim-table updates between batches.
    ``how='left'`` keeps unmatched events (late dim arrival) instead of
    dropping them.
    """
    return stream_df.join(F.broadcast(dim_df.select(dim_cols)), on, how)


def stream_stateful_counter(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running totals that survive across micro-batches.

    The canonical pattern for operators Spark's built-ins can't express
    (session models, custom decay, fraud counters): state is a per-key
    struct updated with each Arrow batch, pruned by the watermark.
    Output per batch: (key, n_events, total) reflecting ALL data seen for
    that key so far.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("n_events", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("sum", DoubleType())]
    )

    def update(key, batches, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total": [total]})

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_upsert_scd1(
    stream_df: DataFrame,
    warehouse,
    layer: str,
    table: str,
    key: str | list[str],
    order_col: str,
    user: str = "user1",
    ts: Column | None = None,
    etl_date: str | None = None,
) -> "DataFrame":
    """Continuous SCD-1: merge every micro-batch into the warehouse
    dimension via ``foreachBatch`` (archetype B, incremental).

    ``foreachBatch`` is the idiomatic bridge from a stream to a batch-only
    sink semantics (MERGE): each micro-batch replays the reference's
    union -> window-dedup -> CASE-audit flow against the current table
    state.  The read-merge-overwrite below is the parquet-sink stand-in
    for a transactional MERGE; at scale the same callback body targets a
    format with real upsert support, with the merge plan unchanged.
    Returns the started frame's writer-ready handle (caller starts it, or
    tests drive it with an availableNow trigger).
    """
    from ..operators.etl import scd1_upsert

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        base = (
            warehouse.table(layer, table) if warehouse.exists(layer, table) else None
        )
        merged = scd1_upsert(
            batch_df, base, key, order_col, user=user, ts=ts,
            etl_date=etl_date or "latest", layer=layer,
        )
        # materialize before overwriting the directory being read
        merged = pin_frame(merged, eager=True)
        warehouse.overwrite_table(merged, layer, table)

    return stream_df.writeStream.foreachBatch(merge_batch)


def run_available_now(
    streaming_df: DataFrame,
    spark: SparkSession,
    output_mode: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming frame over all currently-available input and
    return the materialized result as a batch DataFrame (memory sink,
    ``availableNow`` trigger).  ``output_mode`` defaults by plan shape:
    complete for aggregates, update for custom stateful ops, else append.

    ``state_partitions`` sizes the state store: streaming stages take their
    partition count from ``spark.sql.shuffle.partitions`` at first batch
    and AQE never coalesces them, so a stock 200-partition session pays
    ~200 state-store tasks per stage regardless of data volume.

    Default (r17, guide §2.2/§6): ``min(8, defaultParallelism)``,
    overridable via ``SPARK_GRAFT_STREAM_STATE_PARTITIONS``.  Every
    state partition pays FIXED per-micro-batch costs -- store open,
    delta-file commit, snapshot maintenance -- so the partition count
    must track STATE VOLUME (the 100 MB-1 GB/partition sizing rule),
    never the core count: a per-core default multiplies the fixed I/O
    by cores while a bounded-horizon stream's state stays KB-scale per
    partition (A/B at sf0.1, the s16 outer join: 32 partitions 7.9 s ->
    8 partitions 3.1 s, identical results).  Production rate x horizon
    state sets the env var (e.g. 200 for ~50 GB of live join state);
    the default is deliberately core-count-independent above tiny
    machines so per-core scaling measurements reflect compute, not
    state-store administration.  The session conf is restored after the
    run.
    """
    import os

    name = f"mem_{uuid.uuid4().hex[:12]}"
    if output_mode is None:
        plan = streaming_df._jdf.queryExecution().analyzed().toString()
        if "FlatMapGroupsInPandasWithState" in plan:
            output_mode = "update"
        elif "Aggregate" in plan:
            output_mode = "complete"
        else:
            output_mode = "append"
    if state_partitions is None:
        env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
        if env:
            state_partitions = max(1, int(env))
        else:
            state_partitions = max(
                1, min(8, spark.sparkContext.defaultParallelism)
            )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def stream_sketch_partials(
    stream_df: DataFrame,
    store_path: str,
    keys: list[str],
    distinct_col: str,
    value_col: str,
):
    """Continuous sketch maintenance: append per-micro-batch HLL/KLL
    partials to a parquet store via ``foreachBatch``.

    The streaming face of ``operators/sketches``: each micro-batch
    aggregates ONCE into fixed-size mergeable sketches and writes a few
    KB per key -- no state store, no recomputation, and the partial store
    answers "distinct users / quantiles so far" at any time by merging
    (``merge_sketch_rollup``).

    Effectively-once: ``foreachBatch`` itself is only at-least-once (a
    batch replayed after a failed checkpoint commit runs again), so each
    batch writes to the deterministic subdir ``__bid=<batch_id>`` with
    overwrite -- a replay overwrites its own partials instead of
    appending duplicates, keeping the summed ``n_rows`` exact.  Readers
    just ``spark.read.parquet(store_path)`` (partition discovery picks up
    the subdirs; the merge groups by ``keys`` and ignores ``__bid``).
    """
    from ..operators.sketches import partial_sketches

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = partial_sketches(
            batch_df.withColumn("__batch", F.lit(batch_id)),
            keys,
            "__batch",
            distinct_col,
            value_col,
        )
        p.write.mode("overwrite").parquet(f"{store_path}/__bid={batch_id}")

    return stream_df.writeStream.foreachBatch(write_partials)


def stream_bitmap_partials(
    stream_df: DataFrame,
    store_path: str,
    keys: list[str],
    distinct_col: str,
):
    """Continuous EXACT distinct-count maintenance: per-micro-batch bitmap
    partials written via ``foreachBatch`` (the exact sibling of
    ``stream_sketch_partials``; merge with
    ``sketches.merge_bitmap_distinct``).  Effectively-once despite
    ``foreachBatch``'s at-least-once contract: each batch overwrites the
    deterministic subdir ``__bid=<batch_id>``, so a replayed batch
    replaces its own partials (bitmap OR-merge is idempotent anyway, but
    row-count sums are not -- the overwrite keeps both exact); merged
    counts equal COUNT(DISTINCT) with no tolerance band.
    """
    from ..operators.sketches import bitmap_distinct_partials

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = bitmap_distinct_partials(
            batch_df.withColumn("__batch", F.lit(batch_id)),
            keys,
            "__batch",
            distinct_col,
        )
        p.write.mode("overwrite").parquet(f"{store_path}/__bid={batch_id}")

    return stream_df.writeStream.foreachBatch(write_partials)


def stream_count_partials(
    stream_df: DataFrame,
    store_path: str,
    keys: list[str],
):
    """Continuous grouped-count maintenance: per-micro-batch count partials
    written via ``foreachBatch``; merging is a plain SUM per key, so any
    reader gets exact running counts (and exact top-k over them) without
    re-scanning history.

    Effectively-once like its sketch/bitmap siblings: each batch overwrites
    the deterministic ``__bid=<batch_id>`` subdir, so an at-least-once
    replay replaces its own partials and the summed counts stay exact.
    """

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = batch_df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
        p.write.mode("overwrite").parquet(f"{store_path}/__bid={batch_id}")

    return stream_df.writeStream.foreachBatch(write_partials)


def stream_cms_partials(
    stream_df: DataFrame,
    store_path: str,
    key_col: str,
):
    """Continuous count-min maintenance: each micro-batch aggregates to
    per-key counts, folds them into a ``depth x width`` counter table
    (``operators.sketches.cms_counters``), and overwrites its
    deterministic ``__bid=<batch_id>`` subdir (effectively-once under
    at-least-once replay, like the sketch/bitmap/count siblings).

    CMS is LINEAR: summing per-batch counter cells equals the sketch of
    the full stream, so merge-on-read is one groupBy over
    O(batches x depth x width) KB-sized rows -- and unlike the HLL
    partials the merged sketch is bit-deterministic, which is why
    ``s12_stream_cms_topk`` carries a full-strength DuckDB oracle rather
    than error-bound booleans.
    """
    from ..operators.sketches import cms_counters

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counts = batch_df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
        cms = cms_counters(counts, key_col, "n")
        cms.write.mode("overwrite").parquet(f"{store_path}/__bid={batch_id}")

    return stream_df.writeStream.foreachBatch(write_partials)
