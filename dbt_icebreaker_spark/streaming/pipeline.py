"""Structured Streaming operators.

The reference has NO streaming surface (SURVEY §2.4: "Streaming ops —
None"); its incremental materializations are batch micro-updates.
These operators are the Spark-idiomatic upgrade path for the same
use-cases (the `events` fixture is the append-style input):

- ``stream_incremental_append`` — readStream over a parquet/json/csv
  directory → transform → append sink with checkpoint. With
  ``Trigger.AvailableNow`` this IS the dbt incremental-append model,
  but exactly-once: the checkpoint replaces dbt's max-timestamp
  bookkeeping, and late files are picked up next run without a
  WHERE ts > (SELECT MAX...) race.
- ``windowed_counts`` — event-time tumbling window + watermark: the
  scalable form of `GROUP BY DATE_TRUNC(...)` for unbounded input.
- ``sessionize`` — applyInPandasWithState custom stateful operator
  (session windows with inactivity gap), the pattern for operators
  Spark lacks natively.

Scale notes: all three shuffle only on their keys; state stores are
per-key (RocksDB-backed on a real cluster via
spark.sql.streaming.stateStore.providerClass). maxFilesPerTrigger
bounds micro-batch size for backpressure.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _apply_transform_sql(spark, stream: DataFrame,
                         transform_sql: str) -> DataFrame:
    """Register the stream as ``stream_source`` and run the Snowflake-
    dialect transform through an engine-capability transpiler (the
    COMPRESS-family UDFs are registered on the session first) — one
    helper so append/merge paths can't diverge (r7 review)."""
    from ..transpiler import Transpiler
    from ..udfs import register_scalar_udfs

    register_scalar_udfs(spark)
    stream.createOrReplaceTempView("stream_source")
    return spark.sql(Transpiler(session_udfs=True).to_spark(transform_sql))


def _has_watermark(df: DataFrame) -> bool:
    """True when an EventTimeWatermark is already declared upstream —
    composed pipelines (dedup → enrich → windowed agg) must not
    redefine it (Spark fails the query at runtime)."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False


def _with_watermark(df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """withWatermark unless one is already set upstream (composable)."""
    if not df.isStreaming or _has_watermark(df):
        return df
    return df.withWatermark(ts_col, watermark)


def _watermarkable(events: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with local-tz semantics); parquet
    written with isAdjustedToUTC=false infers as TIMESTAMP_NTZ, which
    EventTimeWatermark rejects. Session timezone is pinned to UTC
    (sources._SESSION_CONFS), so the cast is value-preserving."""
    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        return events.withColumn(ts_col, F.col(ts_col).cast(TimestampType()))
    return events


def stream_incremental_append(
    spark: SparkSession,
    source_dir: str,
    target_table: str,
    checkpoint_dir: str,
    schema: Optional[StructType] = None,
    transform_sql: Optional[str] = None,
    fmt: str = "parquet",
    available_now: bool = True,
) -> None:
    """Streaming incremental-append materialization (M3-append,
    exactly-once). `transform_sql` is Snowflake-dialect SQL over the
    stream registered as view `stream_source` (the transpiler runs on
    it like any model)."""
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # infer from existing files (dev convenience; production
        # should pass an explicit schema)
        static = spark.read.format(fmt).load(source_dir)
        reader = reader.schema(static.schema)
    stream = reader.load(source_dir)

    if transform_sql:
        stream = _apply_transform_sql(spark, stream, transform_sql)

    writer = stream.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.toTable(target_table)
    if available_now:
        query.awaitTermination()
    return query
    # non-availableNow: caller owns the query lifecycle


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: Optional[str] = "value",
    slide: Optional[str] = None,
) -> DataFrame:
    """Event-time windowed aggregation with a watermark for late
    data: tumbling by default, SLIDING when `slide` is given (each
    event lands in window/slide overlapping windows — Spark expands
    that fan-out internally, state is one row per open window per
    key). Works on both streaming and batch DataFrames (same plan —
    batch ignores the watermark), so the oracle can check the batch
    rendering."""
    aggs = [F.count("*").alias("n")]
    if value_col:
        aggs.append(F.sum(value_col).cast("double").alias("total_value"))
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        _watermarkable(events, ts_col)
        .transform(lambda d: _with_watermark(d, ts_col, watermark))
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            *[c for c in ("n", "total_value") if value_col or c == "n"],
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: keep one event per key within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    ingestion-time dedup stage of a training-data pipeline (repeated
    sends, at-least-once sources). State is per-key and expires with
    the watermark, so memory is bounded by the distinct-key arrival
    rate × horizon, not the stream length.

    Which duplicate survives is arrival-order-dependent (first seen);
    use ``dedup_keep_first`` as the deterministic batch twin /
    backfill path."""
    return (
        _watermarkable(events, ts_col)
        .transform(lambda d: _with_watermark(d, ts_col, watermark))
        .dropDuplicatesWithinWatermark(list(keys))
    )


def dedup_keep_first(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """Batch twin of ``stream_dedup``: deterministic keep-FIRST-per-key
    by (ts, tiebreak) — one row_number window, single shuffle on the
    key, oracle-checkable. The tiebreak column makes ties (same key,
    same timestamp) deterministic across engines."""
    from pyspark.sql import Window

    # nulls LAST explicitly: Spark's default asc is NULLS FIRST while
    # most engines (incl. the DuckDB oracle) default NULLS LAST — a
    # NULL timestamp must not beat every real one
    order = [F.col(ts_col).asc_nulls_last()]
    if tiebreak:
        order.append(F.col(tiebreak).asc_nulls_last())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = "start TIMESTAMP, last TIMESTAMP, n LONG, total DOUBLE"


def _session_fn(gap_seconds: int):
    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit closed sessions; keep the open one in state. Inactivity
        gap closes a session (processing-time timeout closes the final
        one when the stream idles)."""
        import datetime as dt

        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                state.remove()
                yield pd.DataFrame(
                    [[user_id, start, last, n, total]],
                    columns=[f.name for f in SESSION_SCHEMA.fields],
                )
            return

        rows = pd.concat(list(batches)).sort_values("ts")
        closed = []
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        for ts, value in zip(rows["ts"], rows["value"]):
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if last is not None and (ts - last).total_seconds() > gap_seconds:
                closed.append([user_id, start, last, n, total])
                start, n, total = ts, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            total += float(value)
        state.update((start, last, n, total))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_SCHEMA.fields]
            )

    return fn


def sessionize(
    events,
    gap_seconds: int = 1800,
):
    """Custom stateful operator: session windows with an inactivity
    gap, via applyInPandasWithState (streaming) — the (b)-tier pattern
    from the build rules for semantics Spark lacks natively. Input
    needs columns (user_id, ts, value)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch rendering of the same session semantics (oracle-checkable
    and the backfill path): gap-based sessionization via the classic
    lag/cumsum window idiom — no Python in the loop. Gaps compare as
    exact microsecond intervals, like session_window and the oracle."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.when(
        micros - F.lag(micros).over(w) > gap_seconds * 1_000_000, 1
    ).otherwise(0)
    sess = events.withColumn("new_session", gap).withColumn(
        "session_id", F.sum("new_session").over(w)
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
        )
        .drop("session_id")
    )


def sessionize_native(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window —
    the production-scale path (JVM state store, RocksDB-backed on a
    cluster, no Python workers in the loop). `sessionize` keeps the
    applyInPandasWithState rendering as the custom-stateful-operator
    pattern; this one is what you deploy when the semantics fit the
    built-in: session_window merges overlapping [ts, ts+gap) windows
    per key, which is exactly inactivity-gap sessionization, so both
    renderings (and the s01 SQL oracle) agree row-for-row.

    Works on batch and streaming frames; streaming needs the
    watermark to close sessions and emit them.
    """
    e = _watermarkable(events, ts_col)
    if streaming:
        e = e.transform(lambda d: _with_watermark(d, ts_col, watermark))
    win = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return (
        e.groupBy(win.alias("w"), "user_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "total_value"
        )
    )


def attribute_clicks(
    views: DataFrame,
    clicks: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    horizon_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (click attribution): every click
    within `horizon_minutes` AFTER a view by the same user. The SAME
    code path serves batch and streaming inputs — the join condition
    is identical; when both sides are streams, the per-side watermarks
    plus the bounded time range let Spark expire join state (without
    the interval bound, stream-stream inner join state grows forever).

    Shape at scale: the join shuffles both sides on user_col; state
    per key is bounded by watermark + horizon. The output carries both
    event ids, both timestamps, and the view→click delay in seconds.
    """
    v = _watermarkable(views, ts_col)
    c = _watermarkable(clicks, ts_col)
    if v.isStreaming:
        v = v.transform(lambda d: _with_watermark(d, ts_col, watermark))
    if c.isStreaming:
        c = c.transform(lambda d: _with_watermark(d, ts_col, watermark))
    v = v.select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("view_id"),
        F.col(ts_col).alias("view_ts"),
    )
    c = c.select(
        F.col(user_col).alias("__uc"),
        F.col(id_col).alias("click_id"),
        F.col(ts_col).alias("click_ts"),
    )
    joined = v.join(
        c,
        (F.col("__u") == F.col("__uc"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
    )
    return joined.select(
        F.col("__u").alias(user_col),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        (
            F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts")
        ).cast("long").alias("delay_sec"),
    )


def stream_incremental_merge(
    spark: SparkSession,
    source_dir: str,
    target_table: str,
    checkpoint_dir: str,
    unique_key: str | list,
    schema: Optional[StructType] = None,
    transform_sql: Optional[str] = None,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """Streaming UPSERT materialization: readStream → foreachBatch →
    the batch incremental-merge path (anti-join + union staged
    rewrite, or MERGE INTO on row-level-DML catalogs). This closes
    the loop between the streaming surface and the dbt-style
    materializations — the same merge semantics a nightly batch run
    applies, continuously.

    Exactly-once note: foreachBatch is at-least-once on retry, but
    merge-by-key is idempotent (replaying a batch reasserts the same
    rows), so the target converges — the standard Structured
    Streaming upsert pattern. The checkpoint still dedups source
    files; only mid-batch crashes replay.

    At scale the per-batch cost is the batch-sized anti-join (AQE
    broadcasts small micro-batches against the big target — see
    run_incremental), NOT a per-row update stream.
    """
    from ..materializations.incremental import run_incremental

    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.format(fmt).load(source_dir)
        reader = reader.schema(static.schema)
    stream = reader.load(source_dir)

    if transform_sql:
        stream = _apply_transform_sql(spark, stream, transform_sql)

    def _merge_batch(batch_df, _batch_id: int) -> None:
        run_incremental(
            spark,
            target_table,
            batch_df,
            strategy="merge",
            unique_key=unique_key,
        )

    writer = stream.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str | list,
    dim_prefix: str = "",
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream–static dimension enrichment: join a (possibly streaming)
    fact side to a slowly-changing static dimension — the lookup step
    of every event pipeline (events × customers, requests × models).
    ONE code path serves both modes: on a batch fact side this is a
    plain broadcast join; on a streaming side Spark's stream-static
    join re-evaluates the static plan per micro-batch, so a dimension
    refreshed underneath (e.g. a swapped parquet snapshot) is picked
    up on the next trigger WITHOUT restarting the query — the
    streaming twin of the reference's TTL'd source cache
    (`source_cache.py:56-57` refresh semantics).

    Shape at scale: stream-static joins support no watermark state —
    the static side must be join-local. `broadcast_dim=True` (default)
    pins a broadcast hash join so the fact stream is NEVER shuffled;
    a dimension too big to broadcast (> a few GB) should instead be
    pre-bucketed on the key so the fact side alone shuffles (set
    broadcast_dim=False and let AQE choose).

    Join keys may collide with dimension payload column names —
    `dim_prefix` renames every non-key dimension column on the way in
    (prefix "c_" style dims usually don't need it).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if dim.isStreaming:
        raise ValueError(
            "enrich_stream's dimension side must be static; for "
            "stream-stream joins use attribute_clicks-style interval "
            "joins with watermarks"
        )
    if dim_prefix:
        for c in dim.columns:
            if c not in keys:
                dim = dim.withColumnRenamed(c, f"{dim_prefix}{c}")
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on=keys, how=how)
