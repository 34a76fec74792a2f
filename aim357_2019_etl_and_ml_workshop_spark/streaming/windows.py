"""Structured Streaming surface (SURVEY.md §2.9 — engine extension).

The reference's only temporal processing is nightly batch (cron triggers,
etl-cfn-2am-trigger.json:264,280); the engine generalizes the daily-count
aggregation (A4) to unbounded input: file-source stream -> watermarked
tumbling-window counts -> sink. Batch and streaming share the same logical
operator — ``tumbling_counts`` works on either a static or streaming frame,
which is exactly Spark's unified-model intent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """File-source stream. Schema must be explicit (no inference race on a
    growing directory). maxFilesPerTrigger bounds per-batch work so state
    checkpoints stay small at scale. When ``path`` is a glob/file rather
    than a directory, pass ``base_path`` (the source requires a directory
    basePath to resolve partitioning)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if base_path:
        reader = reader.option("basePath", base_path)
    return reader.load(path)


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts: late rows beyond ``watermark``
    are dropped and window state is evicted (bounded state — mandatory for
    an unbounded 100TB/day stream). On a batch frame the watermark is a
    no-op and this is exactly the batch tumbling aggregation."""
    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    group = [F.window(F.col(ts_col), window).alias("w")] + [
        F.col(k) for k in (keys or [])
    ]
    out = src.groupBy(*group).agg(F.count(F.lit(1)).alias("n"))
    return out.select(
        F.col("w.start").alias("bucket"), *(keys or []), F.col("n")
    )


def dedup_stream(
    df: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup on an unbounded stream (the streaming twin
    of §2.12 exact dedup): duplicates of ``id_cols`` arriving within the
    watermark horizon are dropped, and — the part plain dropDuplicates
    can't do on a stream — the per-key state is EVICTED once the watermark
    passes, so state stays bounded no matter how many distinct keys flow
    through. On a batch frame this degrades to ordinary dropDuplicates
    (same key-subset semantics), keeping the unified batch/stream model."""
    if not df.isStreaming:
        return df.dropDuplicates(id_cols)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    max_lag: str = "interval 30 minutes",
) -> DataFrame:
    """Stream-stream inner equi-join with bounded state.

    Both sides get an event-time watermark and the join carries an
    event-time RANGE condition (right_ts in [left_ts, left_ts + max_lag]);
    together these let Spark evict buffered rows once the watermark passes
    the range bound, so join state is bounded by (watermark + lag) worth of
    data per key instead of growing forever — the requirement for running
    this on an unbounded 100 TB/day stream. Works identically on static
    frames (the range condition just becomes a join predicate), giving the
    batch twin for tests.

    Beyond-reference extension (SURVEY.md §2.9): the reference has no
    streaming; this generalizes its nightly-batch join to continuous
    arrival.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= F.expr(f"{left_ts} + {max_lag}"))
    )
    return lw.join(rw, cond, "inner")


def foreach_batch_parquet_sink(stream: DataFrame, path: str):
    """Idempotent foreachBatch sink: each micro-batch overwrites its own
    `batch_id=N` partition directory, so replaying a batch after a failure
    rewrites the same files instead of duplicating rows — exactly-once
    output on top of the checkpoint's at-least-once replay, the pattern
    for sinks without native transactions. Returns the started query's
    writer (caller .start()s it with a checkpoint location)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return stream.writeStream.foreachBatch(write_batch)
