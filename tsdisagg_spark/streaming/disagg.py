"""Streaming temporal disaggregation: incremental recompute via foreachBatch.

The dense disaggregation solve is a whole-series computation — a new
low-frequency observation changes the entire high-frequency path of its
series (the GLS distribution step is global in time).  So the streaming
form is not a windowed aggregation but *incremental recompute scoped to the
touched series*: each micro-batch names the series with new data, only
those series re-solve, and results upsert into the sink.  Untouched series
— the overwhelming majority at any instant — cost nothing.

The batch is expected to carry each touched series' full low-frequency
history (CDC snapshot semantics, the norm for slowly-arriving official
statistics: a yearly series gains one row per year).  Low-frequency series
are small by definition, so snapshots are cheap to re-deliver.

This composes the already-tested pieces: the static indicator table is
semi-join-pruned to the touched series (broadcast of the tiny series-id
set), then :func:`tsdisagg_spark.spark.disagg.disaggregate` runs exactly as
in batch.  Reference scope note: the reference library is batch-only
(SURVEY.md section 2.10); this module is an extension.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdisagg_spark.spark.disagg import disaggregate


def streaming_disaggregate(
    low_stream: DataFrame,
    indicators: DataFrame | None,
    sink_path: str,
    checkpoint_path: str,
    series_col: str = "series_id",
    **disagg_kwargs: Any,
):
    """Wire a streaming low-frequency source to a parquet sink of
    high-frequency output, re-solving only the series present in each
    micro-batch.  Returns the (not-yet-started) ``DataStreamWriter``.

    Sink layout: parquet partitioned by ``batch_id`` so readers can take
    the latest solve per series (``row_number() over (partition by series
    order by batch_id desc)``) — an upsert emulation that never rewrites
    another batch's files (object stores cannot rewrite in place).  Each
    batch overwrites only its own ``batch_id=N`` directory (dynamic
    partition overwrite), so a micro-batch that ``foreachBatch`` replays
    after a failure replaces its first attempt instead of duplicating it.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        touched = batch_df.select(series_col).distinct()
        ind_b = None
        if indicators is not None:
            ind_b = indicators.join(
                F.broadcast(touched), series_col, "left_semi"
            )
        out = disaggregate(batch_df, ind_b, series_col=series_col, **disagg_kwargs)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_path)
        )

    return (
        low_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )


def latest_solutions(spark, sink_path: str, series_col: str = "series_id") -> DataFrame:
    """Read the sink back, keeping only each series' most recent solve."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(sink_path)
    w = Window.partitionBy(series_col).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("__rk", F.dense_rank().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "batch_id")
    )
