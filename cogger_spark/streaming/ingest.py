"""Incremental ingest over the image table (SURVEY.md §2.8 stretch path).

The reference is pure batch; the engine adds Structured Streaming ingest for
the arrival-driven case: new image files land in a directory, each
micro-batch is tiled through the same batch operators via foreachBatch, and
Trigger.AvailableNow drains the backlog then stops — giving incremental,
exactly-once (per sink commit) processing with the batch code path reused
verbatim.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType)

IMAGE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("caption", StringType()),
    StructField("phash", LongType()),
])


def stream_tile_manifest(spark: SparkSession, in_dir: str, out_dir: str,
                         checkpoint_dir: str, tile: int = 512) -> None:
    """readStream over the image directory → per-batch tile manifest append.

    Metadata-only (no pixel decode) so the stream keeps up with arrival rate;
    the heavy COG path is stream_cog below."""
    from ..operators.spatial import tile_manifest

    stream = (spark.readStream.schema(IMAGE_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(in_dir))

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        (tile_manifest(batch_df, tile=tile, level=None)
         .write.mode("append").parquet(out_dir))

    (stream.writeStream
     .foreachBatch(handle)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_cog(spark: SparkSession, in_dir: str, out_dir: str,
               checkpoint_dir: str, tile: int = 512) -> None:
    """Full COG pipeline per micro-batch (decode → pyramid → assemble)."""
    from ..operators.tiling import cog_pipeline

    stream = (spark.readStream.schema(IMAGE_SCHEMA)
              .option("maxFilesPerTrigger", 2)
              .parquet(in_dir))

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        (cog_pipeline(batch_df, tile=tile)
         .write.mode("append").parquet(out_dir))

    (stream.writeStream
     .foreachBatch(handle)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_cog_files(spark: SparkSession, in_dir: str, out_dir: str,
                     checkpoint_dir: str, tile: int = 512,
                     tiles_per_part: int = 256) -> None:
    """Incremental image arrival → COG FILES: each micro-batch runs the
    size-routed bounded conversion (fused kernel for small images, strips +
    parts for oversized) and appends <out_dir>/<image_id>.tif — the
    streaming face of convert_images, exactly-once per source file via the
    stream checkpoint."""
    from ..operators.tiling import convert_images

    stream = (spark.readStream.schema(IMAGE_SCHEMA)
              .option("maxFilesPerTrigger", 2)
              .parquet(in_dir))

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        convert_images(batch_df, out_dir, tile=tile,
                       tiles_per_part=tiles_per_part)

    (stream.writeStream
     .foreachBatch(handle)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_sessionize(spark: SparkSession, in_dir: str, out_dir: str,
                      checkpoint_dir: str, gap: str = "30 minutes",
                      watermark: str = "2 hours") -> None:
    """Watermarked streaming sessionization (VERDICT r4 #7) — the streaming
    twin of queries.q_events_sessionize: per-user sessions split on `gap`
    inactivity, each emitted ONCE (append mode) when the watermark passes its
    close, with per-session rollups identical to the batch query.

    Built on `F.session_window` — Spark's native gap-merged event-time
    session state — so state is bounded by OPEN sessions only (closed
    sessions are evicted at emission; a live stream holds ~active-users
    rows, never history). Boundary semantics: session_window merges events
    with gaps STRICTLY UNDER the gap duration, the batch lag-formulation
    merges gaps <= 1800.0s — identical results except for a gap of exactly
    1800.000000s (measure-zero on microsecond timestamps; asserted
    stream≡batch on the test data).

    The batch query's per-user ordinal session_id is replaced by the
    session's (start, end) event-time bounds — the natural streaming key;
    (user_id, first_epoch) still identifies sessions 1:1 across both."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    from ..queries import _ntz_epoch_long
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir))
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy("user_id", F.session_window("ts", gap).alias("win"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
                F.min(_ntz_epoch_long(F.col("ts"))).alias("first_epoch"))
           .select("user_id",
                   F.col("win.start").alias("session_start"),
                   F.col("win.end").alias("session_end"),
                   "n_events", "sum_value", "first_epoch"))
    (agg.writeStream
     .outputMode("append")
     .format("parquet")
     .option("path", out_dir)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_upsert_table(spark: SparkSession, in_dir: str, table_path: str,
                        checkpoint_dir: str, key: str = "image_id",
                        version_col: str | None = None,
                        max_files_per_trigger: int = 2) -> None:
    """CDC-style streaming ingestion into the Iceberg-semantics shim: each
    micro-batch of arriving rows is MERGEd into the table (matched keys
    replaced, new keys inserted) via foreachBatch — the standard lakehouse
    upsert-ingest pattern (Iceberg/Delta `foreachBatch` + MERGE INTO).
    Copy-on-write file granularity bounds each commit to the buckets the
    batch touches; the stream checkpoint makes ingestion exactly-once per
    source file, and every micro-batch is a time-travelable snapshot. A
    table that does not exist yet is CREATED by the first micro-batch
    (default layout), so the stream can bootstrap an empty path.
    In-batch duplicate keys are collapsed before the merge (which requires
    key-unique sources): by the greatest `version_col` when given — the
    robust CDC contract (a change-log sequence/timestamp column) — else by
    arrival order within the batch (well-defined when each micro-batch is
    one file; across files in one batch, the later source file — by path,
    the file source's listing tiebreak — wins, independent of Spark's
    split packing). Without `version_col` the cross-file winner is chosen
    by PATH, not by mtime: when two files in one batch have different
    mtimes, the file source's own arrival order is mtime-first, so the
    winner can be the OLDER file. Pass `version_col` for CDC ordering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from ..sources import iceberg_shim as shim

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        # arrival order is always the FINAL tiebreak so equal-version rows
        # resolve deterministically across task retries (r5 self-review).
        # The source FILE is the primary arrival key: monotonically_
        # increasing_id alone encodes the partition index, and with
        # max_files_per_trigger > 1 the winner among duplicate keys
        # spanning two files would depend on Spark's split packing, not
        # on which file is later (r6 ADVICE). Within one file the id
        # keeps row order (single-split files; the shape every CDC feed
        # here produces).
        order = ([F.col(version_col).desc()] if version_col else [])
        order += [F.col("_src_file").desc(), F.col("_src_order").desc()]
        w = Window.partitionBy(key).orderBy(*order)
        dedup = (batch_df.withColumn("_src_file", F.input_file_name())
                 .withColumn("_src_order", F.monotonically_increasing_id())
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .drop("_rn", "_src_file", "_src_order"))
        try:
            shim.merge_into(spark, dedup, table_path, on=key)
        except FileNotFoundError:
            shim.write_table(dedup, table_path)

    stream = (spark.readStream
              .schema(spark.read.parquet(in_dir).schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_dir))
    (stream.writeStream
     .foreachBatch(handle)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_asof_enrich(spark: SparkSession, left_in_dir: str,
                       right_table: str, out_dir: str, checkpoint_dir: str,
                       on: str = "user_id", ts: str = "ts",
                       payload: tuple[str, ...] = ("event_id", "value"),
                       direction: str = "backward", tolerance=None,
                       max_files_per_trigger: int = 2) -> None:
    """Streaming as-of ENRICHMENT: each left micro-batch is as-of joined
    (operators/temporal.asof_join — backward/forward + tolerance) against
    the CURRENT snapshot of the shim table at `right_table`, and the
    enriched rows append to `out_dir`.

    This is the two-stage streaming as-of real pipelines use: the right
    stream materializes into a continuously-upserted lakehouse table first
    (stream_upsert_table — its own exactly-once checkpointed ingestion),
    and the left stream enriches against table snapshots. The result equals
    the batch asof_join whenever each left row is processed after every
    right row it could match has been ingested (e.g. Trigger.AvailableNow
    sequencing: drain the right stream, then run the left) — asserted
    stream≡batch in tests. A true simultaneous stream-stream as-of would
    need watermarked right-side buffering Spark does not ship natively."""
    from ..operators.temporal import asof_join
    from ..sources import iceberg_shim as shim

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        right = shim.read_table(spark, right_table)
        (asof_join(batch_df, right, on=on, ts=ts, payload=payload,
                   direction=direction, tolerance=tolerance)
         .write.mode("append").parquet(out_dir))

    stream = (spark.readStream
              .schema(spark.read.parquet(left_in_dir).schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(left_in_dir))
    (stream.writeStream
     .foreachBatch(handle)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def stream_event_counts(spark: SparkSession, in_dir: str, out_dir: str,
                        checkpoint_dir: str, window: str = "1 hour",
                        watermark: str = "2 hours") -> None:
    """Watermarked windowed aggregation over an event stream: per
    (event-time window, event_type) counts in append mode — the standard
    late-data-tolerant rollup shape. Trigger.AvailableNow drains the backlog;
    on a live source the same query runs continuously with state bounded by
    the watermark."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4)
              .parquet(in_dir))
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"),
                   "event_type", "n_events", "sum_value"))
    (agg.writeStream
     .outputMode("append")
     .format("parquet")
     .option("path", out_dir)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())
