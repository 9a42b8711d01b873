"""Structured Streaming ingestion: the filemonitoring replacement.

The reference watches directories with pyinotify and enqueues one
Celery task per CLOSE_WRITE/MOVED_TO event (etl_filemonitoring.py:
24-60). The Spark-native equivalent is a file-source stream over the
pages landing directory: new parquet files are discovered per
micro-batch, run through the SAME batch pipeline via ``foreachBatch``
(exactly-once per sink commit), and merged into the enriched table.

``foreachBatch`` + the url-keyed merge gives the same idempotent
at-least-once semantics as the batch path (plans/checkpoint.py);
checkpointLocation makes the stream resumable mid-run. Windowed
per-event-type metrics with a watermark demonstrate the late-data path
for the events stream table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.plans.checkpoint import N_BUCKETS, merge_by_url
from open_semantic_etl_spark.plans.pipeline import enrich_pages
from open_semantic_etl_spark.schema import PAGES_SCHEMA


def stream_enrich(
    spark: SparkSession,
    landing_dir: str,
    out_root: str,
    checkpoint_dir: str,
    gazetteer: Gazetteer | None = None,
    trigger_once: bool = True,
    n_buckets: int = N_BUCKETS,
):
    """readStream(landing parquet) → enrich → merge into enriched table.

    Returns the StreamingQuery. ``trigger_once`` processes the backlog
    and stops (deterministic for tests/batch-catchup); production would
    use a processingTime trigger. ``n_buckets`` must match the enriched
    table's layout (per-table constant).
    """
    import os

    enriched_path = os.path.join(out_root, "enriched")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = enrich_pages(batch_df, gazetteer=gazetteer).drop("extract")
        merge_by_url(batch_df.sparkSession, out, enriched_path, n_buckets=n_buckets)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()


def stream_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_root: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    n_buckets: int = 64,
    max_files_per_trigger: int = 1,
):
    """streaming incremental dedup: each micro-batch probes the
    persisted LSH band index, keeps only docs novel against the whole
    already-ingested corpus AND within the batch, writes the keep-set,
    and appends the keep-set's bands to the index.

    Idempotence under foreachBatch retries: both the keep-set and the
    index append land in ``_epoch=<id>`` partition dirs written with
    overwrite, and the probe excludes the current epoch's own entries —
    a replayed epoch rewrites its own partition (the same trick the
    checkpoint merge uses for buckets).  This protects retries WITHIN
    one stream checkpoint, whose file→epoch assignment is stable;
    replaying the same landing data under a fresh checkpoint is a new
    ingest, not a retry.  Scale shape per batch: MinHash signatures
    are computed ONCE (localCheckpoint) and threaded through probe,
    self-dedup, and the index append — the one-Python-crossing rule
    applied to the batch; probe = key-only band join against the
    bucket-partitioned index (corpus text never re-read); batch
    self-dedup = lsh_candidate_pairs on the novel subset only.
    Semantics notes: duplicate urls within a batch collapse to one row
    first (re-crawl landing files), and empty-text docs share the
    all-zero signature, so they form ONE dup class — the first
    text-less page wins, the rest drop (run quality filtering ahead
    of ingest if empty docs should not dedup together).
    Returns the StreamingQuery."""
    import os

    from open_semantic_etl_spark.operators.dedup import _novel_rows, build_lsh_index

    index_path = os.path.join(out_root, "lsh_index")
    kept_root = os.path.join(out_root, "kept")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        kept, kept_sigs = _novel_rows(
            batch_df, index_path, id_col="url", n_buckets=n_buckets,
            exclude_epoch=epoch_id,
        )
        kept.write.mode("overwrite").parquet(f"{kept_root}/_epoch={epoch_id}")
        build_lsh_index(
            kept, index_path, id_col="url", n_buckets=n_buckets, epoch=epoch_id,
            signatures=kept_sigs,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()


def windowed_event_metrics(events_stream: DataFrame) -> DataFrame:
    """watermarked 5-minute windows per event_type (late data tolerated
    up to 10 minutes) — the streaming-aggregation surface."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
