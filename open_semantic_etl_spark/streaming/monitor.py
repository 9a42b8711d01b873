"""Structured Streaming ingestion: the filemonitoring replacement.

The reference watches directories with pyinotify and enqueues one
Celery task per CLOSE_WRITE/MOVED_TO event (etl_filemonitoring.py:
24-60), the same per-file task a directory scan queues (tasks.py:
64-81). The Spark-native equivalent is a file-source stream over the
pages landing directory whose ``foreachBatch`` runs each micro-batch
through the batch path itself: ``run_incremental`` (plans/checkpoint.py)
under run id ``<query id>-<epoch>``. A streamed page therefore gets the
batch path's checkpoint skip (unchanged pages, re-landed or enriched by
a batch run, are not re-enriched), checkpoint and metrics rows, and
replay (a retried epoch skips what it checkpointed and re-merges the
rest idempotently by url).
checkpointLocation makes the stream resumable mid-run. Windowed
per-event-type metrics with a watermark demonstrate the late-data path
for the events stream table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.plans.checkpoint import URL_TABLES, Commit, run_incremental, snapshot
from open_semantic_etl_spark.schema import PAGES_SCHEMA


def _batch_id(batch_df: DataFrame, epoch_id: int) -> str:
    """``<query id>-<epoch>``: the query id is stable across restarts
    from the same checkpoint, so a retried epoch keeps its batch id."""
    query_id = batch_df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
    return f"{query_id}-{epoch_id}"


def _start_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    process_batch,
    max_files_per_trigger: int,
    trigger_once: bool,
):
    """readStream(landing parquet) → ``foreachBatch(process_batch)``,
    started: ``availableNow`` when ``trigger_once``, else every 10 s."""
    writer = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="10 seconds").start()


def stream_enrich(
    spark: SparkSession,
    landing_dir: str,
    out_root: str,
    checkpoint_dir: str,
    gazetteer: Gazetteer | None = None,
    trigger_once: bool = True,
    n_buckets: int | None = None,
):
    """readStream(landing parquet) → ``run_incremental`` per micro-batch,
    run id ``<query id>-<epoch>`` (the batch path's semantics, above).

    Returns the StreamingQuery. ``trigger_once`` processes the backlog
    and stops (deterministic for tests/batch-catchup); production would
    use a processingTime trigger. ``n_buckets`` sizes the tables the
    stream creates; a table recording another count raises ValueError
    before the query starts.
    """
    n_buckets = snapshot(out_root).buckets(URL_TABLES, n_buckets)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_incremental(batch_df.sparkSession, batch_df, out_root, gazetteer=gazetteer,
                        run_id=_batch_id(batch_df, epoch_id), n_buckets=n_buckets)

    return _start_stream(
        spark, landing_dir, checkpoint_dir, process_batch,
        max_files_per_trigger=64, trigger_once=trigger_once,
    )


def stream_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_root: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """streaming incremental dedup: each micro-batch is one
    ``dedup_ingest_batch`` call (probe the persisted LSH index, keep
    only docs novel against the whole already-ingested corpus AND
    within the batch, commit the keep-set's bands to the index), and
    the keep-set lands as table ``kept/_batch=<batch id>``, one commit
    of the ``kept/`` root's log that replaces any earlier copy.

    A retried epoch keeps its ``_batch_id``, so it replays its committed
    keep-set instead of re-ingesting against itself, and re-commits
    that keep-set whole.  A fresh checkpoint is a new query id and
    therefore a new ingest: it dedups against everything already
    indexed, whichever session wrote it.
    Semantics notes: duplicate urls within a batch collapse to one row
    first (re-crawl landing files), and empty-text docs share the
    all-zero signature, so they form ONE dup class — the first
    text-less page wins, the rest drop (run quality filtering ahead
    of ingest if empty docs should not dedup together).
    Each landing file is its own micro-batch.  A new index takes
    ``dedup_ingest_batch``'s default LSH family; an existing one keeps
    the family its tables record (an index with data but no commit log
    raises until ``build_lsh_index`` rebuilds it).  Returns the
    StreamingQuery."""
    import os

    from open_semantic_etl_spark.operators.dedup import dedup_ingest_batch

    index_path = os.path.join(out_root, "lsh_index")
    kept_root = os.path.join(out_root, "kept")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = _batch_id(batch_df, epoch_id)
        kept = dedup_ingest_batch(spark, batch_df, index_path, batch_id, id_col="url")
        c = Commit(kept_root, "keep", batch_id)
        c.create(f"_batch={batch_id}", kept, None, {})
        c.commit()

    return _start_stream(
        spark, landing_dir, checkpoint_dir, process_batch,
        max_files_per_trigger=1, trigger_once=trigger_once,
    )


def windowed_event_metrics(events_stream: DataFrame) -> DataFrame:
    """watermarked 5-minute windows per event_type (late data tolerated
    up to 10 minutes) — the streaming-aggregation surface."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
