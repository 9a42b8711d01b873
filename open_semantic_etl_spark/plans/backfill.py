"""Query-driven backfill: run missing stages over the existing output.

The Spark equivalent of ``etl-enrich`` (etl_enrich.py:19-370): the
reference pages Solr with ``NOT etl_<plugin>_b:true``, fetches only the
fields each plugin declares (etl_enrich.py:68-86 — literal column
pruning), re-runs the plugin, and commits per page. Here:

  1. rows missing a stage = checkpoint rows whose ``stages_done`` lacks
     it (plus rows absent from the checkpoint entirely);
  2. the stage function receives ONLY its declared columns (Catalyst
     prunes the parquet scan to them);
  3. results MERGE back by url and the checkpoint's ``stages_done``
     gains the stage (array_union = Solr 'add-distinct',
     export_solr.py:110).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import (
    N_BUCKETS,
    Tables,
    has_data,
    merge_by_url,
    read_table,
    recover_table,
)


def missing_stage(spark: SparkSession, tables: Tables, stage: str) -> DataFrame:
    """urls whose checkpoint lacks ``stage`` in stages_done."""
    enriched = spark.read.parquet(tables.enriched).select("url")
    recover_table(tables.checkpoint)
    if not has_data(tables.checkpoint):
        return enriched
    cp = spark.read.parquet(tables.checkpoint)
    done = cp.filter(F.array_contains(F.col("stages_done"), stage)).select("url")
    return enriched.join(done, "url", "left_anti")


def run_backfill(
    spark: SparkSession,
    root: str,
    stage: str,
    stage_fn: Callable[[SparkSession, DataFrame], DataFrame],
    fields: tuple[str, ...],
    n_buckets: int = N_BUCKETS,
) -> int:
    """run ``stage_fn`` over rows missing ``stage``; merge + mark done.

    ``n_buckets`` must match the tables' layout (per-table constant —
    a merge in the wrong bucket space prunes the wrong partitions).
    ``fields`` mirrors the reference's plugin ``fields`` attribute
    (etl_enrich.py:68-86): the backfill scan reads only these columns.
    ``stage_fn(spark, pruned_rows) -> DataFrame[url, ...new columns]``.
    """
    tables = Tables(root)
    todo_urls = missing_stage(spark, tables, stage)
    # gate with a limit-1 existence probe, NOT a full count — an
    # all-done table must cost one short-circuiting job, and the
    # processed count is read off the (already materialized)
    # localCheckpoint below instead
    if todo_urls.isEmpty():
        return 0
    pruned = (
        spark.read.parquet(tables.enriched)
        .select(*dict.fromkeys(("url",) + fields))
        .join(todo_urls, "url", "left_semi")
    )
    # materialize BEFORE the merge swap: the lazy plan reads the enriched
    # files the swap is about to replace (Iceberg snapshots make this a
    # non-issue on a real cluster; locally localCheckpoint pins the rows)
    result = stage_fn(spark, pruned).localCheckpoint(eager=True)
    merge_by_url(spark, result, tables.enriched, n_buckets=n_buckets)

    # checkpoint upsert ∝ batch: only the rows whose stages_done gains
    # the stage are rewritten (merge_by_url prunes to their buckets)
    cp = read_table(spark, tables.checkpoint)
    updated = (
        cp.join(result.select("url"), "url", "left_semi")
        .withColumn("stages_done", F.array_union(F.col("stages_done"), F.array(F.lit(stage))))
    )
    merge_by_url(spark, updated, tables.checkpoint, n_buckets=n_buckets)
    return result.count()  # served from the checkpointed blocks
