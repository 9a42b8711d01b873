"""Query-driven backfill: run missing stages over the existing output.

The Spark equivalent of ``etl-enrich`` (etl_enrich.py:19-370): the
reference pages Solr with ``NOT etl_<plugin>_b:true``, fetches only the
fields each plugin declares (etl_enrich.py:68-86 — literal column
pruning), re-runs the plugin, and commits per page. Here:

  1. rows missing a stage = checkpoint rows whose ``stages_done`` lacks
     it (plus rows absent from the checkpoint entirely);
  2. the stage function receives ONLY its declared columns (Catalyst
     prunes the parquet scan to them);
  3. two partial updates commit the result, each one ``rewrite_buckets``
     of the result urls' buckets — the reference's Solr partial updates
     (export_solr.py:98-115): the enriched rows get 'set', which
     overwrites only the stage's columns and leaves every other column
     as it was; the checkpoint's ``stages_done`` gets 'add-distinct'
     (``array_union``), and a url with no checkpoint row gains one.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import (
    Tables,
    bucket_expr,
    buckets_of,
    has_data,
    merge_by_url,
    recover_table,
    rewrite_buckets,
)
from open_semantic_etl_spark.plans.pipeline import PIPELINE_VERSION


def missing_stage(spark: SparkSession, tables: Tables, stage: str) -> DataFrame:
    """urls whose checkpoint lacks ``stage`` in stages_done."""
    recover_table(tables.enriched)
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
) -> int:
    """run ``stage_fn`` over rows missing ``stage``; set its columns and
    mark the stage done.

    Both commits run in the bucket space the enriched table records.
    ``fields`` mirrors the reference's plugin ``fields`` attribute
    (etl_enrich.py:68-86): the backfill scan reads only these columns.
    ``stage_fn(spark, pruned_rows) -> DataFrame[url, ...columns]``; the
    returned columns replace (or add) those columns on the url's row.

    Crash-safe by replay: the enriched commit lands before the
    checkpoint commit, so a crash between them leaves the stage
    unmarked and the next call re-runs it to the same rows.
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
    # materialize BEFORE the enriched commit: the lazy plan reads the
    # files the swap is about to replace (Iceberg snapshots make this a
    # non-issue on a real cluster; locally localCheckpoint pins the rows)
    result = stage_fn(spark, pruned).localCheckpoint(eager=True)
    n_buckets = tables.buckets()
    buckets = buckets_of(result.select(bucket_expr(n_buckets=n_buckets).alias("_bucket")))
    cols = [c for c in result.columns if c != "url"]
    hit = F.col("_hit").isNotNull()
    updates = result.select(
        "url", F.lit(True).alias("_hit"), *[F.col(c).alias(f"_set_{c}") for c in cols]
    )

    def set_cols(old: DataFrame) -> DataFrame:  # Solr 'set'
        joined = old.join(updates, "url", "left")
        kept = [
            F.when(hit, F.col(f"_set_{c}")).otherwise(F.col(c)).alias(c) if c in cols else c
            for c in old.columns
        ]
        added = [F.col(f"_set_{c}").alias(c) for c in cols if c not in old.columns]
        return joined.select(*kept, *added)

    rewrite_buckets(spark, tables.enriched, buckets, set_cols)

    # a url with no checkpoint row (its run crashed before the checkpoint
    # commit) gains one carrying its enriched content_hash; pending_rows
    # still re-enriches it: the base STAGES are not recorded
    fresh = (
        spark.read.parquet(tables.enriched)
        .filter(F.col("_bucket").isin(buckets))
        .join(result.select("url"), "url", "left_semi")
        .select(
            "url",
            "content_hash",
            F.array(F.lit(stage)).alias("stages_done"),
            F.lit(PIPELINE_VERSION).alias("pipeline_version"),
            "_bucket",
        )
    )

    def add_stage(cp: DataFrame) -> DataFrame:  # Solr 'add-distinct'
        added = F.array_union("stages_done", F.array(F.lit(stage)))
        marked = cp.join(updates.select("url", "_hit"), "url", "left").withColumn(
            "stages_done", F.when(hit, added).otherwise(F.col("stages_done"))
        )
        return marked.drop("_hit").unionByName(fresh.join(cp, "url", "left_anti"))

    recover_table(tables.checkpoint)
    if has_data(tables.checkpoint):
        rewrite_buckets(spark, tables.checkpoint, buckets, add_stage)
    else:  # no checkpoint table yet: every fresh row is the first write
        merge_by_url(spark, fresh.drop("_bucket"), tables.checkpoint, n_buckets=n_buckets)
    return result.count()  # served from the checkpointed blocks
