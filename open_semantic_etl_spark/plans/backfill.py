"""Query-driven backfill: run missing stages over the existing output.

The Spark equivalent of ``etl-enrich`` (etl_enrich.py:19-370): the
reference pages Solr with ``NOT etl_<plugin>_b:true``, fetches only the
fields each plugin declares (etl_enrich.py:68-86 — literal column
pruning), re-runs the plugin, and commits per page. Here:

  1. rows missing a stage = checkpoint rows whose ``stages_done`` lacks
     it;
  2. the stage function receives ONLY its declared columns (Catalyst
     prunes the parquet scan to them);
  3. two partial updates, one commit, each a bucket rewrite of the
     result urls' buckets — the reference's Solr partial updates
     (export_solr.py:98-115): the enriched rows get 'set', which
     overwrites only the stage's columns and leaves every other column
     as it was; the checkpoint's ``stages_done`` gets 'add-distinct'
     (``array_union``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import URL_TABLES, Commit, bucket_expr, buckets_of


def run_backfill(
    spark: SparkSession,
    root: str,
    stage: str,
    stage_fn: Callable[[SparkSession, DataFrame], DataFrame],
    fields: tuple[str, ...],
) -> int:
    """run ``stage_fn`` over rows missing ``stage``; set its columns and
    mark the stage done.

    Both updates run in the bucket space the two tables record.
    ``fields`` mirrors the reference's plugin ``fields`` attribute
    (etl_enrich.py:68-86): the backfill scan reads only these columns.
    ``stage_fn(spark, pruned_rows) -> DataFrame[url, ...columns]``; the
    returned columns replace (or add) those columns on the url's row.

    Crash-safe by replay: the 'set' and the stage mark are one commit,
    so a crash before it leaves the stage unmarked and the next call
    re-runs it to the same rows.  Every input (the urls whose
    checkpoint lacks ``stage``, their rows, the bucket count) comes
    from the commit's base snapshot.
    """
    c = Commit(root, "backfill", stage)
    todo_urls = c.base.read(spark, "checkpoint").filter(
        ~F.array_contains(F.col("stages_done"), stage)
    ).select("url")
    # gate with a limit-1 existence probe, NOT a full count — an
    # all-done table must cost one short-circuiting job, and the
    # processed count is read off the (already materialized)
    # localCheckpoint below instead
    if todo_urls.isEmpty():
        return 0
    pruned = (
        c.base.read(spark, "enriched")
        .select(*dict.fromkeys(("url",) + fields))
        .join(todo_urls, "url", "left_semi")
    )
    # materialize BEFORE the commit: the lazy plan reads the files the
    # commit replaces and then deletes (localCheckpoint pins the rows)
    result = stage_fn(spark, pruned).localCheckpoint(eager=True)
    n_buckets = c.base.buckets(URL_TABLES)
    buckets = buckets_of(result.select(bucket_expr(n_buckets=n_buckets).alias("_bucket")))
    cols = [col for col in result.columns if col != "url"]
    hit = F.col("_hit").isNotNull()
    updates = result.select(
        "url", F.lit(True).alias("_hit"), *[F.col(col).alias(f"_set_{col}") for col in cols]
    )

    def set_cols(old: DataFrame) -> DataFrame:  # Solr 'set'
        joined = old.join(updates, "url", "left")
        kept = [
            F.when(hit, F.col(f"_set_{col}")).otherwise(F.col(col)).alias(col)
            if col in cols else col
            for col in old.columns
        ]
        added = [F.col(f"_set_{col}").alias(col) for col in cols if col not in old.columns]
        return joined.select(*kept, *added)

    def add_stage(cp: DataFrame) -> DataFrame:  # Solr 'add-distinct'
        added = F.array_union("stages_done", F.array(F.lit(stage)))
        marked = cp.join(updates.select("url", "_hit"), "url", "left")
        return marked.withColumn(
            "stages_done", F.when(hit, added).otherwise(F.col("stages_done"))
        ).drop("_hit")

    c.rewrite(spark, "enriched", buckets, set_cols)
    c.rewrite(spark, "checkpoint", buckets, add_stage)
    c.commit()
    return result.count()  # served from the checkpointed blocks
