"""Index-maintenance operators: delete, move, annotation/sidecar joins.

Small utilities completing the reference's operator surface:

- ``delete_by_url`` / ``delete_where``: etl_delete.py:52-67 (`Delete`
  by id / by query) → anti-join rewrite of the enriched table
  (Iceberg: ``DELETE FROM enriched WHERE url = ?``).
- ``move_url``: move_indexed_file.py:9-53 — rewrite a document's id and
  its derived path facets after a filesystem move.
- ``join_annotations``: enhance_annotations.py:21-39 — pull external
  per-url annotations via a LEFT JOIN against an annotations table
  (replaces the per-doc HTTP GET; add-distinct merge = array_union).
- ``join_sidecar``: enhance_xml.py:8-25 / enhance_xmp.py:70-133 —
  sidecar metadata files joined on the filename stem.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.functions.path import with_path_facets
from open_semantic_etl_spark.plans.checkpoint import (
    N_BUCKETS,
    Tables,
    _atomic_overwrite,
    bucket_expr,
    has_data,
    read_table,
    recover_table,
    swap_buckets,
    tmp_path,
)


def _url_buckets(
    spark: SparkSession, urls: list[str], n_buckets: int = N_BUCKETS
) -> list[int]:
    """bucket ids for a driver-side url list (same xxhash64 the tables
    are partitioned by — computed via a tiny Spark expression)."""
    return [
        r[0]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select(bucket_expr(n_buckets=n_buckets).alias("b"))
        .distinct()
        .collect()
    ]


def _rewrite_buckets(
    spark: SparkSession,
    path: str,
    buckets: list[int],
    transform,
    n_buckets: int = N_BUCKETS,
) -> None:
    """read ONLY the given buckets, apply ``transform``, swap those
    bucket dirs — delete/move touch a handful of urls, so the write
    volume is a few buckets, never the table. ``n_buckets`` must match
    the table's creation-time value (checkpoint.N_BUCKETS sizing rule)."""
    recover_table(path)
    df = spark.read.parquet(path)
    if "_bucket" not in df.columns:  # legacy unbucketed layout
        _atomic_overwrite(transform(df), path, n_buckets=n_buckets)
        return
    part = df.filter(F.col("_bucket").isin(buckets)).drop("_bucket")
    out = transform(part).withColumn("_bucket", bucket_expr(n_buckets=n_buckets))
    tmp = tmp_path(path)
    out.write.mode("overwrite").partitionBy("_bucket").parquet(tmp)
    swap_buckets(tmp, path, buckets)


def delete_by_url(
    spark: SparkSession, root: str, urls: list[str], n_buckets: int = N_BUCKETS
) -> int:
    """remove documents by id (etl_delete) — bucket-pruned rewrite
    (Iceberg: ``DELETE FROM enriched WHERE url IN (…)``).

    The deleted count is observed ON the rewrite pass itself (Spark
    ``Observation`` = CollectMetrics in the write job), so the only
    scans this plans are of the touched ``_bucket`` partitions — no
    before/after full-table counts (plan-audited)."""
    tables = Tables(root)
    buckets = _url_buckets(spark, urls, n_buckets)
    obs = Observation()

    def drop_counting(df: DataFrame) -> DataFrame:
        observed = df.observe(
            obs, F.count(F.when(F.col("url").isin(urls), 1)).alias("deleted")
        )
        # SQL DELETE semantics: only predicate-TRUE rows go — a NULL
        # url is KEPT (plain ~isin would drop it uncounted)
        return observed.filter(~F.coalesce(F.col("url").isin(urls), F.lit(False)))

    _rewrite_buckets(spark, tables.enriched, buckets, drop_counting, n_buckets)
    recover_table(tables.checkpoint)
    if has_data(tables.checkpoint):
        _rewrite_buckets(
            spark, tables.checkpoint, buckets,
            lambda df: df.filter(~F.coalesce(F.col("url").isin(urls), F.lit(False))),
            n_buckets,
        )
    return int(obs.get["deleted"])


def delete_where(
    spark: SparkSession, root: str, predicate: Column, n_buckets: int = N_BUCKETS
) -> int:
    """empty-index / delete-by-query form (etl_delete.py:64-67) — an
    arbitrary predicate can hit any bucket, so this is the one
    full-table rewrite (Iceberg: DELETE FROM … WHERE <predicate>).
    The deleted count comes from the single rewrite scan (Observation),
    not separate before/after counts. ``n_buckets`` must match the
    table's layout (a per-table constant — rewriting into a different
    bucket space silently breaks every later pruned merge/delete)."""
    tables = Tables(root)
    # recovery FIRST: a merge crash can leave a bucket's live rows only
    # in the __swap staging dir — reading without recovery would
    # rewrite the table without them (row loss), and the NEXT merge's
    # recovery would then resurrect rows this delete removed
    recover_table(tables.enriched)
    df = read_table(spark, tables.enriched)
    obs = Observation()
    observed = df.observe(obs, F.count(F.when(predicate, 1)).alias("deleted"))
    # SQL DELETE semantics: NULL-predicate rows are kept, so the
    # observed TRUE count equals exactly the rows removed (plain
    # ~predicate would silently drop NULL rows uncounted)
    _atomic_overwrite(
        observed.filter(~F.coalesce(predicate, F.lit(False))),
        tables.enriched,
        n_buckets=n_buckets,
    )
    return int(obs.get["deleted"])


def move_url(
    spark: SparkSession, root: str, src: str, dst: str, n_buckets: int = N_BUCKETS
) -> None:
    """rewrite a moved document's id + path facets (move_indexed_file)
    — touches exactly the src and dst buckets."""
    tables = Tables(root)
    buckets = _url_buckets(spark, [src, dst], n_buckets)

    def transform(df):
        moved = df.withColumn(
            "url", F.when(F.col("url") == src, F.lit(dst)).otherwise(F.col("url"))
        )
        path_cols = [
            c for c in moved.columns if c.startswith("path") or c == "filename_extension_s"
        ]
        refreshed = with_path_facets(moved.drop(*path_cols), id_col="url")
        return refreshed.select(*df.columns)

    _rewrite_buckets(spark, tables.enriched, buckets, transform, n_buckets)


def join_annotations(
    df: DataFrame, annotations: DataFrame, on: str = "url", merge_cols: tuple[str, ...] = ()
) -> DataFrame:
    """LEFT JOIN external annotations; array columns merge add-distinct
    (export_solr.py:110 semantics) when present on both sides."""
    ann = annotations
    overlap = [c for c in ann.columns if c in df.columns and c != on]
    for c in overlap:
        ann = ann.withColumnRenamed(c, f"_ann_{c}")
    out = df.join(F.broadcast(ann), on, "left")
    for c in overlap:
        if c in merge_cols:
            out = out.withColumn(
                c, F.array_union(F.coalesce(F.col(c), F.array()), F.coalesce(F.col(f"_ann_{c}"), F.array()))
            )
        else:
            out = out.withColumn(c, F.coalesce(F.col(f"_ann_{c}"), F.col(c)))
        out = out.drop(f"_ann_{c}")
    return out


def join_sidecar(
    df: DataFrame, sidecar: DataFrame, id_col: str = "url", sidecar_suffix: str = ".xmp"
) -> DataFrame:
    """join sidecar metadata on the data file's stem: sidecar rows are
    keyed by '<datafile><suffix>' (enhance_xmp filename convention)."""
    key = F.regexp_replace(F.col("_sidecar_key"), F.lit(sidecar_suffix + "$"), F.lit(""))
    sc = sidecar.withColumnRenamed(id_col, "_sidecar_key").withColumn(
        "_join_key", key
    ).drop("_sidecar_key")
    return df.join(F.broadcast(sc), df[id_col] == sc["_join_key"], "left").drop("_join_key")
