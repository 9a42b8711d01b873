"""Index-maintenance operators: delete, move, annotation/sidecar joins.

Small utilities completing the reference's operator surface:

- ``delete_by_url`` / ``delete_where``: etl_delete.py:52-67 (`Delete`
  by id / by query) → one commit rewriting the victims' buckets
  (Iceberg: ``DELETE FROM enriched WHERE url = ?``).
- ``move_url``: move_indexed_file.py:9-53 — rewrite a document's id and
  its derived path facets after a filesystem move, in the enriched
  table and the checkpoint, one commit.
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
from open_semantic_etl_spark.plans.checkpoint import URL_TABLES, Commit, bucket_expr, buckets_of


def _url_buckets(spark: SparkSession, urls: list[str], n_buckets: int) -> list[int]:
    """bucket ids of a driver-side url list among ``n_buckets`` (a tiny
    Spark expression: the tables' own xxhash64)."""
    urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
    return buckets_of(urls_df.select(bucket_expr(n_buckets=n_buckets).alias("_bucket")))


def _delete(
    spark: SparkSession, c: Commit, name: str, buckets: list | None, predicate: Column
) -> int:
    """stage on ``c`` a rewrite of table ``name``'s ``buckets`` without
    the rows ``predicate`` holds for; returns how many go.  The count is observed ON the
    rewrite pass itself (Spark ``Observation`` = CollectMetrics in the
    write job), so the only scan is the rewrite's own — no before/after
    counts (plan-audited).  SQL DELETE semantics: a NULL-predicate row
    is KEPT, so the count equals exactly the rows removed (plain
    ``~predicate`` would drop NULL rows uncounted)."""
    obs = Observation()

    def drop_counting(df: DataFrame) -> DataFrame:
        observed = df.observe(obs, F.count(F.when(predicate, 1)).alias("deleted"))
        return observed.filter(~F.coalesce(predicate, F.lit(False)))

    c.rewrite(spark, name, buckets, drop_counting)
    return int(obs.get["deleted"]) if buckets is None or buckets else 0


def delete_by_url(spark: SparkSession, root: str, urls: list[str]) -> int:
    """remove documents by id (etl_delete) — one commit rewriting the
    victims' buckets only (Iceberg: ``DELETE FROM enriched WHERE url IN
    (…)``), in the enriched table and the checkpoint, so a rerun
    re-indexes them, in the bucket space the two tables record."""
    c = Commit(root, "delete")
    buckets = _url_buckets(spark, urls, c.base.buckets(URL_TABLES))
    is_victim = F.col("url").isin(urls)
    deleted = _delete(spark, c, "enriched", buckets, is_victim)
    _delete(spark, c, "checkpoint", buckets, is_victim)
    c.commit()
    return deleted


def delete_where(spark: SparkSession, root: str, predicate: Column) -> int:
    """empty-index / delete-by-query form (etl_delete.py:64-67) — an
    arbitrary predicate can hit any bucket, so this rewrites every
    bucket dir (Iceberg: DELETE FROM … WHERE <predicate>).  Each row
    keeps its bucket, so the table's bucket count is unchanged."""
    c = Commit(root, "delete")
    deleted = _delete(spark, c, "enriched", None, predicate)
    c.commit()
    return deleted


def move_url(spark: SparkSession, root: str, src: str, dst: str) -> None:
    """rewrite a moved document's id + path facets (move_indexed_file)
    — one commit rewriting exactly the src and dst buckets per table.  In the
    enriched table and the checkpoint alike, src's row becomes dst's
    and replaces any dst row (a Solr update with an existing id
    overwrites the doc), so a src that comes back is indexed again."""
    c = Commit(root, "move", src)
    n_buckets = c.base.buckets(URL_TABLES)
    buckets = _url_buckets(spark, [src, dst], n_buckets)

    def transform(df):
        path_cols = [
            c for c in df.columns if c.startswith("path") or c == "filename_extension_s"
        ]
        moved = with_path_facets(
            df.filter(F.col("url") == src).drop(*path_cols).withColumn("url", F.lit(dst)),
            id_col="url",
        ).withColumn("_bucket", bucket_expr(n_buckets=n_buckets))
        kept = df.filter(~F.col("url").eqNullSafe(src)).join(
            moved.select("url"), "url", "left_anti"
        )
        return kept.unionByName(moved.select(*df.columns)).select(*df.columns)

    c.rewrite(spark, "enriched", buckets, transform)
    c.rewrite(spark, "checkpoint", buckets, transform)
    c.commit()


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
