"""Incremental, idempotent, resumable runs: checkpoint + merge + lineage.

The Spark-native replacement for the reference's incremental machinery:

- ``filter_file_not_modified`` (filter_file_not_modified.py:25-262) —
  skip documents whose content and completed stages are unchanged —
  becomes a LEFT ANTI JOIN of the input against the checkpoint table on
  ``(url, content_hash, pipeline_version)`` + stage-completeness.
- Solr updates (export_solr.py:98-115) become bucket rewrites of the
  enriched and checkpoint tables: a run's whole-row MERGE by url
  (``merge_by_url``), and a backfill's partial updates
  (plans/backfill.py) — 'set' overwrites only the stage's columns on
  matched rows, 'add-distinct' ``array_union``s the stage into
  ``stages_done``.
- Celery ``acks_late`` at-least-once redelivery (tasks.py:34-35)
  becomes: the MERGE commits BEFORE the checkpoint commit, so a crash
  between the two re-processes those urls on the next run and the
  url-keyed MERGE makes the replay idempotent.
- per-plugin timing fields (etl.py:222-238) become per-partition
  lineage rows appended to a metrics table.

Storage: this sandbox has no Iceberg/Delta jars, so tables are parquet
directories HASH-BUCKETED by url — hive-partitioned on
``_bucket = pmod(xxhash64(url), n_buckets)``.  Every table write is one
of three commits: ``create_table`` (a first merge, an LSH index build),
``append_batch`` (the LSH index's ingest: staged files move in, one
rename publishes the batch) and ``rewrite_buckets`` (merge, backfill,
delete, move, LSH delete and compaction): only the named buckets are
read (partition pruning), transformed and rewritten (per-bucket
directory swap); untouched bucket files stay byte-identical, so
incremental write cost tracks the BATCH, not the table. On a real
cluster the same call sites map to Iceberg's CTAS, append and ``MERGE
INTO enriched USING batch ON url`` (snapshot commit = our swap;
Iceberg's bucket(url, N) transform = our ``_bucket``; the copy-on-write
MERGE rewrites exactly the same file set).

Each table records its schema and ``n_buckets`` (Iceberg's table
metadata: schema + partition spec) in ``<table>/_common_metadata``, which
Spark's schema inference reads first: plain reads see every column.
A creator may record more (the LSH index's family): ``table_record``.

Scale: the anti-join shuffles only ``(url, content_hash)`` — 16 bytes +
url per row, NOT the html payload: the join is planned on the slim
projection before the extraction stage runs, so unchanged pages never
cross the wire. At 10^12 rows both tables share the url bucketing, so
the checkpoint join co-locates (storage-partitioned join on Iceberg).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Callable, Iterable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.plans.pipeline import (
    PIPELINE_VERSION,
    STAGES,
    content_hash,
    enrich_pages,
)


#: DEFAULT url-hash bucket count of a NEW table, which then records it
#: (``table_buckets``) like Iceberg's bucket(url, N) partition spec.
#: Sizing rule: ``n_buckets ≈ table_bytes / target_rewrite_unit``, the
#: bucket-dir size you will rewrite per touched bucket (1-10 GB on
#: object storage) — O(10^5) at 10^12 rows. A batch of B urls rewrites
#: ≈ min(B, N)/N of the table: ∝ the BATCH while B ≪ N (steady
#: recrawl); bulk B ≥ N batches degrade to a full rewrite, where a real
#: Iceberg/Delta MERGE (file pruning, merge-on-read) takes over.
N_BUCKETS = 64


def bucket_expr(url_col: str = "url", n_buckets: int = N_BUCKETS) -> F.Column:
    """Iceberg-style bucket transform: pmod(xxhash64(url), N)."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


class Tables:
    """Directory layout for one enrichment dataset."""

    def __init__(self, root: str) -> None:
        require_local(root)
        self.root = root
        self.enriched = os.path.join(root, "enriched")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.metrics = os.path.join(root, "metrics")

    def buckets(self, n_buckets: int | None = None) -> int:
        """``table_buckets`` of the enriched and checkpoint tables alike."""
        return table_buckets(self.checkpoint, table_buckets(self.enriched, n_buckets))


# The commit protocol for every table dir the engine writes (enriched,
# checkpoint, the LSH index's bands/sigs): create_table records the
# layout before the data; rewrite_buckets writes a ``<path>__tmp_*``
# sibling and _swap_buckets renames its bucket dirs in; append_batch
# stages under ``<root>/__batch_<id>`` and _commit_append moves it in.
# Every reader or writer runs recover_table (and recover_appends) first.
# Iceberg equivalent: the snapshot commit, where all of this is free.


def require_local(path: str) -> None:
    """the commit protocol runs on driver-local filesystem primitives; a
    URI-schemed path (hdfs://, s3a://) would make every os.path check
    read as 'absent' — merge_by_url would overwrite the table with the
    batch and the LSH probe would admit every duplicate.  Raise loudly."""
    if "://" in path:
        raise NotImplementedError(
            f"table and index paths must be driver-local filesystem paths "
            f"in this build (got {path!r}); remote-FS support needs the "
            "Hadoop FileSystem API behind plans/checkpoint.py's commit "
            "protocol (has_data, create_table, rewrite_buckets, "
            "append_batch, recover_table, recover_appends)"
        )


def has_data(path: str) -> bool:
    """True when the dir holds a parquet data file (a filesystem check,
    never a caught read error)."""
    require_local(path)
    return any(
        f.endswith(".parquet") for _d, _s, files in os.walk(path) for f in files
    )


def buckets_of(df: DataFrame, part_col: str = "_bucket") -> list:
    """distinct ``part_col`` values of ``df`` — one small collect."""
    return [r[0] for r in df.select(part_col).distinct().collect()]


_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _layout(path: str) -> tuple[StructType, dict[str, int]] | None:
    """``(data columns, record)`` from ``path/_common_metadata`` — the
    record holds ``n_buckets`` and any other int its creator recorded —
    or None for a table without a layout record."""
    record = os.path.join(path, "_common_metadata")
    if not os.path.isfile(record):
        return None
    meta = pq.read_schema(record).metadata
    columns = StructType.fromJson(json.loads(meta.pop(_SPARK_SCHEMA)))
    return columns, {k.decode(): int(v) for k, v in meta.items()}


def _record_layout(path: str, columns: StructType, record: dict[str, int]) -> None:
    """write the layout record: a footer-only parquet file, on the driver
    (no Spark job); the '.' tmp name is hidden from Spark's listing."""
    meta = {_SPARK_SCHEMA: columns.json(), **{k: str(v) for k, v in record.items()}}
    tmp = os.path.join(path, ".common_metadata.tmp")
    pq.write_metadata(to_arrow_schema(columns).with_metadata(meta), tmp)
    os.replace(tmp, os.path.join(path, "_common_metadata"))


def table_record(path: str) -> dict[str, int] | None:
    """the ints ``path``'s layout record holds (``n_buckets`` and any
    its creator added, such as an LSH index's family), or None."""
    layout = _layout(path)
    return None if layout is None else layout[1]


def table_buckets(path: str, n_buckets: int | None = None) -> int:
    """the bucket count ``path`` records, else ``n_buckets`` (default
    ``N_BUCKETS``).  A creator's ``n_buckets`` that disagrees with the
    record raises: writing into another bucket space duplicates urls."""
    recorded = (table_record(path) or {}).get("n_buckets")
    if recorded is None:
        return N_BUCKETS if n_buckets is None else n_buckets
    if n_buckets is not None and n_buckets != recorded:
        raise ValueError(f"table {path} records n_buckets={recorded}, not {n_buckets}")
    return recorded


def drop_table(path: str) -> None:
    """remove the table (or batch manifest) at ``path``; absent is a no-op."""
    require_local(path)
    shutil.rmtree(path, ignore_errors=True)


def create_table(df: DataFrame, path: str, part_col: str, record: dict[str, int]) -> None:
    """replace ``path`` with ``df`` partitioned by ``part_col``.  The
    layout record (``df``'s data columns plus ``record``, which holds
    ``n_buckets``) goes in BEFORE the data it must cover."""
    drop_table(path)
    os.makedirs(path)
    _record_layout(path, df.drop(part_col).schema, record)
    df.write.mode("append").partitionBy(part_col).parquet(path)


def _swap_buckets(tmp: str, path: str, buckets: list, part_col: str) -> None:
    """move tmp's bucket dirs over path's — only touched buckets change;
    a bucket absent from tmp (all rows deleted) is removed.

    Staged swap: each post-rewrite bucket dir is first parked in the
    sibling ``__swap`` dir — OUTSIDE the table dir, so partition
    discovery never sees half-swapped state — and every crash window
    leaves either the old or the complete new data for the bucket on
    disk; recover_table() rolls an interrupted swap forward before the
    next commit reads the table."""
    sw = f"{path}__swap"
    os.makedirs(sw, exist_ok=True)
    token = uuid.uuid4().hex[:8]
    for b in buckets:
        src = os.path.join(tmp, f"{part_col}={b}")
        dst = os.path.join(path, f"{part_col}={b}")
        stage = os.path.join(sw, f"new__{b}__{token}")
        old = os.path.join(sw, f"old__{b}__{token}")
        if os.path.isdir(src):
            os.rename(src, stage)
        if os.path.isdir(dst):
            os.rename(dst, old)
        if os.path.isdir(stage):
            os.rename(stage, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(sw, ignore_errors=True)


def recover_table(path: str, part_col: str = "_bucket") -> None:
    """finish or undo whatever a crash left of a commit to ``path``:
    reap stale ``__tmp_*`` dirs, and roll an interrupted bucket swap
    forward (a bucket whose live dir went missing mid-swap is restored
    from its staged ``new__*`` copy).  Pure os-path checks when nothing
    is staged; run it before any existence check or read, so
    replay-after-crash converges."""
    require_local(path)
    for stale in glob.glob(f"{glob.escape(path)}__tmp_*"):
        shutil.rmtree(stale, ignore_errors=True)
    sw = f"{path}__swap"
    if not os.path.isdir(sw):
        return
    for name in sorted(os.listdir(sw)):  # 'new' sorts before 'old'
        full = os.path.join(sw, name)
        parts = name.split("__", 2)
        if len(parts) == 3 and parts[0] == "new":
            dst = os.path.join(path, f"{part_col}={parts[1]}")
            if not os.path.isdir(dst):
                os.rename(full, dst)
                continue
        shutil.rmtree(full, ignore_errors=True)
    shutil.rmtree(sw, ignore_errors=True)


def rewrite_buckets(
    spark: SparkSession,
    path: str,
    buckets: list | None,
    transform: Callable[[DataFrame], DataFrame],
    part_col: str = "_bucket",
) -> None:
    """The one table commit: replace bucket dirs of ``path`` with
    ``transform`` applied to their current rows.

    Recovers the table, reads ONLY the ``part_col`` dirs in ``buckets``
    (a partition filter — ``None`` = every bucket dir on disk), writes
    ``transform``'s output to a tmp sibling partitioned by ``part_col``
    and swaps those bucket dirs in; every other bucket file stays
    byte-identical on disk.  ``transform`` sees the ``part_col`` column
    and must return it (pass it through, or re-derive it when the key
    changes).  A bucket the transform leaves empty is removed; a new
    output column joins the layout record before the swap.  Iceberg
    equivalent: one copy-on-write snapshot commit replacing the data
    files of the touched partitions."""
    recover_table(path, part_col)
    df = spark.read.parquet(path)
    if buckets is None:
        prefix = f"{part_col}="
        buckets = [d[len(prefix):] for d in os.listdir(path) if d.startswith(prefix)]
    else:
        df = df.filter(F.col(part_col).isin(buckets))
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"  # reaped by recover_table
    out = transform(df)
    out.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    layout = _layout(path)
    if layout is not None:  # record a new column BEFORE any data file holds it
        columns, record = layout
        added = [f for f in out.schema if f.name not in columns.names + [part_col]]
        if added:
            _record_layout(path, StructType(columns.fields + added), record)
    _swap_buckets(tmp, path, buckets, part_col)


def batch_manifests(root: str) -> str:
    """the dir of ``<batch id>`` manifests each append under ``root`` publishes."""
    return os.path.join(root, "_batches")


def append_batch(
    root: str, batch_id: str, tables: Iterable[tuple[str, DataFrame, str]],
    record: dict[str, int], manifest: DataFrame,
) -> None:
    """The one append: add ``tables``' ``(name, rows, part_col)`` to the
    tables under ``root`` and publish ``manifest`` as batch ``batch_id``.
    Each is staged by ``create_table`` (layout ``record``) under
    ``<root>/__batch_<id>``, then ``_STAGED`` is written and
    ``_commit_append`` moves the stage in.  A crash before ``_STAGED``
    left every live table untouched; one after it is rolled forward by
    ``recover_appends``.  Only files are added, so the write cost tracks
    the batch (Iceberg's append snapshot)."""
    staging = os.path.join(root, f"__batch_{batch_id}")
    drop_table(staging)  # a partial stage: no live table saw it
    for name, rows, part_col in tables:
        create_table(rows, os.path.join(staging, name), part_col, record)
    manifest.write.mode("overwrite").parquet(os.path.join(staging, "manifest"))
    open(os.path.join(staging, "_STAGED"), "w").close()
    _commit_append(root, batch_id)


def _move(src: str, dst: str) -> None:
    """rename; a ``src`` a concurrent committer moved first is skipped."""
    try:
        os.rename(src, dst)
    except FileNotFoundError:
        pass


def _commit_append(root: str, batch_id: str) -> None:
    """roll batch ``batch_id``'s staged-complete append forward: per table,
    the staged layout record first when the live table has none, then
    each part file (Spark-unique names: a resumed move never lands one
    twice); then one rename publishes the manifest — the commit point.
    Idempotent under crash-retry and safe against a concurrent committer
    (another process's probe): whatever the other side moved is skipped."""
    staging = os.path.join(root, f"__batch_{batch_id}")
    manifest = os.path.join(batch_manifests(root), batch_id)
    try:
        names = sorted(os.listdir(staging))
    except FileNotFoundError:
        return  # a concurrent committer finished this append
    for name in names:
        src = os.path.join(staging, name)
        if name == "manifest" or not os.path.isdir(src):
            continue
        live = os.path.join(root, name)
        os.makedirs(live, exist_ok=True)
        if not os.path.isfile(os.path.join(live, "_common_metadata")):
            _move(os.path.join(src, "_common_metadata"), os.path.join(live, "_common_metadata"))
        for d, _s, files in os.walk(src):
            dst = os.path.join(live, os.path.relpath(d, src))
            for f in files:
                if f.endswith(".parquet"):
                    os.makedirs(dst, exist_ok=True)
                    _move(os.path.join(d, f), os.path.join(dst, f))
    os.makedirs(os.path.dirname(manifest), exist_ok=True)
    _move(os.path.join(staging, "manifest"), manifest)
    if not os.path.isdir(manifest):
        raise FileNotFoundError(f"{staging} staged no manifest")
    drop_table(staging)


def recover_appends(root: str) -> None:
    """roll every staged-complete append under ``root`` forward.  An
    un-staged ``__batch_*`` dir is a live writer's stage or dead weight
    its batch's next append drops — never dropped here."""
    require_local(root)
    for staged in glob.glob(os.path.join(glob.escape(root), "__batch_*", "_STAGED")):
        _commit_append(root, os.path.basename(os.path.dirname(staged))[len("__batch_"):])


def merge_by_url(
    spark: SparkSession, new: DataFrame, path: str, n_buckets: int | None = None
) -> None:
    """MERGE new INTO path ON url (new row wins, whole row).

    Bucket-pruned: rewrite_buckets reads and rewrites ONLY the url-hash
    buckets the batch touches (partition filter on ``_bucket``); every
    other bucket file is untouched on disk. Iceberg equivalent:
    copy-on-write ``MERGE INTO t USING batch ON t.url = batch.url`` with
    the table bucket(url, N)-partitioned. Idempotent under replay
    (crash between bucket swaps re-merges by url to the same result).

    The first write creates the table with ``n_buckets`` (default
    ``N_BUCKETS``) and records its layout; a later merge uses the
    recorded count (see ``table_buckets``); a table with data but no
    layout record raises.  A recorded column the batch lacks survives
    the merge, NULL on the batch's rows.
    """
    # recover BEFORE the existence check: a table whose every bucket a
    # crashed swap parked would otherwise read as absent and be
    # replaced by the batch
    recover_table(path)
    n_buckets = table_buckets(path, n_buckets)
    new = new.withColumn("_bucket", bucket_expr(n_buckets=n_buckets))
    if not has_data(path):
        create_table(new, path, "_bucket", {"n_buckets": n_buckets})
        return
    if _layout(path) is None:
        raise ValueError(f"table {path} holds data but records no layout "
                         "(_common_metadata): rebuild it (drop_table, re-run its job)")
    rewrite_buckets(
        spark, path, buckets_of(new),
        lambda old: old.join(new.select("url"), "url", "left_anti").unionByName(
            new, allowMissingColumns=True
        ),
    )


def pending_rows(
    spark: SparkSession,
    pages: DataFrame,
    tables: Tables,
    stages: tuple[str, ...] = STAGES,
) -> DataFrame:
    """filter_file_not_modified semantics: keep rows that are new, whose
    content changed, whose pipeline version changed, or that miss any of
    the requested stages (filter_file_not_modified.py:111-159)."""
    recover_table(tables.checkpoint)
    if not has_data(tables.checkpoint):
        return pages
    cp = spark.read.parquet(tables.checkpoint)
    done = cp.filter(
        (F.col("pipeline_version") == PIPELINE_VERSION)
        & (F.size(F.array_except(F.array(*[F.lit(s) for s in stages]), F.col("stages_done"))) == 0)
    ).select("url", "content_hash")
    # two-step join so html NEVER rides a shuffle:
    #  1. anti-join on the KEY PROJECTION only (url + 8-byte hash) — the
    #     wide html column is not in this plan at all;
    #  2. semi-join pages against the (usually tiny) todo key set — in
    #     the steady incremental state AQE broadcasts it, so the full
    #     pages scan is never exchanged. At 10^12 rows with both tables
    #     bucketed by url (Iceberg storage-partitioned join) step 2 is
    #     shuffle-free even for large deltas.
    keys = pages.select("url", content_hash().alias("content_hash"))
    todo_keys = keys.join(done, ["url", "content_hash"], "left_anti").select("url")
    return pages.join(todo_keys, "url", "left_semi")


def _with_partition_metrics(df: DataFrame, run_id: str) -> DataFrame:
    """append lineage columns; metrics aggregate per partition at write."""
    return df.withColumn("_partition_id", F.spark_partition_id()).withColumn(
        "_run_id", F.lit(run_id)
    )


def batch_metrics(out: DataFrame, run_id: str, elapsed_ms: int) -> DataFrame:
    """per-partition lineage rollup (the reference's per-document timing
    log, etl.py:222-238, aggregated per partition) computed FROM THE
    IN-FLIGHT BATCH —
    this plan must never scan the (table-sized) enriched output; run
    cost tracks the batch (plan-audited in tools/explain_audit.py)."""
    return (
        out.groupBy("_partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.coalesce(F.sum("file_size_i"), F.lit(0)).alias("bytes_in"),
            F.coalesce(F.sum(F.length("content_txt")), F.lit(0)).alias("bytes_out"),
            F.coalesce(
                F.sum(F.when(~F.col("extract_ok"), 1).otherwise(0)), F.lit(0)
            ).alias("failures"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit("enrich").alias("stage"),
            F.col("_partition_id").cast("int").alias("partition_id"),
            F.col("docs").cast("long"),
            F.col("bytes_in").cast("long"),
            F.col("bytes_out").cast("long"),
            F.col("failures").cast("long"),
            F.lit(elapsed_ms).cast("long").alias("elapsed_ms"),
        )
    )


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    gazetteer: Gazetteer | None = None,
    stages: tuple[str, ...] = STAGES,
    repartition: int | None = None,
    run_id: str | None = None,
    n_buckets: int | None = None,
) -> dict:
    """One resumable enrichment run; returns run stats.

    ``n_buckets`` sizes the tables this run creates; on existing tables
    it must match their recorded count (ValueError before any write).
    """
    t0 = time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    tables = Tables(root)
    n_buckets = tables.buckets(n_buckets)
    os.makedirs(root, exist_ok=True)

    todo = pending_rows(spark, pages, tables, stages)
    enriched = enrich_pages(todo, gazetteer=gazetteer, repartition=repartition)
    enriched = _with_partition_metrics(enriched, run_id)

    # persist the in-flight batch ONCE: the merge, metrics rollup, and
    # checkpoint rows all read it, and none of them may re-scan the
    # (table-sized) enriched output — run cost must track the batch
    out = enriched.persist()
    n_done = out.count()
    if n_done:  # an empty batch commits nothing and appends no metrics
        # 1. output commit (MERGE by url — idempotent under replay,
        #    bucket-pruned so write volume ∝ batch)
        merge_by_url(spark, out, tables.enriched, n_buckets=n_buckets)

        # 2. lineage/metrics commit — per-partition rollup from the batch
        elapsed_ms = int((time.time() - t0) * 1000)
        metrics = batch_metrics(out, run_id, elapsed_ms)
        metrics.write.mode("append").parquet(tables.metrics)

        # 3. checkpoint commit (AFTER output — crash replays, never
        #    skips); url-keyed upsert → same bucket-pruned merge
        ckpt = (
            out.select("url", "content_hash")
            .withColumn("stages_done", F.array(*[F.lit(s) for s in stages]))
            .withColumn("pipeline_version", F.lit(PIPELINE_VERSION))
        )
        merge_by_url(spark, ckpt, tables.checkpoint, n_buckets=n_buckets)

    out.unpersist()
    return {
        "run_id": run_id,
        "processed": n_done,
        "elapsed_ms": int((time.time() - t0) * 1000),
    }
