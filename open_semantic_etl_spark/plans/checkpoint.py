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
  becomes: a run's enriched MERGE, metrics append and checkpoint MERGE
  are ONE commit, so a crash anywhere before it re-processes the run's
  urls on the next run (the url-keyed MERGE makes the replay
  idempotent, and the metrics rows land once), and a crash after it
  leaves nothing to redo.
- per-plugin timing fields (etl.py:222-238) become per-partition
  lineage rows appended to a metrics table.

Storage: this sandbox has no Iceberg/Delta jars, so tables are parquet
directories HASH-BUCKETED by url — hive-partitioned on
``_bucket = pmod(xxhash64(url), n_buckets)`` — committed through one
append-only log per root, after the Delta Lake transaction log
(Armbrust et al., VLDB 2020).  A root is the dir that holds sibling
tables (``Tables(root)``, an LSH index, a stream's ``kept/``); its
``_log/<v>.json`` entries each name an operation, its run or batch id,
and per table the data files it added and removed and, when it changes,
the table's layout (schema, partition column, ``n_buckets`` and any
other creator record such as the LSH family).  Data
files are immutable and Spark-uniquely named; a commit writes its new
files, then creates the next entry (a link that fails when the version
is taken: the commit point), then deletes the files it replaced.
Readers take the live file set and schema from the log
(``read_table``); a file no entry names is invisible.  An operation
reads one snapshot, its ``Commit``'s ``base``: every input it takes
from its root (pending rows, bucket counts, the LSH family) and the
version it commits on top of come from one replay of the log.  Every write
rewrites ONLY the buckets it touches (partition pruning at the file
list): untouched bucket files stay byte-identical, so incremental
write cost tracks the BATCH, not the table.  On a real cluster the
same call sites map to Iceberg's CTAS, append and ``MERGE INTO
enriched USING batch ON url`` (snapshot commit = our log entry;
Iceberg's bucket(url, N) transform = our ``_bucket``; the copy-on-write
MERGE rewrites exactly the same file set).

Scale: the anti-join shuffles only ``(url, content_hash)`` — 16 bytes +
url per row, NOT the html payload: the join is planned on the slim
projection before the extraction stage runs, so unchanged pages never
cross the wire. At 10^12 rows both tables share the url bucketing, so
the checkpoint join co-locates (storage-partitioned join on Iceberg).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from open_semantic_etl_spark.operators.entity_linking import Gazetteer
from open_semantic_etl_spark.plans.pipeline import (
    PIPELINE_VERSION,
    STAGES,
    content_hash,
    enrich_pages,
)


#: DEFAULT url-hash bucket count of a NEW table, which then records it
#: (``Snapshot.buckets``) like Iceberg's bucket(url, N) partition spec.
#: Sizing rule: ``n_buckets ≈ table_bytes / target_rewrite_unit``, the
#: bucket-dir size you will rewrite per touched bucket (1-10 GB on
#: object storage) — O(10^5) at 10^12 rows. A batch of B urls rewrites
#: ≈ min(B, N)/N of the table: ∝ the BATCH while B ≪ N (steady
#: recrawl); bulk B ≥ N batches degrade to a full rewrite, where a real
#: Iceberg/Delta MERGE (file pruning, merge-on-read) takes over.
N_BUCKETS = 64

#: the url-keyed tables of a ``Tables`` root: one bucket space, both record it
URL_TABLES = ("enriched", "checkpoint")

LOG = "_log"  # <root>/_log/<version>.json


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


def require_local(path: str) -> None:
    """the commit log runs on driver-local filesystem primitives; a
    URI-schemed path (hdfs://, s3a://) would make every os.path check
    read as 'absent' — merge_by_url would overwrite the table with the
    batch and the LSH probe would admit every duplicate.  Raise loudly."""
    if "://" in path:
        raise NotImplementedError(
            f"table and index paths must be driver-local filesystem paths "
            f"in this build (got {path!r}); remote-FS support needs a Hadoop "
            "FileSystem backend for plans/checkpoint.py's commit log (the "
            "exclusive create of <root>/_log/<v>.json, the log listing, and "
            "the data-file moves and deletes)"
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


# ---------------------------------------------------------------------------
# the log
# ---------------------------------------------------------------------------


class Snapshot(NamedTuple):
    """the tables under ``root`` as of log ``version`` (0 = no entry):
    name -> {"files": data files relative to the table dir, "layout":
    {"schema": the table's schema as JSON, "part_col": its partition
    column or None, "record": the ints its creator recorded, such as
    ``n_buckets`` and an LSH index's family}}."""

    root: str
    version: int
    tables: dict

    def table(self, name: str) -> dict | None:
        """table ``name``, or None.  A table dir holding data under a
        root that has no log at all was written before the log: no
        migration, it raises with the rebuild instruction."""
        table = self.tables.get(name)
        path = os.path.join(self.root, name)
        if table is None and not os.path.isdir(os.path.join(self.root, LOG)) and has_data(path):
            raise ValueError(
                f"table {path} holds data but {self.root} has no commit log ({LOG}/): "
                "rebuild it (drop the dir and re-run the job that wrote it; an "
                "LSH index: build_lsh_index)"
            )
        return table

    def buckets(self, names: tuple[str, ...], n_buckets: int | None = None) -> int:
        """the bucket count tables ``names`` record, else ``n_buckets``
        (default ``N_BUCKETS``).  A count that disagrees with a record
        raises: writing into another bucket space duplicates urls."""
        for name in names:
            table = self.table(name)
            recorded = table["layout"]["record"].get("n_buckets") if table else None
            if recorded is None:
                continue
            if n_buckets is not None and n_buckets != recorded:
                raise ValueError(
                    f"table {os.path.join(self.root, name)} records "
                    f"n_buckets={recorded}, not {n_buckets}"
                )
            n_buckets = recorded
        return N_BUCKETS if n_buckets is None else n_buckets

    def read(self, spark: SparkSession, name: str, buckets: list | None = None) -> DataFrame:
        """the rows of table ``name`` (only ``buckets``' when given):
        its files listed explicitly under its logged schema — no dir
        listing, no schema inference, pruned to the buckets' files.  The
        names are taken literally: a root path may hold glob
        metacharacters.  FileNotFoundError when there is no such table."""
        path = os.path.join(self.root, name)
        table = self.table(name)
        if table is None:
            raise FileNotFoundError(f"no table {path} in {os.path.join(self.root, LOG)}")
        schema = StructType.fromJson(table["layout"]["schema"])
        files = _bucket_files(table, buckets)
        if not files:
            return spark.createDataFrame([], schema)
        reader = spark.read.schema(schema).option("basePath", path)
        return reader.option("__globPaths__", "false").parquet(
            *(os.path.join(path, f) for f in files)
        )


def _replay(root: str) -> Snapshot:
    """fold ``root``'s log entries, oldest first, into its snapshot."""
    log = os.path.join(root, LOG)
    try:
        names = sorted(n for n in os.listdir(log) if n.endswith(".json"))
    except FileNotFoundError:
        names = []
    tables: dict = {}
    for name in names:
        with open(os.path.join(log, name)) as fh:
            entry = json.load(fh)
        for table, change in entry["tables"].items():
            live = tables.setdefault(table, {"files": set(), "layout": None})
            live["files"].difference_update(change["remove"])
            live["files"].update(change["add"])
            live["layout"] = change.get("layout", live["layout"])
            if live["layout"] is None:
                del tables[table]  # dropped
    return Snapshot(root, int(names[-1][:-5]) if names else 0, tables)


def _create_entry(root: str, version: int, entry: dict) -> bool:
    """write ``entry`` whole under a hidden name, then link it to
    ``_log/<version>.json`` — the commit point.  False when another
    commit took that version (the link never replaces a file)."""
    log = os.path.join(root, LOG)
    tmp = os.path.join(log, f".{version}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, os.path.join(log, f"{version:012d}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def snapshot(root: str) -> Snapshot:
    """the live tables under ``root``, read from its log: one snapshot
    for every table a reader reads together."""
    require_local(root)
    return _replay(root)


def _split(path: str) -> tuple[str, str]:
    """``(root, table name)`` of a table path."""
    require_local(path)
    return os.path.split(os.path.normpath(path))


def _bucket_files(table: dict, buckets: list | None) -> list[str]:
    """the table's live files, only those in the ``buckets`` dirs when given."""
    files = table["files"]
    if buckets is not None:
        dirs = {f"{table['layout']['part_col']}={b}" for b in buckets}
        files = [f for f in files if f.split("/", 1)[0] in dirs]
    return sorted(files)


def read_table(spark: SparkSession, path: str, buckets: list | None = None) -> DataFrame:
    """the live rows of the table at ``path`` (only ``buckets``' when
    given); FileNotFoundError when its root's log holds no such table."""
    root, name = _split(path)
    return _replay(root).read(spark, name, buckets)


def _layout_of(df: DataFrame, part_col: str | None, record: dict[str, int]) -> dict:
    """the layout of a table holding ``df``: its schema, partition column last."""
    fields = sorted(df.schema.fields, key=lambda f: f.name == part_col)
    return {"schema": StructType(fields).jsonValue(), "part_col": part_col, "record": record}


def _write_files(df: DataFrame, path: str, part_col: str | None) -> list[str]:
    """write ``df`` as new data files of the table at ``path``: Spark
    writes them into a hidden stage dir, and each moves into its bucket
    dir under its Spark-unique name.  No reader sees them until a log
    entry names them.  Returns their paths relative to ``path``."""
    stage = os.path.join(path, f".stage-{uuid.uuid4().hex[:12]}")
    writer = df.write.mode("errorifexists")
    (writer.partitionBy(part_col) if part_col else writer).parquet(stage)
    added = []
    for d, _sub, files in os.walk(stage):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(d, f), stage)
                os.makedirs(os.path.dirname(os.path.join(path, rel)), exist_ok=True)
                os.rename(os.path.join(d, f), os.path.join(path, rel))
                added.append(rel)
    shutil.rmtree(stage)
    return added


def _reap(root: str, changes: dict) -> None:
    """delete each table's ``remove`` files in ``changes``."""
    for name, change in changes.items():
        for f in change["remove"]:
            try:
                os.remove(os.path.join(root, name, f))
            except FileNotFoundError:
                pass


class Commit:
    """One log entry under ``root``: operation ``op`` (its run or batch
    id ``op_id``) stages table changes — ``create``, ``append``,
    ``rewrite``, ``drop`` — against the snapshot it started from
    (``base``), and ``commit`` publishes them all at once.  Every table
    write of the engine is one of these."""

    def __init__(self, root: str, op: str, op_id: str | None = None) -> None:
        require_local(root)
        self.root, self.op, self.op_id = root, op, op_id
        self.base = _replay(root)
        self.logged = os.path.isdir(os.path.join(root, LOG))
        self.changes: dict = {}

    def _put(self, name: str, df: DataFrame, part_col: str | None, remove, layout=None) -> None:
        # the log dir exists before any data file lands: the strays of a
        # crashed commit then never read as a table from before the log
        os.makedirs(os.path.join(self.root, LOG), exist_ok=True)
        add = _write_files(df, os.path.join(self.root, name), part_col)
        change = self.changes.setdefault(name, {"add": [], "remove": []})
        change["add"] += add
        change["remove"] += sorted(remove)
        if layout is not None:
            change["layout"] = layout

    def create(self, name: str, df: DataFrame, part_col: str | None, record: dict[str, int]) -> None:
        """replace table ``name`` with ``df`` (partitioned by
        ``part_col``, or flat) under a layout recording ``record``."""
        if not self.logged:  # a dir from before the log: rebuilt whole
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        old = self.base.tables.get(name)
        self._put(name, df, part_col, old["files"] if old else (), _layout_of(df, part_col, record))

    def append(self, name: str, df: DataFrame, part_col: str | None, record: dict[str, int]) -> None:
        """add ``df``'s rows to table ``name``, created (``record``) when absent."""
        layout = None if self.base.table(name) else _layout_of(df, part_col, record)
        self._put(name, df, part_col, (), layout)

    def rewrite(
        self, spark: SparkSession, name: str, buckets: list | None,
        transform: Callable[[DataFrame], DataFrame],
    ) -> None:
        """replace the rows of table ``name``'s ``buckets`` (``None`` =
        every bucket) with ``transform`` of them.  Only those buckets'
        files are read and replaced; every other file stays
        byte-identical.  ``transform`` sees the partition column and
        must return it (pass it through, or re-derive it when the key
        changes); a bucket it leaves empty loses its files, and a new
        output column joins the layout.  Iceberg equivalent: one
        copy-on-write snapshot replacing the touched partitions' files."""
        if buckets is not None and not buckets:
            return
        table = self.base.table(name)
        if table is None:
            raise FileNotFoundError(f"no table {os.path.join(self.root, name)} to rewrite")
        layout = table["layout"]
        out = transform(self.base.read(spark, name, buckets))
        schema = StructType.fromJson(layout["schema"])
        added = [f for f in out.schema if f.name not in schema.names]
        if added:
            fields = sorted(schema.fields + added, key=lambda f: f.name == layout["part_col"])
            layout = {**layout, "schema": StructType(fields).jsonValue()}
        self._put(name, out, layout["part_col"], _bucket_files(table, buckets),
                  layout if added else None)

    def drop(self, name: str) -> None:
        """remove table ``name`` and its files."""
        table = self.base.table(name)
        if table is not None:
            self.changes[name] = {"add": [], "remove": sorted(table["files"]), "layout": None}

    def commit(self) -> None:
        """create the next log entry, then delete the replaced files.

        A lost race for the next version re-reads the log and retries on
        top of the newer entries, unless one of them removed a file this
        commit also removes, or re-laid out or dropped a table this
        commit touches, or changed a table this commit re-lays out
        (RuntimeError: the operation must rerun, and the files this
        commit wrote are deleted).  So an append to an unchanged layout
        never conflicts, and a compaction keeps the rows of an ingest
        that committed while it ran."""
        if not self.changes:
            return
        entry = {"op": self.op, "id": self.op_id, "tables": self.changes}
        snap = self.base
        while not _create_entry(self.root, snap.version + 1, entry):
            snap = _replay(self.root)
            for name, change in self.changes.items():
                live, base = snap.tables.get(name), self.base.tables.get(name)
                gone = set(change["remove"]) - (live["files"] if live else set())
                relaid = "layout" in change or (live and live["layout"]) != (base and base["layout"])
                if gone or (relaid and live != base):
                    _reap(self.root, {n: {"remove": ch["add"]} for n, ch in self.changes.items()})
                    raise RuntimeError(
                        f"{self.op} {self.op_id or ''} on {os.path.join(self.root, name)} "
                        f"conflicts with a commit made since log version {self.base.version}"
                    )
        _reap(self.root, self.changes)


# ---------------------------------------------------------------------------
# the incremental run
# ---------------------------------------------------------------------------


def _merge(spark: SparkSession, c: Commit, name: str, new: DataFrame, n_buckets: int) -> None:
    """stage ``new``'s MERGE by url into table ``name`` on ``c``: the
    batch's buckets only, new row wins whole; a first merge creates it."""
    new = new.withColumn("_bucket", bucket_expr(n_buckets=n_buckets))
    if c.base.table(name) is None:
        c.create(name, new, "_bucket", {"n_buckets": n_buckets})
        return
    c.rewrite(
        spark, name, buckets_of(new),
        lambda old: old.join(new.select("url"), "url", "left_anti").unionByName(
            new, allowMissingColumns=True
        ),
    )


def merge_by_url(
    spark: SparkSession, new: DataFrame, path: str, n_buckets: int | None = None
) -> None:
    """MERGE new INTO path ON url (new row wins, whole row), one commit.

    Bucket-pruned: only the url-hash buckets the batch touches are read
    and rewritten; every other bucket file is untouched on disk. Iceberg
    equivalent: copy-on-write ``MERGE INTO t USING batch ON t.url =
    batch.url`` with the table bucket(url, N)-partitioned. Idempotent
    under replay (a rerun re-merges by url to the same result).

    The first write creates the table with ``n_buckets`` (default
    ``N_BUCKETS``) and records its layout; a later merge uses the
    recorded count (see ``Snapshot.buckets``); a table with data under a
    root without a log raises.  A recorded column the batch lacks
    survives the merge, NULL on the batch's rows.
    """
    root, name = _split(path)
    c = Commit(root, "merge")
    _merge(spark, c, name, new, c.base.buckets((name,), n_buckets))
    c.commit()


def pending_rows(spark: SparkSession, pages: DataFrame, tables: Tables) -> DataFrame:
    """``_pending`` of ``pages`` against the live checkpoint of ``tables``."""
    return _pending(spark, pages, snapshot(tables.root))


def _pending(spark: SparkSession, pages: DataFrame, snap: Snapshot) -> DataFrame:
    """filter_file_not_modified semantics: one row per url — its latest
    ``warc_ts``, the larger content hash on a tie — kept when it is new,
    its content changed, its pipeline version changed, or ``snap``'s
    checkpoint misses any of ``STAGES`` for it
    (filter_file_not_modified.py:111-159)."""
    # two-step join so html NEVER rides a shuffle:
    #  1. pick each url's row and anti-join it on the KEY PROJECTION
    #     only (url + 8-byte hash + row id) — the wide html column is not
    #     shuffled in this plan at all;
    #  2. semi-join pages against the (usually tiny) todo row ids — in
    #     the steady incremental state AQE broadcasts them, so the full
    #     pages scan is never exchanged. At 10^12 rows with both tables
    #     bucketed by url (Iceberg storage-partitioned join) step 2 is
    #     shuffle-free even for large deltas.
    # The row id tells apart rows equal in every key (a page landed
    # twice); both scans of ``pages`` assign it alike.
    rows = pages.withColumn("_row", F.monotonically_increasing_id())
    todo = (
        rows.groupBy("url")
        .agg(F.max(F.struct("warc_ts", content_hash().alias("content_hash"), "_row")).alias("k"))
        .select("url", "k.content_hash", "k._row")
    )
    if snap.table("checkpoint") is not None:
        done = snap.read(spark, "checkpoint").filter(
            (F.col("pipeline_version") == PIPELINE_VERSION)
            & (F.size(F.array_except(F.array(*[F.lit(s) for s in STAGES]), F.col("stages_done"))) == 0)
        ).select("url", "content_hash")
        todo = todo.join(done, ["url", "content_hash"], "left_anti")
    return rows.join(todo.select("_row"), "_row", "left_semi").drop("_row")


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
    repartition: int | None = None,
    run_id: str | None = None,
    n_buckets: int | None = None,
) -> dict:
    """One resumable enrichment run — one commit — returns run stats.

    The run reads one snapshot of ``root``, its commit's base: the
    pending rows and the bucket count come from it, and the commit lands
    on top of it.  ``n_buckets`` sizes the tables this run creates; on
    existing tables it must match their recorded count (ValueError
    before any write).  Every run runs and records all of ``STAGES``.
    """
    t0 = time.time()
    run_id = run_id or uuid.uuid4().hex[:12]
    c = Commit(root, "run", run_id)
    n_buckets = c.base.buckets(URL_TABLES, n_buckets)

    todo = _pending(spark, pages, c.base)
    enriched = enrich_pages(todo, gazetteer=gazetteer, repartition=repartition)
    enriched = _with_partition_metrics(enriched, run_id)

    # persist the in-flight batch ONCE: the merge, metrics rollup, and
    # checkpoint rows all read it, and none of them may re-scan the
    # (table-sized) enriched output — run cost must track the batch
    out = enriched.persist()
    n_done = out.count()
    if n_done:  # an empty batch commits nothing and appends no metrics
        # one commit: the output MERGE by url (bucket-pruned, write
        # volume ∝ batch), the per-partition metrics rollup from the
        # batch, and the checkpoint rows (the same url-keyed merge)
        _merge(spark, c, "enriched", out, n_buckets)
        elapsed_ms = int((time.time() - t0) * 1000)
        c.append("metrics", batch_metrics(out, run_id, elapsed_ms), None, {})
        ckpt = (
            out.select("url", "content_hash")
            .withColumn("stages_done", F.array(*[F.lit(s) for s in STAGES]))
            .withColumn("pipeline_version", F.lit(PIPELINE_VERSION))
        )
        _merge(spark, c, "checkpoint", ckpt, n_buckets)
        c.commit()

    out.unpersist()
    return {
        "run_id": run_id,
        "processed": n_done,
        "elapsed_ms": int((time.time() - t0) * 1000),
    }
