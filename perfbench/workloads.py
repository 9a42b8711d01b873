"""The benchmark's workloads: enrich_default and recrawl_incremental.

Each workload makes its inputs from a seed and follows one protocol,
driven by perfbench/run.py:

- ``setup(workdir, seed)`` makes the inputs (and base tables) and runs
  one warm pass; run.py repeats it and reports the median;
- ``prepare()`` is untimed per-iteration work (planning, restoring
  tables); ``execute()`` is the timed operation and returns an
  ``Outcome``; ``check(outcome)`` raises ``WrongOutput`` when the output
  is wrong and may add untimed measurements to ``outcome.extra``;
- ``trace(tracer)`` is the traced pass: it times calls into the
  workload's layers and returns the per-layer metrics.

Why these workloads, and where the layers of the two left out are
measured: see perfbench/README.md.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_semantic_etl_spark.operators.entity_linking import Gazetteer, GazetteerEntry
from open_semantic_etl_spark.plans import checkpoint as C
from open_semantic_etl_spark.plans.pipeline import (
    PIPELINE_VERSION,
    STAGES,
    content_hash,
    enrich_pages,
)
from open_semantic_etl_spark.schema import PAGES_SCHEMA
from open_semantic_etl_spark.session import ARROW_BATCH_ROWS
from open_semantic_etl_spark.sources.pages import page_record, pages_df
from perfbench.layers import Tracer, kernel_split, metric_sum, plan_metrics
from perfbench.procstat import pin_tree

CORES = 4
#: input files per table: three tasks per core, so no single straggler
#: task sets a stage's time
FILES = 3 * CORES
#: documents and embeddings the curation tier runs on
CURATION_DOCS = 300
CURATION_VECS = 200


class WrongOutput(Exception):
    """The program produced a wrong result; the run must fail."""


@dataclass
class Outcome:
    docs: int  # documents (or input rows) the operation was given
    html_bytes: int  # html bytes it read; 0 where the input has no html
    detail: object  # workload-specific result that check() reads
    failed: int = 0  # documents with extract_ok=false, or failed queries
    extra: dict = field(default_factory=dict)  # untimed per-iteration figures


def gazetteer() -> Gazetteer:
    """The gazetteer bench.py enriches with, so numbers stay comparable."""
    return Gazetteer(
        entries=[
            GazetteerEntry("urn:stgb", "Strafgesetzbuch", "law_code_ss",
                           ("Strafgesetzbuch", "StGB", "STGB"), ("Law\tDE\tCriminal",)),
            GazetteerEntry("urn:bgb", "Bürgerliches Gesetzbuch", "law_code_ss",
                           ("Bürgerliches Gesetzbuch", "BGB"), ("Law\tDE\tCivil",)),
            GazetteerEntry("urn:usd", "US Dollar", "currency_ss", ("USD", "dollar", "dollars")),
            GazetteerEntry("urn:eur", "Euro", "currency_ss", ("EUR", "EURO")),
        ]
    )


def _plan(df):
    """optimize and plan ``df`` now, so the timed action only runs it"""
    df._jdf.queryExecution().executedPlan()
    return df


def _median_of(values) -> float:
    return statistics.median(list(values))


# ---------------------------------------------------------------------------
# enrich_default
# ---------------------------------------------------------------------------


def enrich_aggregate(pages):
    """The full enrichment plan, forced by one aggregate that also
    carries the byte-identity check (content_txt must equal the
    generator's expected text)."""
    out = enrich_pages(pages, gazetteer=gazetteer())
    return out.agg(
        F.count("*").alias("docs"),
        F.sum(F.length("html")).alias("html_bytes"),
        F.sum(F.length("content_txt")).alias("content_bytes"),
        F.sum(F.size("entities")).alias("entities"),
        F.sum(F.size("email_ss") + F.size("money_ss") + F.size("law_clause_ss")).alias("hits"),
        F.count(F.when(~F.col("content_txt").eqNullSafe(F.col("text")), 1)).alias("mismatches"),
        F.count(F.when(~F.col("extract_ok"), 1)).alias("failed"),
    )


def check_enrich(row, n_docs: int) -> None:
    if row["docs"] != n_docs:
        raise WrongOutput(f"{n_docs} pages in, {row['docs']} enriched rows out")
    if row["mismatches"]:
        raise WrongOutput(f"content_txt != text on {row['mismatches']} of {n_docs} pages")


class Enrich:
    """``enrich_pages(fused=True)`` over generated default-profile pages.

    Its traced pass also hosts the weak-scaling probe and the dedup
    half of the curation tier, which have no workload of their own."""

    #: set-ups per untraced run; setup_s is their median
    SETUPS = 3
    #: timed operations per untraced run, at the least, so that one
    #: slow operation does not move their median
    MIN_OPERATIONS = 3
    #: runs of each plan in the traced pass
    TRACE_REPS = 2

    def __init__(self, spark, n_docs: int, kernel_docs: int) -> None:
        self.spark = spark
        self.n_docs = n_docs
        self.kernel_docs = kernel_docs

    def setup(self, workdir: str, seed: int) -> None:
        self.workdir = workdir
        self.path = os.path.join(workdir, "pages")
        pages_df(self.spark, self.n_docs, seed=seed, partitions=FILES).write.mode(
            "overwrite").parquet(self.path)
        self.seed = seed
        self.docs = self.n_docs
        self.pages = self.spark.read.parquet(self.path)
        self.prepare()
        self.check(self.execute())

    def prepare(self) -> None:
        self.agg = _plan(enrich_aggregate(self.pages))

    def execute(self) -> Outcome:
        row = self.agg.collect()[0]
        return Outcome(docs=self.n_docs, html_bytes=row["html_bytes"], detail=row,
                       failed=row["failed"])

    def check(self, out: Outcome) -> None:
        check_enrich(out.detail, self.n_docs)

    def _run(self, tracer: Tracer, name: str, df):
        _plan(df)
        with tracer.span(name):
            row = df.collect()[0]
        with tracer.span("trace.plan_metrics"):
            nodes = plan_metrics(df)
        return row, nodes

    def trace(self, tracer: Tracer) -> dict[str, float]:
        reps = self.TRACE_REPS
        pages = self.pages
        ident = F.pandas_udf(lambda s: s, T.BinaryType())
        plain, full, scan, passthrough = [], [], [], []
        for _ in range(reps):
            # untraced and traced runs of the full plan alternate, so
            # drift on the box lands on both sides of trace.overhead_frac
            self.prepare()
            t0 = time.perf_counter()
            out = self.execute()
            plain.append(time.perf_counter() - t0)
            self.check(out)
            row, nodes = self._run(tracer, "pipeline.full", enrich_aggregate(pages))
            check_enrich(row, self.n_docs)
            full.append(nodes)
            row, nodes = self._run(
                tracer, "scan", pages.agg(F.sum(F.length("html")).alias("b")))
            scan.append(nodes)
            row, nodes = self._run(
                tracer, "arrow.passthrough",
                pages.select(ident("html").alias("h")).agg(F.sum(F.length("h")).alias("b")))
            if row["b"] != out.html_bytes:
                raise WrongOutput("identity UDF changed the html bytes")
            passthrough.append(nodes)
            # extract-only aggregate: Catalyst prunes the JVM column stages
            fused = enrich_pages(pages, gazetteer=gazetteer()).agg(
                F.count("*").alias("docs"),
                F.sum(F.length("content_txt")).alias("content_bytes"),
                F.count(F.when(~F.col("content_txt").eqNullSafe(F.col("text")), 1)).alias("mismatches"),
            )
            row, _ = self._run(tracer, "fused.stage", fused)
            check_enrich(row, self.n_docs)

        m: dict[str, float] = {}
        full_wall = tracer.median("pipeline.full")
        m["scan.wall_s"] = tracer.median("scan")
        m["scan.mb"] = _median_of(metric_sum(n, "Scan", "filesSize") for n in scan)
        pt_wall = tracer.median("arrow.passthrough")
        m["arrow.passthrough_wall_s"] = pt_wall
        _check_python_time_units(passthrough, pt_wall)
        per_part = pages.groupBy(F.spark_partition_id().alias("p")).count().collect()
        m["arrow.batches"] = float(sum(-(-r["count"] // ARROW_BATCH_ROWS) for r in per_part))
        for key, metric in (
            ("arrow.python_total_s", "pythonTotalTime"),
            ("arrow.python_boot_s", "pythonBootTime"),
            ("arrow.python_init_s", "pythonInitTime"),
            ("arrow.sent_mb", "pythonDataSent"),
            ("arrow.received_mb", "pythonDataReceived"),
        ):
            m[key] = _median_of(metric_sum(n, "ArrowEvalPython", metric) for n in full)
        m["fused.stage_wall_s"] = fused_wall = tracer.median("fused.stage")
        m["pipeline.jvm_stages_s"] = full_wall - fused_wall
        m["pipeline.codegen_s"] = _median_of(
            metric_sum(n, "WholeStageCodegen", "pipelineTime") for n in full)

        sample = [(r["html"], r["url"]) for r in
                  pages.select("html", "url").limit(self.kernel_docs).collect()]
        kernel_split(sample[:20], gazetteer())  # warm regex caches
        k = kernel_split(sample, gazetteer())
        m.update(k)
        # the share of the traced wall that the layer model leaves
        # unexplained: fused-stage wall minus Arrow round trip minus
        # kernel compute spread over the cores
        kernel_wall = k["kernels.total_s"] / k["kernels.sample_docs"] * self.n_docs / CORES
        m["trace.unattributed_frac"] = (fused_wall - pt_wall - kernel_wall) / full_wall
        m["trace.overhead_frac"] = (
            (full_wall + tracer.median("trace.plan_metrics")) / statistics.median(plain) - 1
        )
        m["scaling_eff_1to4"] = self._scaling(statistics.median(plain))
        m.update(curation_tier(self.spark, tracer, os.path.join(self.workdir, "curation"),
                               self.seed, QUERIES[:3]))
        return m

    def _scaling(self, t4: float) -> float:
        """weak scaling t(n/4 docs, 1 core) / t(n docs, 4 cores): ``t4``
        is the untraced wall on all cores; a quarter of the page files
        then runs with the whole process tree (driver, JVM, Python
        workers) pinned to one CPU. Pinning the warm tree, rather than
        starting a pinned JVM, keeps JVM start-up (about 40 s on one
        core) out of the run."""
        files = sorted(p for p in _files(self.path) if p.endswith(".parquet"))
        pages = self.spark.read.parquet(*files[: len(files) // 4])
        n = pages.count()
        cpus = os.sched_getaffinity(0)
        pin_tree(os.getpid(), {min(cpus)})
        try:
            walls = []
            for _ in range(2):  # the first run warms up on the one CPU
                agg = _plan(enrich_aggregate(pages))
                t0 = time.perf_counter()
                row = agg.collect()[0]
                walls.append(time.perf_counter() - t0)
                check_enrich(row, n)
        finally:
            pin_tree(os.getpid(), cpus)
        return walls[-1] * self.n_docs / (4 * n) / t4


def _check_python_time_units(passthrough_nodes, wall_s: float) -> None:
    """Spark's Python timings are sums over tasks, so none can exceed
    the cores times the wall of the plan that ran them (with slack for
    the clock skew between the JVM and the worker). A metric past that
    is not in the unit plan_metrics converted it from."""
    for metric in ("pythonTotalTime", "pythonBootTime", "pythonInitTime"):
        total = _median_of(metric_sum(n, "ArrowEvalPython", metric) for n in passthrough_nodes)
        if total > CORES * wall_s * 1.5:
            raise WrongOutput(
                f"{metric} reads {total:.3f} s for a {wall_s:.3f} s plan on {CORES} cores: "
                "its unit is not the one its metric type declares")


# ---------------------------------------------------------------------------
# recrawl_incremental
# ---------------------------------------------------------------------------


def recrawl_pages(spark, n_rows: int, seed: int, reseeded: frozenset[int], files: int):
    """pages 0..n_rows-1 under ``seed``, except ids in ``reseeded``,
    generated under ``seed + 1``: same url, new html."""

    def gen(batches):
        for pdf in batches:
            rows = [page_record(int(i), seed + 1 if int(i) in reseeded else seed)
                    for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(n_rows, numPartitions=files).mapInPandas(gen, schema=PAGES_SCHEMA)


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _sub, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _written(before: dict, after: dict) -> dict[str, int]:
    """files (and their bytes) that are new or rewritten since ``before``"""
    return {p: v[2] for p, v in after.items() if before.get(p) != v}


def _read_table(path: str, columns: list[str]) -> pd.DataFrame:
    """a bucketed table's rows, read with pyarrow on the driver: an
    oracle that shares no code with the Spark reader it checks"""
    files = sorted(p for p in _files(path) if p.endswith(".parquet"))
    # the files of one table may differ in nullability, so no promotion
    # rules are needed at all: the frames are concatenated instead
    return pd.concat((pq.read_table(p, columns=columns).to_pandas() for p in files),
                     ignore_index=True)


class Recrawl:
    """One ``run_incremental`` of a recrawl batch against base tables.

    Its traced pass also hosts the text-statistics and similarity half
    of the curation tier, which has no workload of its own."""

    #: one set-up per run: it builds the base tables and runs one warm
    #: operation, about 45 s in all. Two timed operations of about 9 s
    #: fill the rest of a run's time budget; the wall of a single one
    #: spread by 0.18 (quartile distance / median) over five seeds
    SETUPS = 1
    MIN_OPERATIONS = 2
    TRACE_REPS = 1

    def __init__(self, spark, n_base: int, n_changed: int, n_new: int) -> None:
        self.spark = spark
        self.n_base = n_base
        self.n_changed = n_changed
        self.n_new = n_new

    def setup(self, workdir: str, seed: int) -> None:
        spark = self.spark
        self.workdir = workdir
        self.seed = seed
        self.pristine = os.path.join(workdir, "pristine")
        self.live = os.path.join(workdir, "live")
        base_path = os.path.join(workdir, "base_pages")
        batch_path = os.path.join(workdir, "batch_pages")
        # each base file holds whole url-hash buckets, so the first run
        # writes one file per bucket, a compacted table as maintenance
        # would leave it, and still enriches on every core
        recrawl_pages(spark, self.n_base, seed, frozenset(), files=CORES).repartition(
            CORES, C.bucket_expr()).write.mode("overwrite").parquet(base_path)
        C.run_incremental(spark, spark.read.parquet(base_path), self.pristine,
                          gazetteer=gazetteer())
        # variant-9 pages (id % 10 == 9) have seed-independent html, so
        # reseeding them would not change them
        rng = random.Random(seed)
        reseeded = rng.sample([i for i in range(self.n_base) if i % 10 != 9], self.n_changed)
        changed = [i for i in reseeded
                   if page_record(i, seed)["html"] != page_record(i, seed + 1)["html"]]
        new = range(self.n_base, self.n_base + self.n_new)
        pending = [page_record(i, seed + 1) for i in changed] + [page_record(i, seed) for i in new]
        self.n_pending = len(pending)
        self.pending_html_bytes = sum(len(p["html"]) for p in pending)
        self.n_batch = self.docs = self.n_base + self.n_new
        # one batch file per core: the stages of an operation run one
        # task per file, and most of those tasks see none of the 8
        # pending rows
        recrawl_pages(spark, self.n_batch, seed, frozenset(changed), files=CORES).write.mode(
            "overwrite").parquet(batch_path)
        self.batch = spark.read.parquet(batch_path)
        # the state every run must leave: each url once, with the hash of
        # its batch html
        self.expected = self.batch.select("url", content_hash().alias("h")).toPandas()
        self.expected["pending"] = self.expected["url"].isin([p["url"] for p in pending])
        # the warm pass: building the base tables never merges into an
        # existing table, and the first such merge runs about a quarter
        # slower than the next
        self.prepare()
        self.check(self.execute())

    def prepare(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        self.before = _files(self.live)

    def execute(self) -> Outcome:
        stats = C.run_incremental(self.spark, self.batch, self.live, gazetteer=gazetteer())
        return Outcome(docs=self.n_batch, html_bytes=self.pending_html_bytes, detail=stats)

    def check(self, out: Outcome) -> None:
        processed = out.detail["processed"]
        if processed != self.n_pending:
            raise WrongOutput(f"processed {processed} rows, expected {self.n_pending} changed+new")
        tables = C.Tables(self.live)
        want = self.expected.set_index("url")
        got = _read_table(tables.enriched,
                          ["url", "content_hash", "extract_ok", "content_txt", "text"])
        txt, want_txt = got["content_txt"], got["text"]
        per_url = got["url"].value_counts()
        problems = {
            "unexpected": (~per_url.index.isin(want.index)).sum(),
            "missing": (~want.index.isin(per_url.index)).sum(),
            "duplicated": (per_url > 1).sum(),
            "stale": (got["content_hash"].to_numpy() != want["h"].reindex(got["url"]).to_numpy()).sum(),
            "mismatches": ((txt != want_txt) & ~(txt.isna() & want_txt.isna())).sum(),
        }
        for key, n in problems.items():
            if n:
                raise WrongOutput(f"enriched table: {n} {key} urls")
        ckpt = _read_table(tables.checkpoint, ["url", "content_hash"]).set_index("url")
        have = ckpt["content_hash"].reindex(want.index)
        uncovered = int(have.isna().sum())
        stale = int((have.notna() & (have != want["h"])).sum())
        if uncovered or stale:
            raise WrongOutput(f"checkpoint: {uncovered} urls uncovered, {stale} stale")
        out.failed = int((~got["extract_ok"] & want["pending"].reindex(got["url"]).to_numpy()).sum())
        written = _written(self.before, _files(self.live))
        out.extra["write_amp"] = sum(written.values()) / self.pending_html_bytes

    def trace(self, tracer: Tracer) -> dict[str, float]:
        """replays run_incremental's steps with a span around each layer
        call: enrich_pages over pending_rows, merge_by_url (enriched),
        batch_metrics, merge_by_url (checkpoint). The replay runs the
        same Spark actions as run_incremental, in another order: the
        count that ends run_incremental here comes first, so the
        enrichment has a span of its own. The checkpoint anti-join is
        timed alone on the restored tables before both the untraced run
        and the replay, so each follows the same warm-up."""
        spark = self.spark
        plain, counts = [], []

        def restore_and_time_pending_rows() -> C.Tables:
            self.prepare()
            tables = C.Tables(self.live)
            with tracer.span("checkpoint.pending_rows"):
                C.pending_rows(spark, self.batch, tables).select("url").write.format(
                    "noop").mode("overwrite").save()
            return tables

        for rep in range(self.TRACE_REPS):
            restore_and_time_pending_rows()
            t0 = time.perf_counter()
            out = self.execute()
            plain.append(time.perf_counter() - t0)
            self.check(out)

            tables = restore_and_time_pending_rows()
            run_id = f"trace{rep}"
            with tracer.span("recrawl"):
                todo = C.pending_rows(spark, self.batch, tables)
                enriched = enrich_pages(todo, gazetteer=gazetteer()).withColumn(
                    "_partition_id", F.spark_partition_id()).withColumn("_run_id", F.lit(run_id))
                batch = enriched.persist()
                with tracer.span("checkpoint.enrich"):
                    n_pending = batch.count()
                with tracer.span("checkpoint.merge_enriched"):
                    C.merge_by_url(spark, batch, tables.enriched)
                with tracer.span("checkpoint.batch_metrics"):
                    C.batch_metrics(batch, run_id, 0).write.mode("append").parquet(tables.metrics)
                ckpt = (
                    batch.select("url", "content_hash")
                    .withColumn("stages_done", F.array(*[F.lit(s) for s in STAGES]))
                    .withColumn("pipeline_version", F.lit(PIPELINE_VERSION))
                )
                with tracer.span("checkpoint.merge_checkpoint"):
                    C.merge_by_url(spark, ckpt, tables.checkpoint)
                batch.unpersist()
            written = _written(self.before, _files(self.live))
            self.check(Outcome(docs=self.n_batch, html_bytes=self.pending_html_bytes,
                               detail={"processed": n_pending}))
            enriched_dir = tables.enriched + os.sep
            counts.append((
                n_pending,
                len({os.path.dirname(p) for p in written if p.startswith(enriched_dir)
                     and p.endswith(".parquet")}),
                sum(written.values()),
                sum(1 for p in written if p.endswith(".parquet")),
            ))
        m: dict[str, float] = {
            "checkpoint.pending_rows_s": tracer.median("checkpoint.pending_rows"),
            "checkpoint.merge_enriched_s": tracer.median("checkpoint.merge_enriched"),
            "checkpoint.merge_checkpoint_s": tracer.median("checkpoint.merge_checkpoint"),
            "checkpoint.batch_metrics_s": tracer.median("checkpoint.batch_metrics"),
        }
        n_pending, buckets, nbytes, nfiles = counts[-1]
        m["checkpoint.pending_rows"] = float(n_pending)
        m["checkpoint.buckets_touched"] = float(buckets)
        m["checkpoint.bytes_written_mb"] = nbytes / 1e6
        m["checkpoint.files_written"] = float(nfiles)
        todo = C.pending_rows(spark, self.batch, C.Tables(self.pristine))
        sample = [(r["html"], r["url"]) for r in todo.select("html", "url").collect()]
        kernel_split(sample, gazetteer())  # warm regex caches
        m.update(kernel_split(sample, gazetteer()))
        m["trace.overhead_frac"] = tracer.median("recrawl") / statistics.median(plain) - 1
        m.update(curation_tier(spark, tracer, os.path.join(self.workdir, "curation"),
                               self.seed, QUERIES[3:]))
        return m


# ---------------------------------------------------------------------------
# the curation tier, measured inside the traced passes: the dedup
# queries in enrich_default's, the others in recrawl_incremental's
# ---------------------------------------------------------------------------

QUERIES = ("minhash_lsh", "dup_clusters", "decontaminate", "text_stats", "ann",
           "neardup_embedding")

# a small shared vocabulary, like the driver tables', so shingles repeat
# across documents and the dedup operators find pairs
_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window hash "
    "join batch stream spark dup group query row data filter customer line value "
    "agg column vector index page crawl text"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")


def write_documents(sf_dir: str, n: int, seed: int) -> None:
    """documents(doc_id, text, lang, source, n_chars): random word
    strings; every tenth document is a near copy of an earlier one.
    At least 12 words each: on shorter texts text_stats and its DuckDB
    twin disagree on dup10gram_char_frac (0.0 against 1.0)."""
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 7:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(12, 90))]
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def write_embeddings(sf_dir: str, n: int, seed: int, dim: int = 64) -> None:
    """embeddings(vec_id, embedding float[64], label): unit vectors around
    ten weak label centres, so near-duplicate pairs are few"""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((10, dim))
    labels = rng.integers(0, 10, n)
    vecs = 0.25 * centres[labels] + rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))


def _sidecar_under(root: str):
    """replacement for plans.queries._tmp_sidecar that keeps the
    build-once index and encoded-corpus dirs inside the work dir"""

    def sidecar(sf_dir: str, fp: str, tag: str) -> str:
        key = hashlib.sha1(f"{sf_dir}|{fp}".encode()).hexdigest()[:16]
        return os.path.join(root, f"{tag}_{key}")

    return sidecar


def _run_query(spark, fn, sf_dir: str) -> int:
    """run one query to completion (every column) and count its rows"""
    obs = Observation()
    fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop").mode("overwrite").save()
    return obs.get["rows"]


#: the goldens directory oracle_sql() reads from, redirected to the
#: goldens regenerated for the benchmark's own inputs
_GOLDEN_DIR = re.compile(r"read_parquet\('[^']*/goldens/")


def _check_against_oracle(spark, entry, sf_dir: str, gold: str,
                          names: tuple[str, ...]) -> dict[str, int]:
    """each named query against its DuckDB oracle_sql() twin, with the
    seeded-kernel goldens regenerated for these inputs; returns the
    row count of each"""
    import duckdb

    from tools import gen_goldens as G
    from tools.check_oracle import _canon

    os.makedirs(gold, exist_ok=True)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    dkey = int(docs["n_chars"].sum())
    ekey = int(emb["label"].sum()) * 1_000_003 + len(emb)
    for name, df, key in (
        ("minhash_lsh", G.minhash_lsh_golden(docs), dkey),
        ("ann_lsh", G.ann_lsh_golden(emb), ekey),
        ("ann_ivf", G.ann_ivf_golden(emb), ekey),
        ("ann_pq", G.ann_pq_golden(emb), ekey),
        ("ann_ivfpq", G.ann_ivfpq_golden(emb), ekey),
        ("semdedup", G.semdedup_golden(emb), ekey),
    ):
        df["_key"] = np.int64(key)
        df.to_parquet(os.path.join(gold, f"{name}.parquet"), index=False)
    rows = {}
    fns = entry.queries()
    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        for name in names:
            got = _canon(fns[name](spark, sf_dir).toPandas())
            want = _canon(con.execute(_GOLDEN_DIR.sub(
                f"read_parquet('{gold}/", sqls[name])).fetchdf())
            if got != want:
                raise WrongOutput(f"{name}: spark {got} != oracle {want}")
            rows[name] = got[0]
    finally:
        con.close()
    return rows


def curation_tier(spark, tracer: Tracer, workdir: str, seed: int,
                  names: tuple[str, ...]) -> dict[str, float]:
    """``queries.<name>_s`` for the named curation-tier queries of
    ``__spark_entry__.queries()`` over generated documents/embeddings.

    The first pass is checked against the DuckDB oracle and trains the
    per-content quantizers and builds the LSH index, which the one timed
    pass reuses (a second would not fit the traced run's time limit);
    it must return the checked row counts."""
    import __spark_entry__ as entry
    from open_semantic_etl_spark.plans import queries as Q

    sf_dir = os.path.join(workdir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    write_documents(sf_dir, CURATION_DOCS, seed)
    write_embeddings(sf_dir, CURATION_VECS, seed)
    Q._tmp_sidecar = _sidecar_under(os.path.join(workdir, "sidecars"))
    rows = _check_against_oracle(spark, entry, sf_dir, os.path.join(workdir, "goldens"), names)
    fns = entry.queries()
    for name in names:
        with tracer.span(f"queries.{name}"):
            got = _run_query(spark, fns[name], sf_dir)
        if got != rows[name]:
            raise WrongOutput(f"{name}: {got} rows, the oracle-checked pass had {rows[name]}")
    return {f"queries.{n}_s": tracer.median(f"queries.{n}") for n in names}
