"""Checkpoint/resume correctness (FIXTURES.md §4 two-run + kill-rerun).

Proves the filter_file_not_modified semantics (only new/changed rows
reprocess) and the acks_late replay analogue (crash between output
MERGE and checkpoint commit → rerun converges idempotently).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import Tables, run_incremental
from open_semantic_etl_spark.schema import PAGES_SCHEMA
from open_semantic_etl_spark.sources.pages import page_record

N1 = 200  # initial corpus
N_MOD = 20  # rows 180..199 get modified html in run 2 (same url, new seed)
N_NEW = 20  # rows 200..219 are new urls in run 2


def _pages(spark, n, reseed_from=None, reseed_to=None, alt_seed=7):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                seed = alt_seed if (reseed_from is not None and reseed_from <= i < reseed_to) else 42
                rows.append(page_record(i, seed))
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(n, numPartitions=4).mapInPandas(gen, schema=PAGES_SCHEMA)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "dataset")


def test_incremental_and_replay(spark, root):
    pages1 = _pages(spark, N1)

    # run 1: everything processes
    s1 = run_incremental(spark, pages1, root)
    assert s1["processed"] == N1
    t = Tables(root)
    enriched = spark.read.parquet(t.enriched)
    assert enriched.count() == N1
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0

    # run 1b: same input → nothing to do
    s1b = run_incremental(spark, pages1, root)
    assert s1b["processed"] == 0
    assert spark.read.parquet(t.enriched).count() == N1

    # run 2: 10% modified html (same urls), 10% new urls. Variant 9
    # (i % 10 == 9) has seed-independent constant html — its hash does
    # not change, so the checkpoint must SKIP those reseeded rows.
    n_actually_modified = sum(
        1 for i in range(N1 - N_MOD, N1) if page_record(i, 42)["html"] != page_record(i, 7)["html"]
    )
    assert n_actually_modified == N_MOD - 2
    pages2 = _pages(spark, N1 + N_NEW, reseed_from=N1 - N_MOD, reseed_to=N1)
    s2 = run_incremental(spark, pages2, root)
    assert s2["processed"] == n_actually_modified + N_NEW
    enriched2 = spark.read.parquet(t.enriched)
    assert enriched2.count() == N1 + N_NEW
    # modified rows carry the NEW content (url-keyed merge: new wins)
    assert enriched2.filter(F.col("content_txt") != F.col("text")).count() == 0

    # metrics lineage: per-partition docs sum to processed counts
    metrics = spark.read.parquet(t.metrics)
    per_run = {
        r["run_id"]: r["docs"]
        for r in metrics.groupBy("run_id").agg(F.sum("docs").alias("docs")).collect()
    }
    assert per_run[s1["run_id"]] == N1
    assert per_run[s2["run_id"]] == n_actually_modified + N_NEW
    assert metrics.select("partition_id").distinct().count() >= 1


def crash_before_checkpoint(monkeypatch, root: str) -> None:
    """make run_incremental's checkpoint MERGE raise: a crash after the
    output commit and before the checkpoint commit"""
    from open_semantic_etl_spark.plans import checkpoint as C

    merge = C.merge_by_url

    def merge_or_crash(spark_, new, path, *args, **kwargs):
        if path == Tables(root).checkpoint:
            raise RuntimeError("simulated crash between merge and checkpoint commit")
        return merge(spark_, new, path, *args, **kwargs)

    monkeypatch.setattr(C, "merge_by_url", merge_or_crash)


def test_kill_and_rerun_converges(spark, root, monkeypatch):
    pages = _pages(spark, 100)
    run_incremental(spark, pages, root)

    # modify 20 rows, then crash between MERGE and checkpoint commit
    pages_mod = _pages(spark, 100, reseed_from=80, reseed_to=100)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_before_checkpoint(m, root)
        run_incremental(spark, pages_mod, root)

    # rerun after the crash: the changed rows REPLAY (checkpoint never
    # committed), and the url-keyed merge keeps the table consistent
    n_changed = sum(
        1 for i in range(80, 100) if page_record(i, 42)["html"] != page_record(i, 7)["html"]
    )
    s = run_incremental(spark, pages_mod, root)
    assert s["processed"] == n_changed

    t = Tables(root)
    enriched = spark.read.parquet(t.enriched)
    assert enriched.count() == 100
    assert enriched.select("url").distinct().count() == 100  # no dup urls
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0

    # a further run is a no-op
    assert run_incremental(spark, pages_mod, root)["processed"] == 0


def test_noop_run_commits_nothing(spark, root):
    """A rerun with nothing pending stops after counting its empty batch:
    no file under the root is written (no table commit, no empty
    metrics file) and it runs at most 6 Spark jobs (the pending-row
    probe plus that count; the three commits ran 15)."""
    import os

    def tree_state() -> dict[str, tuple[int, int]]:
        state = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                state[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
        return state

    pages = _pages(spark, 60)
    run_incremental(spark, pages, root)
    before = tree_state()
    sc = spark.sparkContext
    sc.setJobGroup("noop_rerun", "run_incremental with nothing pending")
    try:
        assert run_incremental(spark, pages, root)["processed"] == 0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("noop_rerun"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tree_state() == before
    assert n_jobs <= 6, n_jobs


def _bucket_file_state(path: str) -> dict[str, tuple[int, float, str]]:
    """bucket-dir file inventory: name -> (size, mtime, md5)."""
    import hashlib
    import os

    state = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(dirpath, f)
            st = os.stat(fp)
            with open(fp, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            state[os.path.relpath(fp, path)] = (st.st_size, st.st_mtime_ns, digest)
    return state


def test_merge_rewrites_only_touched_buckets(spark, root):
    """Incremental write volume ∝ batch: after a small second run, every
    bucket file the batch did NOT touch must be byte-identical on disk
    (same file, same bytes — not rewritten), and only the batch's url-
    hash buckets may change (VERDICT r01 item 1 done-criterion)."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    run_incremental(spark, _pages(spark, N1), root)
    t = Tables(root)
    before = _bucket_file_state(t.enriched)
    assert any("_bucket=" in k for k in before), "enriched table is not bucketed"
    records = [os.path.join(p, "_common_metadata") for p in (t.enriched, t.checkpoint)]
    stamps = [os.stat(r).st_mtime_ns for r in records]

    # small delta: 5 modified + 5 new urls
    pages2 = _pages(spark, N1 + 5, reseed_from=N1 - 5, reseed_to=N1, alt_seed=3)
    s = run_incremental(spark, pages2, root)
    assert 0 < s["processed"] <= 10

    # buckets the batch legitimately touched
    batch_urls = [page_record(i, 3 if i >= N1 - 5 else 42)["url"] for i in range(N1 - 5, N1 + 5)]
    touched = {
        r[0]
        for r in spark.createDataFrame([(u,) for u in batch_urls], "url string")
        .select(bucket_expr().alias("b")).distinct().collect()
    }

    after = _bucket_file_state(t.enriched)
    changed_buckets = set()
    for name in set(before) | set(after):
        if before.get(name) != after.get(name):
            changed_buckets.add(name.split("/")[0])
    assert changed_buckets, "second run should have rewritten its buckets"
    assert changed_buckets <= {f"_bucket={b}" for b in touched}, (
        f"untouched buckets rewritten: {changed_buckets - {f'_bucket={b}' for b in touched}}"
    )
    # untouched bucket files byte-identical (same inode content AND mtime)
    untouched_before = {k: v for k, v in before.items() if k.split("/")[0] not in changed_buckets}
    for name, sig in untouched_before.items():
        assert after.get(name) == sig, f"untouched file {name} changed"
    # an unchanged layout is never rewritten
    assert [os.stat(r).st_mtime_ns for r in records] == stamps

    # correctness preserved across the pruned merge
    enriched = spark.read.parquet(t.enriched)
    assert enriched.count() == N1 + 5
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0


def test_merge_custom_n_buckets(spark, root):
    """n_buckets is a per-table parameter (VERDICT r3 item 5): a table
    created and merged with n_buckets=8 lays out exactly buckets 0..7,
    stays bucket-pruned on the second merge, and keeps merge
    correctness (new row wins, no dup urls)."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    run_incremental(spark, _pages(spark, 100), root, n_buckets=8)
    t = Tables(root)
    dirs = {d for d in os.listdir(t.enriched) if d.startswith("_bucket=")}
    assert dirs <= {f"_bucket={b}" for b in range(8)} and len(dirs) > 1
    before = _bucket_file_state(t.enriched)

    pages2 = _pages(spark, 103, reseed_from=97, reseed_to=100, alt_seed=3)
    s = run_incremental(spark, pages2, root, n_buckets=8)
    assert 0 < s["processed"] <= 6
    batch_urls = [
        page_record(i, 3 if i < 100 else 42)["url"] for i in range(97, 103)
    ]
    touched = {
        r[0]
        for r in spark.createDataFrame([(u,) for u in batch_urls], "url string")
        .select(bucket_expr(n_buckets=8).alias("b")).distinct().collect()
    }
    after = _bucket_file_state(t.enriched)
    changed = {
        name.split("/")[0]
        for name in set(before) | set(after)
        if before.get(name) != after.get(name)
    }
    assert changed and changed <= {f"_bucket={b}" for b in touched}
    enriched = spark.read.parquet(t.enriched)
    assert enriched.count() == 103
    assert enriched.select("url").distinct().count() == 103
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0


def _shout_only(urls):
    """a backfill stage that returns a new column for ``urls`` only"""
    def stage(_spark, rows):
        return rows.filter(F.col("url").isin(urls)).select(
            "url", F.upper(F.col("title_txt")).alias("title_shout")
        )
    return stage


def test_backfill_rewrites_only_touched_buckets(spark, root):
    """a backfill whose stage returns a few urls rewrites only those
    urls' bucket dirs, in the enriched table AND the checkpoint; every
    other bucket file stays byte-identical."""
    from open_semantic_etl_spark.plans.backfill import run_backfill
    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    run_incremental(spark, _pages(spark, N1), root)
    t = Tables(root)
    picked = [page_record(i, 42)["url"] for i in (3, 50, 120)]
    touched = {
        f"_bucket={r[0]}"
        for r in spark.createDataFrame([(u,) for u in picked], "url string")
        .select(bucket_expr()).distinct().collect()
    }
    before = {p: _bucket_file_state(p) for p in (t.enriched, t.checkpoint)}

    assert run_backfill(spark, root, "shout", _shout_only(picked), fields=("title_txt",)) == 3
    for path, state in before.items():
        after = _bucket_file_state(path)
        changed = {n.split("/")[0] for n in set(state) | set(after) if state.get(n) != after.get(n)}
        assert changed == touched, path
    # the picked rows carry the new column
    enriched = spark.read.parquet(t.enriched)
    shouted = enriched.filter(F.col("title_shout").isNotNull())
    assert sorted(r.url for r in shouted.collect()) == sorted(picked)
    marked = spark.read.parquet(t.checkpoint).filter(
        F.array_contains("stages_done", "shout")
    )
    assert sorted(r.url for r in marked.collect()) == sorted(picked)


def test_backfilled_column_survives_every_rewrite(spark, root):
    """a column a backfill wrote into only some bucket dirs is in the
    table's layout record: a plain read shows it, and its values
    survive a rewrite of every bucket, a recrawl merge into one of its
    buckets and a whole-row merge of a batch narrower than the table."""
    from open_semantic_etl_spark.plans.backfill import run_backfill
    from open_semantic_etl_spark.plans.checkpoint import bucket_expr, merge_by_url
    from open_semantic_etl_spark.plans.maintenance import delete_where

    run_incremental(spark, _pages(spark, 100), root)
    t = Tables(root)
    buckets = dict(
        spark.createDataFrame([(i, page_record(i, 42)["url"]) for i in range(100)],
                              "i int, url string")
        .select("i", bucket_expr()).collect()
    )
    # a picked url whose bucket also holds a changeable url (i % 10 != 9)
    picked, neighbour = next(
        (i, j) for i in range(100) for j in range(100)
        if i != j and j % 10 != 9 and buckets[i] == buckets[j]
    )
    others = [i for i in range(100) if buckets[i] != buckets[picked]][:2]
    urls = [page_record(i, 42)["url"] for i in (picked, *others)]
    assert run_backfill(spark, root, "shout", _shout_only(urls), fields=("title_txt",)) == 3

    def shouted():
        enriched = spark.read.parquet(t.enriched)
        assert "title_shout" in enriched.columns
        return {r.url: r.title_shout
                for r in enriched.filter(F.col("title_shout").isNotNull()).collect()}

    want = shouted()
    assert sorted(want) == sorted(urls)
    assert delete_where(spark, root, F.lit(False)) == 0  # rewrites every bucket
    assert shouted() == want
    recrawl = _pages(spark, 100, reseed_from=neighbour, reseed_to=neighbour + 1)
    assert run_incremental(spark, recrawl, root)["processed"] == 1
    assert shouted() == want
    narrow = spark.createDataFrame(
        [(page_record(neighbour, 42)["url"], "narrow")], "url string, title_txt string"
    )
    merge_by_url(spark, narrow, t.enriched)
    assert shouted() == want


def _assert_record_covers_files(path: str) -> None:
    """the layout record names every column any part file holds"""
    import glob

    import pyarrow.parquet as pq

    recorded = set(pq.read_schema(f"{path}/_common_metadata").names)
    for part in glob.glob(f"{path}/*/*.parquet"):
        assert set(pq.read_schema(part).names) <= recorded, part


def test_layout_record_covers_files_through_swap_crash(spark, tmp_path, monkeypatch):
    """the commit that adds a column records it BEFORE its bucket swap:
    a backfill that crashes in the swap leaves a table whose plain read
    still shows every column, and whose rerun converges to the table a
    clean run leaves."""
    from open_semantic_etl_spark.plans import checkpoint as C
    from open_semantic_etl_spark.plans.backfill import run_backfill

    urls = [page_record(i, 42)["url"] for i in (3, 17, 29)]
    roots = {name: str(tmp_path / name) for name in ("clean", "crashed")}
    for r in roots.values():
        run_incremental(spark, _pages(spark, 40), r, run_id="base")
    tables = {name: Tables(r) for name, r in roots.items()}

    def check_cover(name: str) -> None:
        for path in (tables[name].enriched, tables[name].checkpoint):
            _assert_record_covers_files(path)

    check_cover("crashed")
    assert run_backfill(spark, roots["clean"], "shout", _shout_only(urls), ("title_txt",)) == 3
    check_cover("clean")

    def crash(*_args):
        raise RuntimeError("simulated crash in the bucket swap")

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        m.setattr(C, "_swap_buckets", crash)
        run_backfill(spark, roots["crashed"], "shout", _shout_only(urls), ("title_txt",))
    check_cover("crashed")
    assert "title_shout" in spark.read.parquet(tables["crashed"].enriched).columns

    assert run_backfill(spark, roots["crashed"], "shout", _shout_only(urls), ("title_txt",)) == 3
    check_cover("crashed")
    for table in ("enriched", "checkpoint"):
        got, want = (
            spark.read.parquet(getattr(tables[name], table)).orderBy("url").collect()
            for name in ("crashed", "clean")
        )
        assert got == want, table


def test_table_without_layout_record_is_refused_at_merge(spark, root):
    """a table that holds data but records no layout (written before
    layout records) raises at the next merge, naming the rebuild, and
    the merge changes nothing on disk."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    path = os.path.join(root, "t")
    rows = spark.createDataFrame([(f"u{i}", i) for i in range(20)], "url string, v long")
    merge_by_url(spark, rows, path, n_buckets=4)
    os.remove(os.path.join(path, "_common_metadata"))  # the layout of an older build
    before = _bucket_file_state(path)

    batch = spark.createDataFrame([("new", 99)], "url string, v long")
    with pytest.raises(ValueError, match="records no layout.*rebuild"):
        merge_by_url(spark, batch, path, n_buckets=4)
    assert _bucket_file_state(path) == before
    assert not os.path.exists(os.path.join(path, "_common_metadata"))
    assert sorted(os.listdir(root)) == ["t"]


def test_swap_crash_rolls_forward(spark, root):
    """a crash mid-swap_buckets (bucket dir renamed away, staged new
    copy parked in __swap) must be recoverable: the next merge rolls the
    staged data forward and no rows are lost (ADVICE r2: the old layout
    orphaned the bucket's untouched rows)."""
    import os
    import shutil

    from open_semantic_etl_spark.plans.checkpoint import (
        merge_by_url,
        recover_table,
    )

    path = os.path.join(root, "enriched")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(50)], "url string, val string"
    )
    merge_by_url(spark, df, path)

    # simulate the crash window: one bucket's live dir has been moved to
    # the swap area as old__*, its post-merge replacement staged as new__*
    buckets = [d for d in os.listdir(path) if d.startswith("_bucket=")]
    victim = buckets[0]
    b = victim.split("=")[1]
    sw = f"{path}__swap"
    os.makedirs(sw, exist_ok=True)
    shutil.copytree(os.path.join(path, victim), os.path.join(sw, f"new__{b}__deadbeef"))
    os.rename(os.path.join(path, victim), os.path.join(sw, f"old__{b}__deadbeef"))
    assert not os.path.isdir(os.path.join(path, victim))

    recover_table(path)
    assert os.path.isdir(os.path.join(path, victim))
    assert not os.path.isdir(sw)
    recovered = spark.read.parquet(path)
    assert recovered.count() == 50
    assert recovered.select("url").distinct().count() == 50


def test_staged_append_crash_rolls_forward(spark, root, monkeypatch):
    """an append that crashes after some of its part files moved into the
    live bucket dirs, but before its manifest is published, is rolled
    forward by the next recover_appends: every row lands exactly once,
    the manifest is published, and no file the append did not add
    changes — an append only adds files."""
    import os

    from open_semantic_etl_spark.plans import checkpoint as C

    path = os.path.join(root, "t")
    rows = spark.createDataFrame([(f"u{i}", i) for i in range(40)], "url string, v long")
    C.create_table(
        rows.withColumn("_bucket", C.bucket_expr(n_buckets=8)), path, "_bucket", {"n_buckets": 8}
    )
    before = _bucket_file_state(path)
    batch = spark.createDataFrame(
        [(f"n{i}", 100 + i) for i in range(6)], "url string, v long"
    ).withColumn("_bucket", C.bucket_expr(n_buckets=8))
    touched = {f"_bucket={b}" for b in C.buckets_of(batch)}

    real_move, moved = C._move, []

    def crash_after_first_move(src, dst):
        if moved:
            raise RuntimeError("simulated crash mid-commit")
        real_move(src, dst)
        moved.append(dst)

    staging = os.path.join(root, "__batch_b1")
    manifest = os.path.join(C.batch_manifests(root), "b1")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        m.setattr(C, "_move", crash_after_first_move)
        C.append_batch(root, "b1", [("t", batch, "_bucket")], {"n_buckets": 8}, batch.select("url"))
    # the crash window: one part file live, others still staged, no manifest
    assert len(moved) == 1 and moved[0].endswith(".parquet")
    assert any(f.endswith(".parquet") for _d, _s, fs in os.walk(staging) for f in fs)
    assert not os.path.isdir(manifest)

    C.recover_appends(root)
    assert not os.path.isdir(staging)
    assert sorted(r.url for r in spark.read.parquet(manifest).collect()) == [f"n{i}" for i in range(6)]
    table = spark.read.parquet(path)
    assert table.count() == 46
    assert table.select("url").distinct().count() == 46
    assert {r.v for r in table.filter(F.col("url").startswith("n")).collect()} == set(range(100, 106))
    after = _bucket_file_state(path)
    assert {k: after[k] for k in before} == before  # no file rewritten
    assert {k.split("/")[0] for k in set(after) - set(before)} <= touched
    C.recover_appends(root)  # idempotent: nothing left to roll forward
    assert _bucket_file_state(path) == after


def crash_mid_swap(path: str, part_col: str = "_bucket") -> None:
    """leave ``path`` as a bucket swap that crashed with every bucket
    dir parked: each live dir moved to ``<path>__swap/old__<b>__<token>``
    beside its rewrite (here a copy) staged as ``new__<b>__<token>``, so
    the table dir holds no data file until recover_table rolls the swap
    forward."""
    import os
    import shutil

    sw = f"{path}__swap"
    os.makedirs(sw, exist_ok=True)
    for d in sorted(os.listdir(path)):
        if d.startswith(f"{part_col}="):
            b = d.split("=", 1)[1]
            shutil.copytree(os.path.join(path, d), os.path.join(sw, f"new__{b}__deadbeef"))
            os.rename(os.path.join(path, d), os.path.join(sw, f"old__{b}__deadbeef"))


def test_crashed_table_swap_is_restored_before_merge(spark, root):
    """a merge that crashed mid-swap with every bucket dir parked in
    ``<table>__swap`` leaves a table dir with no data file; the next
    merge must roll the swap forward before its existence check instead
    of replacing the table with the batch."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import has_data, merge_by_url

    path = os.path.join(root, "enriched")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(50)], "url string, val string"
    )
    merge_by_url(spark, df, path, n_buckets=4)
    crash_mid_swap(path)  # the crash window
    assert not has_data(path)
    batch = spark.createDataFrame([("u50", "v50")], "url string, val string")
    merge_by_url(spark, batch, path)
    merged = spark.read.parquet(path)
    assert merged.count() == 51
    assert merged.select("url").distinct().count() == 51
    assert sorted(os.listdir(root)) == ["enriched"]


def test_remote_root_is_refused(spark, tmp_path, monkeypatch):
    """the commit protocol runs on driver-local os/shutil calls: an
    hdfs:// table path would read as absent, and merge_by_url would
    replace the table with the batch — both entry points must raise
    before touching anything."""
    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    monkeypatch.chdir(tmp_path)  # keep any relative-path fallout here
    root = "hdfs://localhost:9/etl"
    batch = spark.createDataFrame([("u1", "v1")], "url string, val string")
    with pytest.raises(NotImplementedError, match="driver-local"):
        merge_by_url(spark, batch, f"{root}/enriched")
    with pytest.raises(NotImplementedError, match="driver-local"):
        run_incremental(spark, _pages(spark, 5), root)
    assert not list(tmp_path.iterdir())


def test_merge_plan_prunes_partitions(spark, root):
    """the merge's read of the existing table must carry a PartitionFilters
    clause on _bucket — i.e. partition pruning, not a full scan."""
    run_incremental(spark, _pages(spark, 50), root)
    t = Tables(root)
    old = spark.read.parquet(t.enriched).filter(F.col("_bucket").isin([1, 2, 3]))
    plan = old._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_bucket" in plan.replace("#", " #").replace("  ", " ") or (
        "PartitionFilters" in plan and "_bucket" in plan
    ), plan[:2000]
