"""Checkpoint/resume correctness (FIXTURES.md §4 two-run + kill-rerun).

Proves the filter_file_not_modified semantics (only new/changed rows
reprocess) and the acks_late replay analogue: a run is one commit of
its root's log, so a crash at any point of it leaves readers the old
or the new snapshot, and the rerun converges idempotently.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import Tables, read_table, run_incremental
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
    enriched = read_table(spark, t.enriched)
    assert enriched.count() == N1
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0

    # run 1b: same input → nothing to do
    s1b = run_incremental(spark, pages1, root)
    assert s1b["processed"] == 0
    assert read_table(spark, t.enriched).count() == N1

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
    enriched2 = read_table(spark, t.enriched)
    assert enriched2.count() == N1 + N_NEW
    # modified rows carry the NEW content (url-keyed merge: new wins)
    assert enriched2.filter(F.col("content_txt") != F.col("text")).count() == 0

    # metrics lineage: per-partition docs sum to processed counts
    metrics = read_table(spark, t.metrics)
    per_run = {
        r["run_id"]: r["docs"]
        for r in metrics.groupBy("run_id").agg(F.sum("docs").alias("docs")).collect()
    }
    assert per_run[s1["run_id"]] == N1
    assert per_run[s2["run_id"]] == n_actually_modified + N_NEW
    assert metrics.select("partition_id").distinct().count() >= 1


#: where a commit can die: before its data write, after its data files
#: land but before its log entry, after the entry but before it deletes
#: the files it replaced
CRASH_POINTS = ("_write_files", "_create_entry", "_reap")


def crash_at(monkeypatch, point: str) -> None:
    """make every commit raise at ``point`` (one of ``CRASH_POINTS``)"""
    from open_semantic_etl_spark.plans import checkpoint as C

    def crash(*_args, **_kwargs):
        raise RuntimeError(f"simulated crash at {point}")

    monkeypatch.setattr(C, point, crash)


def test_kill_and_rerun_converges(spark, root, monkeypatch):
    pages = _pages(spark, 100)
    run_incremental(spark, pages, root)

    # modify 20 rows, then crash after the run's data files land and
    # before its log entry
    pages_mod = _pages(spark, 100, reseed_from=80, reseed_to=100)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_at(m, "_create_entry")
        run_incremental(spark, pages_mod, root)

    # rerun after the crash: the changed rows REPLAY (nothing committed),
    # and the url-keyed merge keeps the table consistent
    n_changed = sum(
        1 for i in range(80, 100) if page_record(i, 42)["html"] != page_record(i, 7)["html"]
    )
    s = run_incremental(spark, pages_mod, root)
    assert s["processed"] == n_changed

    t = Tables(root)
    enriched = read_table(spark, t.enriched)
    assert enriched.count() == 100
    assert enriched.select("url").distinct().count() == 100  # no dup urls
    assert enriched.filter(F.col("content_txt") != F.col("text")).count() == 0

    # a further run is a no-op
    assert run_incremental(spark, pages_mod, root)["processed"] == 0


def test_replayed_run_appends_its_metrics_once(spark, root, monkeypatch):
    """a run that crashed after its data files landed and before its log
    entry is rerun under its run id: the metrics table then holds that
    run's per-partition rows once (the metrics append and both MERGEs
    are one commit, so the crashed attempt left none)."""
    run_incremental(spark, _pages(spark, 40), root, run_id="base")
    pages = _pages(spark, 50, reseed_from=30, reseed_to=40)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
        crash_at(m, "_create_entry")
        run_incremental(spark, pages, root, run_id="r1")
    s = run_incremental(spark, pages, root, run_id="r1")
    rows = read_table(spark, Tables(root).metrics).filter(F.col("run_id") == "r1").collect()
    parts = [r.partition_id for r in rows]
    assert sorted(parts) == sorted(set(parts))
    assert sum(r.docs for r in rows) == s["processed"] > 0


def _ts(seconds: int):
    import datetime

    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=seconds)


def test_batch_with_repeated_urls_commits_one_row_per_url(spark, root):
    """a batch holding a url more than once (a page landed twice, a
    recrawl within one trigger) writes one enriched row, one checkpoint
    row and one metrics doc per url: the latest ``warc_ts`` wins, and
    on a ``warc_ts`` tie the larger content hash."""
    from open_semantic_etl_spark.plans.pipeline import content_hash

    pages = _pages(spark, 40)
    s = run_incremental(spark, pages.unionByName(pages), root)
    assert s["processed"] == 40
    t = Tables(root)
    for path in (t.enriched, t.checkpoint):
        df = read_table(spark, path)
        assert df.count() == df.select("url").distinct().count() == 40, path
    docs = read_table(spark, t.metrics).agg(F.sum("docs")).first()[0]
    assert docs == 40

    # the winner: latest warc_ts; on a tie, the larger content hash
    base = page_record(0, 42)
    html = [page_record(i, 42)["html"] for i in (1, 2, 3)]
    rows = [
        (base["url"], _ts(10), html[0], "old"),
        (base["url"], _ts(20), html[1], "tie_a"),
        (base["url"], _ts(20), html[2], "tie_b"),
    ]
    batch = spark.createDataFrame(
        [(u, ts, h, txt, "en") for u, ts, h, txt in rows], PAGES_SCHEMA
    )
    hashes = {r.text: r.h for r in batch.select("text", content_hash().alias("h")).collect()}
    want = max(("tie_a", "tie_b"), key=hashes.get)
    other = str(root) + "_winner"
    for order in (batch, batch.orderBy(F.col("text").desc())):
        s = run_incremental(spark, order.repartition(3), other)
        got = read_table(spark, Tables(other).enriched).collect()
        assert [r.text for r in got] == [want]
        assert s["processed"] in (0, 1)


def test_noop_run_commits_nothing(spark, root):
    """A rerun with nothing pending stops after counting its empty batch:
    no file under the root is written (no log entry, no table commit,
    no empty metrics file) and it runs at most 6 Spark jobs (the
    pending-row probe plus that count; the commit ran 15)."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import snapshot

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
    version = snapshot(root).version
    assert version == 1
    sc = spark.sparkContext
    sc.setJobGroup("noop_rerun", "run_incremental with nothing pending")
    try:
        assert run_incremental(spark, pages, root)["processed"] == 0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("noop_rerun"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tree_state() == before
    assert snapshot(root).version == version
    assert n_jobs <= 6, n_jobs


def _last_entry(root: str) -> dict:
    """the newest entry of ``root``'s log"""
    import json
    import os

    log = os.path.join(root, "_log")
    with open(os.path.join(log, max(n for n in os.listdir(log) if n.endswith(".json")))) as fh:
        return json.load(fh)


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
    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    run_incremental(spark, _pages(spark, N1), root)
    t = Tables(root)
    before = _bucket_file_state(t.enriched)
    assert any("_bucket=" in k for k in before), "enriched table is not bucketed"

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
    # an unchanged layout is never re-recorded: the run's entry carries none
    assert not any("layout" in change for change in _last_entry(root)["tables"].values())

    # correctness preserved across the pruned merge
    enriched = read_table(spark, t.enriched)
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
    enriched = read_table(spark, t.enriched)
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
    enriched = read_table(spark, t.enriched)
    shouted = enriched.filter(F.col("title_shout").isNotNull())
    assert sorted(r.url for r in shouted.collect()) == sorted(picked)
    marked = read_table(spark, t.checkpoint).filter(
        F.array_contains("stages_done", "shout")
    )
    assert sorted(r.url for r in marked.collect()) == sorted(picked)


def test_backfilled_column_survives_every_rewrite(spark, root):
    """a column a backfill wrote into only some bucket dirs is in the
    table's logged layout: a read shows it, and its values
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
        enriched = read_table(spark, t.enriched)
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


def _assert_layout_covers_files(path: str) -> None:
    """the logged layout names every column any live file holds"""
    import os

    import pyarrow.parquet as pq

    from open_semantic_etl_spark.plans.checkpoint import snapshot

    root, name = os.path.split(path)
    table = snapshot(root).tables[name]
    recorded = {f["name"] for f in table["layout"]["schema"]["fields"]}
    assert table["files"]
    for part in table["files"]:
        assert set(pq.read_schema(os.path.join(path, part)).names) <= recorded, part


def _root_state(spark, root: str) -> dict:
    """every live row of every table under ``root`` (less the run's
    wall-clock metric), read through the log"""
    from open_semantic_etl_spark.plans.checkpoint import snapshot

    state = {}
    for name in snapshot(root).tables:
        df = read_table(spark, f"{root}/{name}").drop("elapsed_ms")
        state[name] = sorted(
            (tuple(sorted(r.asDict(recursive=True).items())) for r in df.collect()), key=repr
        )
    return state


def assert_dirs_hold_live_files(root: str) -> None:
    """each table dir under ``root`` holds exactly the data files its
    log names, so a reader that walks the dirs instead of the log (the
    benchmark's pyarrow check) sees the live rows"""
    import os

    from open_semantic_etl_spark.plans.checkpoint import LOG, snapshot

    tables = snapshot(root).tables
    for name in set(os.listdir(root)) - {LOG}:
        path = os.path.join(root, name)
        on_disk = {
            os.path.relpath(os.path.join(d, f), path)
            for d, _s, files in os.walk(path) for f in files if f.endswith(".parquet")
        }
        assert on_disk == set(tables[name]["files"] if name in tables else ()), name


def assert_crash_matrix(spark, monkeypatch, base: str, scratch, op, changes=True) -> None:
    """run ``op(root)`` on copies of the root ``base``: once clean, and
    once per crash point.  The clean run leaves each table dir holding
    exactly its live files.  After each crash a reader sees the old
    snapshot, or the new one once the entry exists; the rerun converges
    to the clean result.  ``changes``: whether ``op`` changes any row
    (a compaction only moves them)."""
    import shutil

    roots = {name: str(scratch / name) for name in ("clean", *CRASH_POINTS)}
    for r in roots.values():
        shutil.copytree(base, r)
    old = _root_state(spark, base)
    op(roots["clean"])
    assert_dirs_hold_live_files(roots["clean"])
    new = _root_state(spark, roots["clean"])
    assert (new != old) == changes
    for point in CRASH_POINTS:
        with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated crash"):
            crash_at(m, point)
            op(roots[point])
        assert _root_state(spark, roots[point]) == (new if point == "_reap" else old), point
        op(roots[point])
        assert _root_state(spark, roots[point]) == new, point


@pytest.fixture(scope="module")
def base_root(spark, tmp_path_factory):
    """a root one run of 40 pages left, run id ``base``"""
    root = str(tmp_path_factory.mktemp("base") / "root")
    run_incremental(spark, _pages(spark, 40), root, run_id="base")
    return root


def test_layout_record_covers_files_through_swap_crash(spark, base_root, tmp_path, monkeypatch):
    """the column a backfill adds is recorded in the same log entry as
    the files that hold it (the commit that replaced the bucket swap):
    at every crash point the logged layout covers every live file, a
    read shows the column once the entry exists, and the rerun
    converges to the table a clean run leaves."""
    from open_semantic_etl_spark.plans.backfill import run_backfill

    urls = [page_record(i, 42)["url"] for i in (3, 17, 29)]

    def backfill(root: str) -> None:
        run_backfill(spark, root, "shout", _shout_only(urls), ("title_txt",))
        t = Tables(root)
        for path in (t.enriched, t.checkpoint):
            _assert_layout_covers_files(path)
        assert "title_shout" in read_table(spark, t.enriched).columns

    assert_crash_matrix(spark, monkeypatch, base_root, tmp_path, backfill)
    for point in CRASH_POINTS:
        for table in ("enriched", "checkpoint"):
            _assert_layout_covers_files(str(tmp_path / point / table))


def test_crash_matrix_merge(spark, base_root, tmp_path, monkeypatch):
    """merge_by_url of a batch with a changed and a new url"""
    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    batch = spark.createDataFrame(
        [(page_record(3, 42)["url"], "changed"), ("new://1", "new")],
        "url string, title_txt string",
    )
    assert_crash_matrix(spark, monkeypatch, base_root, tmp_path,
                        lambda root: merge_by_url(spark, batch, f"{root}/enriched"))


def test_crash_matrix_run_incremental(spark, base_root, tmp_path, monkeypatch):
    """a run with 10 reseeded and 5 new pages"""
    pages = _pages(spark, 45, reseed_from=30, reseed_to=40)
    assert_crash_matrix(spark, monkeypatch, base_root, tmp_path,
                        lambda root: run_incremental(spark, pages, root, run_id="r1"))


def test_crash_matrix_delete_and_move(spark, base_root, tmp_path, monkeypatch):
    """delete_by_url and move_url, each one commit over both tables"""
    from open_semantic_etl_spark.plans.maintenance import delete_by_url, move_url

    urls = [page_record(i, 42)["url"] for i in (5, 6, 7)]
    assert_crash_matrix(spark, monkeypatch, base_root, tmp_path / "delete",
                        lambda root: delete_by_url(spark, root, urls))
    assert_crash_matrix(spark, monkeypatch, base_root, tmp_path / "move",
                        lambda root: move_url(spark, root, urls[0], "file:///moved/0.html"))


def test_table_without_layout_record_is_refused_at_merge(spark, root):
    """a table that holds data under a root with no commit log, so with
    no layout record (written before the log), raises at the next merge,
    naming the rebuild, and the merge changes nothing on disk."""
    import os
    import shutil

    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    path = os.path.join(root, "t")
    rows = spark.createDataFrame([(f"u{i}", i) for i in range(20)], "url string, v long")
    merge_by_url(spark, rows, path, n_buckets=4)
    shutil.rmtree(os.path.join(root, "_log"))  # the layout of an older build
    before = _bucket_file_state(path)

    batch = spark.createDataFrame([("new", 99)], "url string, v long")
    with pytest.raises(ValueError, match="no commit log.*rebuild"):
        merge_by_url(spark, batch, path, n_buckets=4)
    assert _bucket_file_state(path) == before
    assert sorted(os.listdir(root)) == ["t"]


def test_append_crash_leaves_files_invisible(spark, root, monkeypatch):
    """an append that crashed after its files landed in the live bucket
    dirs, before its log entry, is invisible to readers; the retry lands
    every row once, and no file the append did not add changes — an
    append only adds files."""
    import os

    from open_semantic_etl_spark.plans import checkpoint as C

    rows = spark.createDataFrame([(f"u{i}", i) for i in range(40)], "url string, v long")
    C.merge_by_url(spark, rows, os.path.join(root, "t"), n_buckets=8)
    path = os.path.join(root, "t")
    before = _bucket_file_state(path)
    batch = spark.createDataFrame(
        [(f"n{i}", 100 + i) for i in range(6)], "url string, v long"
    ).withColumn("_bucket", C.bucket_expr(n_buckets=8))
    touched = {f"_bucket={b}" for b in C.buckets_of(batch)}

    def append() -> None:
        c = C.Commit(root, "append", "b1")
        c.append("t", batch, "_bucket", {"n_buckets": 8})
        c.commit()

    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_create_entry")
        append()
    strays = set(_bucket_file_state(path)) - set(before)
    assert strays and {k.split("/")[0] for k in strays} <= touched  # the files landed
    assert read_table(spark, path).count() == 40  # and no reader sees them

    append()
    table = read_table(spark, path)
    assert table.count() == 46
    assert table.select("url").distinct().count() == 46
    assert {r.v for r in table.filter(F.col("url").startswith("n")).collect()} == set(range(100, 106))
    after = _bucket_file_state(path)
    assert {k: after[k] for k in before} == before  # no file rewritten
    assert {k.split("/")[0] for k in set(after) - set(before)} <= touched


def test_swap_crash_rolls_forward(spark, root, monkeypatch):
    """a merge that died after its log entry and before it deleted the
    files it replaced is committed: the next merge reads only the live
    files, so the replaced rows never come back and no row is lost."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    path = os.path.join(root, "enriched")
    df = spark.createDataFrame([(f"u{i}", f"v{i}") for i in range(50)], "url string, val string")
    merge_by_url(spark, df, path, n_buckets=4)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_reap")
        merge_by_url(spark, df.withColumn("val", F.lit("w")), path)
    merge_by_url(spark, spark.createDataFrame([("u50", "v50")], "url string, val string"), path)
    merged = read_table(spark, path)
    assert merged.count() == 51
    assert merged.select("url").distinct().count() == 51
    assert merged.filter(F.col("val") == "w").count() == 50


def test_crashed_table_swap_is_restored_before_merge(spark, root, monkeypatch):
    """a merge that crashed after writing every bucket's new files and
    before its log entry leaves the table as it was; the next merge
    reads the logged table, not the crashed merge's files, and does not
    replace the table with its batch."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import merge_by_url

    path = os.path.join(root, "enriched")
    df = spark.createDataFrame([(f"u{i}", f"v{i}") for i in range(50)], "url string, val string")
    merge_by_url(spark, df, path, n_buckets=4)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="simulated"):
        crash_at(m, "_create_entry")
        merge_by_url(spark, df.withColumn("val", F.lit("w")), path)
    assert read_table(spark, path).filter(F.col("val") == "w").count() == 0
    merge_by_url(spark, spark.createDataFrame([("u50", "v50")], "url string, val string"), path)
    merged = read_table(spark, path)
    assert merged.count() == 51
    assert merged.select("url").distinct().count() == 51
    assert merged.filter(F.col("val") == "w").count() == 0
    assert sorted(os.listdir(root)) == ["_log", "enriched"]


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
    """the merge's read of the existing table lists only the touched
    buckets' files — pruning at the file list, not a full scan."""
    import os

    run_incremental(spark, _pages(spark, 50), root)
    t = Tables(root)
    old = read_table(spark, t.enriched, [1, 2, 3])
    want = {
        os.path.join(t.enriched, rel) for rel in _bucket_file_state(t.enriched)
        if rel.split("/")[0] in ("_bucket=1", "_bucket=2", "_bucket=3")
    }
    assert want
    assert {f.removeprefix("file://") for f in old.inputFiles()} == want
    assert {r._bucket for r in old.select("_bucket").distinct().collect()} <= {1, 2, 3}


def test_racing_commits_lose_no_entry(tmp_path):
    """8 threads (more than the cores) each commit 25 appends to one
    table of one root at once: every commit that loses the race for its
    version rebases, so the log ends with every appended file, each
    version taken once."""
    import os
    import sys
    import threading

    from open_semantic_etl_spark.plans import checkpoint as C

    root = str(tmp_path / "race")
    os.makedirs(os.path.join(root, C.LOG))
    first = C.Commit(root, "create")
    first.changes = {"t": {"add": [], "remove": [], "layout": {"part_col": None}}}
    first.commit()
    errors = []

    def worker(w: int) -> None:
        try:
            for i in range(25):
                c = C.Commit(root, "append", f"{w}-{i}")
                c.changes = {"t": {"add": [f"w{w}-{i}.parquet"], "remove": []}}
                c.commit()
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    snap = C.snapshot(root)
    assert snap.version == 1 + 8 * 25
    assert snap.tables["t"]["files"] == {f"w{w}-{i}.parquet" for w in range(8) for i in range(25)}


def test_each_operation_replays_its_root_log_once(spark, root, tmp_path, monkeypatch):
    """an operation reads one snapshot of its root, its commit's base:
    with no racing commit, each replays its root's log exactly once,
    whatever it reads (pending rows, the bucket count, the urls missing
    a stage, the LSH family, the probed index)."""
    from open_semantic_etl_spark.operators import dedup as D
    from open_semantic_etl_spark.plans import checkpoint as C
    from open_semantic_etl_spark.plans.backfill import run_backfill
    from open_semantic_etl_spark.plans.maintenance import delete_by_url, delete_where, move_url

    replays = []
    replay = C._replay

    def counting(r: str):
        replays.append(r)
        return replay(r)

    monkeypatch.setattr(C, "_replay", counting)

    def replayed(op) -> list[str]:
        replays.clear()
        op()
        return list(replays)

    pages = _pages(spark, 40)
    urls = [page_record(i, 42)["url"] for i in range(4)]
    ops = {
        "run_incremental, first run": lambda: run_incremental(spark, pages, root),
        "run_incremental, no-op rerun": lambda: run_incremental(spark, pages, root),
        "run_incremental, 4 new pages": lambda: run_incremental(spark, _pages(spark, 44), root),
        "merge_by_url": lambda: C.merge_by_url(
            spark, spark.createDataFrame([(urls[0], "t")], "url string, title_txt string"),
            f"{root}/enriched"),
        "run_backfill": lambda: run_backfill(
            spark, root, "shout", _shout_only(urls[:2]), ("title_txt",)),
        "delete_by_url": lambda: delete_by_url(spark, root, urls[2:3]),
        "delete_where": lambda: delete_where(spark, root, F.col("url") == urls[3]),
        "move_url": lambda: move_url(spark, root, urls[0], "file:///moved/0.html"),
    }
    for name, op in ops.items():
        assert replayed(op) == [root], name

    index = str(tmp_path / "lsh")
    docs = read_table(spark, f"{root}/enriched").select("url", F.col("content_txt").alias("text"))
    ops = {
        "dedup_ingest_batch, fresh index": lambda: D.dedup_ingest_batch(
            spark, docs.limit(10), index, "b1"),
        "dedup_ingest_batch": lambda: D.dedup_ingest_batch(spark, docs, index, "b2"),
        "compact_lsh_index": lambda: D.compact_lsh_index(spark, index),
    }
    for name, op in ops.items():
        assert replayed(op) == [index], name
