"""delete / move / annotation-join / sidecar-join tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_semantic_etl_spark.plans.checkpoint import Tables, read_table, run_incremental
from open_semantic_etl_spark.plans.maintenance import (
    delete_by_url,
    delete_where,
    join_annotations,
    join_sidecar,
    move_url,
)
from open_semantic_etl_spark.sources.pages import pages_df


def _dataset(spark, tmp_path, n=40):
    root = str(tmp_path / "ds")
    run_incremental(spark, pages_df(spark, n, partitions=2), root)
    return root


def test_delete(spark, tmp_path):
    root = _dataset(spark, tmp_path)
    t = Tables(root)
    victims = [r["url"] for r in read_table(spark, t.enriched).limit(3).collect()]
    assert delete_by_url(spark, root, victims) == 3
    left = read_table(spark, t.enriched)
    assert left.count() == 37
    assert left.filter(F.col("url").isin(victims)).count() == 0
    # deleted urls also leave the checkpoint → a rerun re-indexes them
    s = run_incremental(spark, pages_df(spark, 40, partitions=2), root)
    assert s["processed"] == 3

    assert delete_where(spark, root, F.col("url").contains("big.example.com")) == 10


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    """SQL DELETE semantics: a row where the predicate is NULL is KEPT,
    and the returned count equals exactly the rows removed (review
    regression: ~predicate silently dropped NULL rows uncounted)."""
    from open_semantic_etl_spark.plans.maintenance import delete_where

    root = _dataset(spark, tmp_path)
    t = Tables(root)
    base = read_table(spark, t.enriched)
    n0 = base.count()
    # hot count BEFORE any rewrite (the frame pins the original files)
    hot = base.filter(F.col("url").contains("big.example.com")).count()
    # a predicate that is NULL on every row (nullif makes the url NULL)
    pred = F.length(F.nullif(F.col("url"), F.col("url"))) > 2
    assert delete_where(spark, root, pred) == 0
    assert read_table(spark, t.enriched).count() == n0  # nothing lost
    # mixed: TRUE on the hot-host rows, NULL everywhere else
    pred2 = F.when(F.col("url").contains("big.example.com"), F.lit(True))
    assert delete_where(spark, root, pred2) == hot
    assert read_table(spark, t.enriched).count() == n0 - hot


def test_delete_rewrites_only_touched_buckets(spark, tmp_path):
    """delete_by_url write volume ∝ touched urls: bucket files outside
    the victims' url-hash buckets must stay byte-identical (no full
    before/after count scans rewrote or re-read them — VERDICT r2 item 5)."""
    import hashlib
    import os

    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    root = _dataset(spark, tmp_path, n=80)
    t = Tables(root)

    def file_state(path):
        state = {}
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(dirpath, f)
                    st = os.stat(fp)
                    with open(fp, "rb") as fh:
                        digest = hashlib.md5(fh.read()).hexdigest()
                    state[os.path.relpath(fp, path)] = (st.st_size, st.st_mtime_ns, digest)
        return state

    victims = [r["url"] for r in read_table(spark, t.enriched).limit(2).collect()]
    touched = {
        r[0]
        for r in spark.createDataFrame([(u,) for u in victims], "url string")
        .select(bucket_expr().alias("b")).distinct().collect()
    }
    before = file_state(t.enriched)
    assert delete_by_url(spark, root, victims) == 2
    after = file_state(t.enriched)
    changed = {
        name.split("/")[0]
        for name in set(before) | set(after)
        if before.get(name) != after.get(name)
    }
    assert changed <= {f"_bucket={b}" for b in touched}, changed
    assert read_table(spark, t.enriched).count() == 78


def test_move(spark, tmp_path):
    root = _dataset(spark, tmp_path)
    t = Tables(root)
    src = read_table(spark, t.enriched).first()["url"]
    dst = "https://moved.example.net/new/home.html"
    move_url(spark, root, src, dst)
    df = read_table(spark, t.enriched)
    assert df.filter(F.col("url") == src).count() == 0
    moved = df.filter(F.col("url") == dst).first()
    assert moved["path0_s"] == "moved.example.net"  # facets recomputed
    assert moved["path_basename_s"] == "home.html"


def test_moved_src_is_indexed_again(spark, tmp_path):
    """a move takes src's checkpoint row along: when src comes back
    with the same content, the next run indexes it again (the
    reference re-indexes it, since Solr no longer holds a src doc)."""
    root = _dataset(spark, tmp_path)
    t = Tables(root)
    src = sorted(r["url"] for r in read_table(spark, t.enriched).select("url").collect())[0]
    move_url(spark, root, src, "https://moved.example.net/back.html")
    s = run_incremental(spark, pages_df(spark, 40, partitions=2), root)
    assert s["processed"] == 1
    urls = [r["url"] for r in read_table(spark, t.enriched).select("url").collect()]
    assert urls.count(src) == 1 and len(urls) == 41


def test_move_onto_an_indexed_url_leaves_one_row(spark, tmp_path):
    """moving onto an already-indexed url replaces its row (a Solr
    update with an existing id overwrites the doc), in the enriched
    table and the checkpoint."""
    root = _dataset(spark, tmp_path)
    t = Tables(root)
    src, dst = sorted(r["url"] for r in read_table(spark, t.enriched).select("url").collect())[:2]
    src_hash = read_table(spark, t.enriched).filter(F.col("url") == src).first()["content_hash"]
    move_url(spark, root, src, dst)
    for path in (t.enriched, t.checkpoint):
        rows = read_table(spark, path).filter(F.col("url").isin(src, dst)).collect()
        assert [(r["url"], r["content_hash"]) for r in rows] == [(dst, src_hash)], path
    assert read_table(spark, t.enriched).count() == 39


def test_join_annotations(spark):
    df = spark.createDataFrame(
        [("u1", ["a"]), ("u2", ["b"])], "url string, tag_ss array<string>"
    )
    ann = spark.createDataFrame(
        [("u1", ["a", "x"], "note one")], "url string, tag_ss array<string>, note string"
    )
    out = {r["url"]: r for r in join_annotations(df, ann, merge_cols=("tag_ss",)).collect()}
    assert sorted(out["u1"]["tag_ss"]) == ["a", "x"]  # add-distinct merge
    assert out["u1"]["note"] == "note one"
    assert out["u2"]["tag_ss"] == ["b"] and out["u2"]["note"] is None


def test_join_sidecar(spark):
    df = spark.createDataFrame([("file:///a/img.jpg",), ("file:///a/other.jpg",)], "url string")
    sidecar = spark.createDataFrame(
        [("file:///a/img.jpg.xmp", "Photographer X")], "url string, author_s string"
    )
    out = {r["url"]: r["author_s"] for r in join_sidecar(df, sidecar).collect()}
    assert out["file:///a/img.jpg"] == "Photographer X"
    assert out["file:///a/other.jpg"] is None


def test_salted_agg_matches_plain(spark):
    from open_semantic_etl_spark.functions.skew import host_of, salted_agg
    from pyspark.sql import functions as F

    df = pages_df(spark, 200, partitions=4).withColumn("host", host_of(F.col("url")))
    plain = {
        r["host"]: (r["n"], r["bytes"])
        for r in df.groupBy("host")
        .agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("bytes"))
        .collect()
    }
    salted = {
        r["host"]: (r["n"], r["bytes"])
        for r in salted_agg(
            df, "host", {"n": F.count("*"), "bytes": F.sum(F.length("html"))}
        ).collect()
    }
    assert salted == plain
    assert plain["big.example.com"][0] == 50  # the planted hot host


def test_salted_agg_combiners(spark):
    """max/min aggregates need the matching combiner — the default sum
    stage would add the per-salt maxima together."""
    from open_semantic_etl_spark.functions.skew import host_of, salted_agg
    from pyspark.sql import functions as F

    df = pages_df(spark, 200, partitions=4).withColumn("host", host_of(F.col("url")))
    plain = {
        r["host"]: r["mx"]
        for r in df.groupBy("host").agg(F.max(F.length("html")).alias("mx")).collect()
    }
    salted = {
        r["host"]: r["mx"]
        for r in salted_agg(
            df, "host", {"mx": F.max(F.length("html"))}, combiners={"mx": F.max}
        ).collect()
    }
    assert salted == plain


def test_export_sinks(spark, tmp_path):
    """export_json / export_print / doc-json shaping with the §1.3
    value model (dedupe + single-value scalar collapse)."""
    import json
    import os

    from open_semantic_etl_spark.sinks import (
        export_docs_json,
        export_json,
        export_print,
    )

    df = spark.createDataFrame(
        [("u1", "T1", ["x", "x"]), ("u2", "T2", ["x", "y"])],
        "url string, title_txt string, tag_ss array<string>",
    )
    docs = {r["url"]: json.loads(r["doc_json"])
            for r in export_docs_json(df, array_cols=("tag_ss",)).collect()}
    assert docs["u1"] == {"title_txt": "T1", "tag_ss": "x"}  # collapsed scalar
    assert docs["u2"] == {"title_txt": "T2", "tag_ss": "x,y"}

    out = str(tmp_path / "json_out")
    export_json(df, out, array_cols=("tag_ss",))
    rows = spark.read.json(out).orderBy("url").collect()
    assert rows[0]["tag_ss"] == "x" and rows[1]["tag_ss"] == "x,y"
    assert os.path.isdir(out)

    rendered = export_print(df, n=5)
    assert "u1" in rendered and "T2" in rendered


def test_alt_sink_shapes(spark):
    """ES bulk pairs + Neo4j graph tables (export_elasticsearch /
    export_neo4j observable shapes: MERGE-by-name → distinct, NER
    facets collapse to the umbrella relationship label)."""
    import json

    from open_semantic_etl_spark.sinks import export_es_bulk, export_neo4j_graph

    df = spark.createDataFrame(
        [
            ("u1", "T1", ["Alice"], ["news"]),
            ("u2", "T2", ["Alice", "Bob"], ["news", "tech"]),
        ],
        "url string, title_txt string, person_ss array<string>, tag_ss array<string>",
    )
    bulk = export_es_bulk(df.select("url", "title_txt"), index="docs").collect()
    a0 = json.loads(bulk[0]["action_json"])
    assert a0 == {"index": {"_index": "docs", "_id": bulk[0]["url"]}}
    assert json.loads(bulk[0]["doc_json"])["title_txt"].startswith("T")

    nodes, rels = export_neo4j_graph(
        df, facet_labels={"person_ss": "Person", "tag_ss": "Tag"}
    )
    n = {(r["label"], r["name"]): r["title"] for r in nodes.collect()}
    # MERGE-by-name: Alice appears once despite two referencing docs
    assert ("Person", "Alice") in n and ("Person", "Bob") in n
    assert n[("Document", "u1")] == "T1"
    assert len([k for k in n if k[0] == "Person"]) == 2
    r = {(x["doc_name"], x["rel_type"], x["entity_name"]) for x in rels.collect()}
    # person facet uses the NER umbrella label; tags keep their label
    assert ("u1", "Named Entity Recognition", "Alice") in r
    assert ("u2", "Tag", "tech") in r


def test_delete_where_respects_table_bucket_count(spark, tmp_path):
    """a table laid out with n_buckets=8 must be rewritten in 8-bucket
    space — re-bucketing it would break every later pruned
    merge/delete.  Every survivor keeps its row and its bucket."""
    import os

    from open_semantic_etl_spark.plans.checkpoint import run_incremental

    root = str(tmp_path / "ds8")
    run_incremental(spark, pages_df(spark, 40, partitions=2), root, n_buckets=8)
    t = Tables(root)

    def snapshot():
        rows = {r.url: r for r in read_table(spark, t.enriched).collect()}
        return {d for d in os.listdir(t.enriched) if d.startswith("_bucket=")}, rows

    dirs, rows = snapshot()
    n = delete_where(spark, root, F.col("url").contains("doc-1"))
    assert n > 0
    dirs_after, rows_after = snapshot()
    assert rows_after == {u: r for u, r in rows.items() if "doc-1" not in u}
    assert dirs_after == {f"_bucket={r._bucket}" for r in rows_after.values()} <= dirs
    assert len(rows_after) == len(rows) - n


def test_backfill_respects_table_bucket_count(spark, tmp_path):
    """run_backfill's commits must happen in the table's bucket space,
    and a stage that rewrites an existing column changes only that
    column (Solr 'set')."""
    import os

    from open_semantic_etl_spark.plans.backfill import run_backfill
    from open_semantic_etl_spark.plans.checkpoint import run_incremental

    root = str(tmp_path / "ds8b")
    run_incremental(spark, pages_df(spark, 30, partitions=2), root, n_buckets=8)
    t = Tables(root)
    before = {r["url"]: r.asDict(recursive=True) for r in read_table(spark, t.enriched).collect()}

    def add_shout(_spark, rows):
        return rows.select("url", F.upper(F.col("title_txt")).alias("title_txt"))

    n = run_backfill(spark, root, "shout", add_shout, fields=("title_txt",))
    assert n == 30
    after = {r["url"]: r.asDict(recursive=True) for r in read_table(spark, t.enriched).collect()}
    assert after.keys() == before.keys()
    for url, row in after.items():
        assert row["title_txt"] == before[url]["title_txt"].upper()
        assert {**row, "title_txt": None} == {**before[url], "title_txt": None}, url
    for table in (t.enriched, t.checkpoint):
        dirs = sorted(
            int(d.split("=")[1])
            for d in os.listdir(table)
            if d.startswith("_bucket=")
        )
        assert dirs and max(dirs) < 8, f"{table} gained 64-space buckets: {dirs}"


def _urls_by_bucket(spark, path):
    """url -> bucket dir of every row of a bucketed table"""
    return {r.url: r._bucket for r in read_table(spark, path).select("url", "_bucket").collect()}


def test_maintenance_reads_the_table_bucket_count(spark, tmp_path):
    """delete_by_url, move_url and run_backfill take no bucket count:
    on an 8-bucket root they find their rows in the 8 buckets the
    tables record, in the enriched table and the checkpoint alike."""
    from open_semantic_etl_spark.plans.backfill import run_backfill
    from open_semantic_etl_spark.plans.checkpoint import bucket_expr

    root = str(tmp_path / "ds8m")
    run_incremental(spark, pages_df(spark, 40, partitions=2), root, n_buckets=8)
    t = Tables(root)
    victim, src = sorted(_urls_by_bucket(spark, t.enriched))[:2]
    dst = src + ".moved"

    assert delete_by_url(spark, root, [victim]) == 1
    for path in (t.enriched, t.checkpoint):
        assert victim not in _urls_by_bucket(spark, path), path

    move_url(spark, root, src, dst)
    moved = _urls_by_bucket(spark, t.enriched)
    want_bucket = spark.createDataFrame([(dst,)], "url string").select(
        bucket_expr(n_buckets=8)).first()[0]
    assert src not in moved and moved[dst] == want_bucket

    assert run_backfill(spark, root, "shout", lambda _s, rows: rows.select(
        "url", F.upper("title_txt").alias("title_shout")), fields=("title_txt",)) == 39
    shouted = read_table(spark, t.enriched).filter(F.col("title_shout").isNotNull())
    assert sorted(r.url for r in shouted.collect()) == sorted(moved)
    marked = read_table(spark, t.checkpoint).filter(F.array_contains("stages_done", "shout"))
    assert sorted(r.url for r in marked.collect()) == sorted(moved)
    for path in (t.enriched, t.checkpoint):
        assert max(_urls_by_bucket(spark, path).values()) < 8, path


def test_creating_call_refuses_another_bucket_count(spark, tmp_path):
    """run_incremental on an 8-bucket root with n_buckets=16 raises
    before it writes anything: every file stays byte-identical."""
    import os

    from test_pipeline_resume import _bucket_file_state

    root = str(tmp_path / "ds8r")
    run_incremental(spark, pages_df(spark, 20, partitions=2), root, n_buckets=8)
    t = Tables(root)

    def state():
        files = {p: _bucket_file_state(p) for p in (t.enriched, t.checkpoint, t.metrics)}
        files["_log"] = sorted(os.listdir(os.path.join(root, "_log")))
        return files

    before = state()
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_incremental(spark, pages_df(spark, 30, partitions=2), root, n_buckets=16)
    assert state() == before
    # the recorded count is the default for every later run
    assert run_incremental(spark, pages_df(spark, 30, partitions=2), root)["processed"] == 10
