"""Streaming: watermarked windowed aggregation (late-data drop) and the
applyInPandasWithState host-sessionizer.

Driven through real file-source streams across several
restart-from-checkpoint phases because watermark mechanics are
batch-delayed: batch N advances the watermark, batch N+1 emits what it
finalized — exactly the semantics a 100 TB streaming ingest sees.
Sink is the parquet file sink (checkpoint-recoverable, unlike memory).
"""

from __future__ import annotations

from datetime import datetime

from open_semantic_etl_spark.plans.checkpoint import read_table

EVENTS = "event_type string, ts timestamp, value double"
CRAWL = "url string, ts timestamp"


def _append(spark, path, schema, rows):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def _run_phase(spark, schema, src, build, ckpt, out_dir):
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def test_windowed_event_metrics_drops_late_data(spark, tmp_path):
    from open_semantic_etl_spark.streaming.monitor import windowed_event_metrics

    src, ckpt, out = str(tmp_path / "ev"), str(tmp_path / "ck"), str(tmp_path / "out")
    t = lambda m: datetime(2024, 3, 1, 10, m)

    # phase 1: three rows in the 10:00 window + one at 10:20
    #   → watermark after the batch: 10:10 (nothing emitted yet)
    _append(spark, src, EVENTS, [
        ("view", t(0), 1.0), ("view", t(2), 2.0), ("click", t(4), 3.0),
        ("view", t(20), 5.0),
    ])
    _run_phase(spark, EVENTS, src, windowed_event_metrics, ckpt, out)

    # phase 2: a too-late row for the closed 10:00 window (vs watermark
    # 10:10 → dropped) + a 10:40 row; this batch emits the finalized
    # 10:00 windows and moves the watermark to 10:30
    _append(spark, src, EVENTS, [("view", t(2), 100.0), ("click", t(40), 7.0)])
    _run_phase(spark, EVENTS, src, windowed_event_metrics, ckpt, out)

    # phase 3: push the watermark past 10:45 so the 10:20 window emits
    _append(spark, src, EVENTS, [("view", t(59), 9.0)])
    _run_phase(spark, EVENTS, src, windowed_event_metrics, ckpt, out)

    rows = {
        (r["window"].start.minute, r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    # 10:00 windows finalized WITHOUT the late row (watermark dropped it)
    assert rows[(0, "view")] == (2, 3.0)
    assert rows[(0, "click")] == (1, 3.0)
    # 10:20 window finalized after the watermark passed its end
    assert rows[(20, "view")] == (1, 5.0)


def test_host_sessions_stateful(spark, tmp_path):
    from open_semantic_etl_spark.streaming.sessions import host_sessions

    src, ckpt, out = str(tmp_path / "cr"), str(tmp_path / "ck2"), str(tmp_path / "out2")
    t = lambda m: datetime(2024, 3, 1, 10, m)
    build = lambda s: host_sessions(s, gap="30 minutes", watermark="10 minutes")

    # session A on host-a: 10:00-10:05 (3 pages); host-b singleton 10:01
    _append(spark, src, CRAWL, [
        ("https://host-a.org/1", t(0)), ("https://host-a.org/2", t(3)),
        ("https://host-a.org/3", t(5)), ("https://host-b.org/x", t(1)),
    ])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    # 12:00 activity jumps the watermark to 11:50 (far past both
    # sessions' last_seen + gap)…
    _append(spark, src, CRAWL, [("https://host-a.org/4", datetime(2024, 3, 1, 12, 0))])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    # …and the NEXT batch fires their event-time timeouts
    _append(spark, src, CRAWL, [("https://host-c.org/y", datetime(2024, 3, 1, 12, 30))])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    done = {
        (r["host"], r["session_start"].minute, r["n_pages"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("host-a.org", 0, 3) in done  # 3-page session finalized
    assert ("host-b.org", 1, 1) in done  # singleton finalized by timeout


def test_host_sessions_gap_below_watermark(spark, tmp_path):
    """gap shorter than the watermark delay: a late-but-in-watermark
    batch used to compute a timeout BELOW the current watermark and
    crash the query (IllegalArgumentException); the clamp keeps it
    alive and the session still finalizes."""
    from open_semantic_etl_spark.streaming.sessions import host_sessions

    src, ckpt, out = str(tmp_path / "cr3"), str(tmp_path / "ck3"), str(tmp_path / "out3")
    build = lambda s: host_sessions(s, gap="1 minutes", watermark="10 minutes")

    # batch 1: host-a at 10:00 plus a 10:20 row → watermark 10:10
    _append(spark, src, CRAWL, [
        ("https://host-a.org/1", datetime(2024, 3, 1, 10, 0)),
        ("https://host-z.org/w", datetime(2024, 3, 1, 10, 20)),
    ])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    # batch 2: a LATE host-a row (10:05, inside the watermark): its
    # last+gap = 10:06 < watermark 10:10 → timeout must clamp upward
    _append(spark, src, CRAWL, [("https://host-a.org/2", datetime(2024, 3, 1, 10, 5))])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    # batch 3: advance far; fire timeouts
    _append(spark, src, CRAWL, [("https://host-b.org/x", datetime(2024, 3, 1, 12, 0))])
    _run_phase(spark, CRAWL, src, build, ckpt, out)
    _append(spark, src, CRAWL, [("https://host-c.org/y", datetime(2024, 3, 1, 12, 30))])
    _run_phase(spark, CRAWL, src, build, ckpt, out)

    done = {(r["host"], r["n_pages"]) for r in spark.read.parquet(out).collect()}
    # host-a finalized with both rows (1-minute gap split? 10:00 vs
    # 10:05 is > gap → two sessions of 1 page each)
    assert ("host-a.org", 1) in done


_BASE = (
    "the quick brown fox jumps over the lazy dog while the silver moon "
    "watches from the old wooden fence near the quiet river bank every "
    "single morning before the sun rises over the green hills"
)
_OTHER = (
    "completely different text about databases indexes and storage "
    "engines for modern analytics workloads at scale"
)


def test_stream_dedup_ingest_incremental(spark, tmp_path):
    """two micro-batches through the streaming dedup ingest: batch 2's
    near-dup of an already-indexed doc is dropped, its genuinely new
    doc is kept, and the persisted index grows per micro-batch — the
    incremental-corpus-dedup flow end to end."""
    from datetime import datetime as _dt

    from open_semantic_etl_spark.streaming.monitor import stream_dedup_ingest

    base, other = _BASE, _OTHER
    third = (
        "yet another unrelated document discussing climate research models "
        "and long term ocean temperature measurement programs"
    )
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    ts = _dt(2024, 1, 1)
    land = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def row(u, t):
        return (u, ts, None, t, "en")

    # batch 1: two distinct docs + an intra-batch near-dup of base
    _append(spark, land, schema, [
        row("a://1", base), row("a://2", other),
        row("a://3", base.replace("quick", "swift")),
    ])
    # batch 2 (second file → second micro-batch): near-dup of base + new doc
    _append(spark, land, schema, [
        row("b://1", base.replace("morning", "evening")), row("b://2", third),
    ])
    q = stream_dedup_ingest(spark, land, out, ck)
    assert q.awaitTermination(120)

    kept = spark.read.parquet(f"{out}/kept")
    urls = {r.url for r in kept.select("url").collect()}
    # a://1 kept, a://3 dropped within batch 1 (url-ordered keep rule);
    # b://1 dropped against the index — regardless of which landing
    # file formed the first micro-batch, exactly ONE base-variant
    # survives overall
    assert "a://2" in urls and "b://2" in urls
    assert len(urls & {"a://1", "a://3", "b://1"}) == 1
    assert kept.count() == 3

    # the index accumulated exactly the kept docs across micro-batches
    idx_ids = {r._id for r in read_table(spark, f"{out}/lsh_index/sigs").collect()}
    assert idx_ids == urls

    # replay with a fresh checkpoint: a new ingest, every doc a dup of
    # the index, so no rows are added
    q2 = stream_dedup_ingest(spark, land, out, str(tmp_path / "ck2"))
    assert q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/kept").count() == 3


def test_compact_lsh_index_preserves_probe_results(spark, tmp_path):
    """compaction rewrites the small files of repeated ingests into one
    file per bucket dir, keeping each table's bucket dirs and rows;
    probes before and after must agree."""
    import os

    from open_semantic_etl_spark.operators.dedup import (
        compact_lsh_index,
        dedup_ingest_batch,
        probe_lsh_index,
    )

    texts = {
        10: "the quick brown fox jumps over the lazy dog near the old fence",
        11: "completely different text about storage engines and analytics",
        12: "a third unrelated passage on climate and ocean measurement",
    }
    path = str(tmp_path / "idx")
    for i, t in texts.items():
        df = spark.createDataFrame([(i, t)], "doc_id long, text string")
        dedup_ingest_batch(spark, df, path, f"b{i}", id_col="doc_id")

    def files_per_bucket():
        return [
            sum(f.endswith(".parquet") for f in fs)
            for sub in ("bands", "sigs")
            for d, _s, fs in os.walk(f"{path}/{sub}")
            if os.path.basename(d).startswith(("_bb=", "_sb="))
        ]

    def dirs_and_rows():
        return {
            sub: (
                sorted(os.listdir(f"{path}/{sub}")),
                sorted(str(r) for r in spark.read.parquet(f"{path}/{sub}").collect()),
            )
            for sub in ("bands", "sigs")
        }

    assert max(files_per_bucket()) > 1  # the appends share a bucket
    probe = spark.createDataFrame(
        [(99, texts[10].replace("quick", "swift"))], "doc_id long, text string"
    )
    before = sorted(
        (r.index_id, r.probe_id) for r in probe_lsh_index(probe, path).collect()
        if r.matched
    )
    assert before  # the near-dup collides pre-compaction
    layout = dirs_and_rows()
    compact_lsh_index(spark, path)
    assert max(files_per_bucket()) == 1
    assert dirs_and_rows() == layout
    after = sorted(
        (r.index_id, r.probe_id) for r in probe_lsh_index(probe, path).collect()
        if r.matched
    )
    assert after == before


def test_stream_dedup_ingest_collapses_repeated_urls(spark, tmp_path):
    """the same url twice in one landing file (re-crawl) must collapse
    to ONE kept row, not multiply through the novel join (r4 review)."""
    from datetime import datetime as _dt

    from open_semantic_etl_spark.streaming.monitor import stream_dedup_ingest

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    ts = _dt(2024, 1, 1)
    land = str(tmp_path / "landing")
    t = "some unique page text about re-crawled documents and landing files"
    _append(spark, land, schema, [("r://1", ts, None, t, "en"),
                                  ("r://1", ts, None, t, "en")])
    q = stream_dedup_ingest(spark, land, str(tmp_path / "out"), str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    kept = spark.read.parquet(f"{tmp_path}/out/kept")
    assert kept.count() == 1


def _pages(spark, rows):
    from datetime import datetime as _dt

    return spark.createDataFrame(
        [(u, _dt(2024, 1, 1), None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _stream_once(spark, tmp_path, name, out, rows):
    """one stream_dedup_ingest session: its own landing dir and
    checkpoint, the shared ``out`` root."""
    from open_semantic_etl_spark.streaming.monitor import stream_dedup_ingest

    land = str(tmp_path / f"land_{name}")
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(land)
    q = stream_dedup_ingest(spark, land, out, str(tmp_path / f"ck_{name}"))
    assert q.awaitTermination(120)
    return q


def _kept_and_indexed(spark, out):
    kept = sorted(r.url for r in spark.read.parquet(f"{out}/kept").collect())
    idx = sorted(r._id for r in read_table(spark, f"{out}/lsh_index/sigs").collect())
    return kept, idx


def test_stream_dedup_ingest_second_session_dedups_against_first(spark, tmp_path):
    """a second stream session (new checkpoint, new landing dir, same
    out root) dedups against what the first indexed: its near-dup of
    a://1 drops and a://1 survives in both kept and the index."""
    out = str(tmp_path / "out")
    _stream_once(spark, tmp_path, "s1", out, [("a://1", _BASE)])
    _stream_once(spark, tmp_path, "s2", out, [
        ("b://1", _BASE.replace("morning", "evening")), ("b://2", _OTHER),
    ])
    kept, idx = _kept_and_indexed(spark, out)
    assert kept == idx == ["a://1", "b://2"]


def test_stream_dedup_ingest_extends_a_batch_index(spark, tmp_path):
    """streaming continues a compacted batch-ingested index, and each
    streamed micro-batch is a committed batch the retention sweep can
    expire."""
    from open_semantic_etl_spark.operators.dedup import (
        compact_lsh_index,
        dedup_ingest_batch,
        expire_lsh_batches,
        list_lsh_batches,
    )

    out = str(tmp_path / "out")
    index_path = f"{out}/lsh_index"
    dedup_ingest_batch(spark, _pages(spark, [("a://1", _BASE)]), index_path, "seed")
    compact_lsh_index(spark, index_path)
    q = _stream_once(spark, tmp_path, "s", out, [
        ("b://1", _BASE.replace("morning", "evening")), ("b://2", _OTHER),
    ])
    kept = sorted(r.url for r in spark.read.parquet(f"{out}/kept").collect())
    assert kept == ["b://2"]
    streamed = f"{q.id}-0"  # batch id = query id + epoch
    assert list_lsh_batches(index_path) == sorted(["seed", streamed])
    expire_lsh_batches(spark, index_path, [streamed])
    _, idx = _kept_and_indexed(spark, out)
    assert idx == ["a://1"]
