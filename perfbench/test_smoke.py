"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench -q

Every workload runs untraced and traced through the real command and
must print every metric BENCHMARK.json names, with its unit; the
output checks must fail on a wrong expected text and on a lost row.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, str]:
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    result, text = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        assert f"{m['name']} = " in text and text.split(f"{m['name']} = ")[1].split("\n")[0].endswith(
            m["unit"])
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        assert "error_rate = 0 fraction" in text


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.spark_env import start_spark, stop_spark

    s = start_spark(2, str(tmp_path_factory.mktemp("perfbench")), "perfbench_smoke")
    yield s
    stop_spark(s)


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from open_semantic_etl_spark.sources.pages import pages_df

    path = str(tmp_path_factory.mktemp("pages"))
    pages_df(spark, 40, seed=3, partitions=2).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_enrich_check_passes_on_good_pages(pages):
    from perfbench.workloads import check_enrich, enrich_aggregate

    check_enrich(enrich_aggregate(pages).collect()[0], 40)


def test_enrich_check_fails_on_corrupted_expected_text(pages):
    from pyspark.sql import functions as F

    from perfbench.workloads import WrongOutput, check_enrich, enrich_aggregate

    url = pages.first()["url"]
    bad = pages.withColumn(
        "text", F.when(F.col("url") == url, F.concat("text", F.lit("x"))).otherwise(F.col("text")))
    with pytest.raises(WrongOutput, match="content_txt != text on 1 "):
        check_enrich(enrich_aggregate(bad).collect()[0], 40)


def test_enrich_check_fails_on_dropped_row(pages):
    from pyspark.sql import functions as F

    from perfbench.workloads import WrongOutput, check_enrich, enrich_aggregate

    url = pages.first()["url"]
    with pytest.raises(WrongOutput, match="40 pages in, 39"):
        check_enrich(enrich_aggregate(pages.filter(F.col("url") != url)).collect()[0], 40)


def _recrawl_state(tmp_path, drop: str | None = None, text_of: dict | None = None):
    """a Recrawl whose live tables hold two urls, as a run should leave
    them, less ``drop`` and with the texts in ``text_of`` replaced"""
    import pandas as pd

    from perfbench.workloads import Recrawl

    rows = pd.DataFrame({
        "url": ["u1", "u2"], "content_hash": [11, 22], "extract_ok": [True, True],
        "content_txt": ["one", "two"], "text": ["one", "two"],
    })
    for url, text in (text_of or {}).items():
        rows.loc[rows["url"] == url, "text"] = text
    live = tmp_path / "live"
    for table, cols in (("enriched", list(rows.columns)), ("checkpoint", ["url", "content_hash"])):
        d = live / table / "_bucket=0"
        d.mkdir(parents=True)
        rows[rows["url"] != drop][cols].to_parquet(d / "part-00000.parquet")
    wl = Recrawl(spark=None, n_base=1, n_changed=0, n_new=1)
    wl.live, wl.before = str(live), {}
    wl.n_pending, wl.pending_html_bytes = 1, 100
    wl.expected = pd.DataFrame({"url": ["u1", "u2"], "h": [11, 22], "pending": [False, True]})
    return wl


def _recrawl_outcome():
    from perfbench.workloads import Outcome

    return Outcome(docs=2, html_bytes=100, detail={"processed": 1})


def test_recrawl_check_passes_on_good_tables(tmp_path):
    _recrawl_state(tmp_path).check(_recrawl_outcome())


def test_recrawl_check_fails_on_corrupted_expected_text(tmp_path):
    from perfbench.workloads import WrongOutput

    wl = _recrawl_state(tmp_path, text_of={"u2": "two!"})
    with pytest.raises(WrongOutput, match="1 mismatches"):
        wl.check(_recrawl_outcome())


def test_recrawl_check_fails_on_dropped_row(tmp_path):
    from perfbench.workloads import WrongOutput

    wl = _recrawl_state(tmp_path, drop="u1")
    with pytest.raises(WrongOutput, match="1 missing"):
        wl.check(_recrawl_outcome())
