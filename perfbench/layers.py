"""Per-layer measurement for the traced pass.

Three sources, all read from the benchmark's side of the program's
public API (the program itself carries no tracing yet):

- spans: wall time around calls into each layer, kept in memory;
- Spark SQL metrics read off the executed physical plan of a query
  after it ran (AQE wrappers and query stages unwrapped);
- the kernel split: the four kernels of the fused Python stage called
  directly, in this process, on the workload's own generated pages.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: kernel layer names, in the order operators/fused.py runs them
KERNELS = (
    "htmlx.extract_html",
    "langdetect.detect_language",
    "entity_linking.tag",
    "numerize.numerize_en",
)

# Spark stores "timing" metrics in ms, "nsTiming" in ns and "size" in
# bytes; everything is published in s and MB.
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}


class Tracer:
    """Spans (name, parent, start, end) on the perf_counter clock."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": time.perf_counter()}
            )

    def median(self, name: str) -> float:
        return statistics.median(
            s["end"] - s["start"] for s in self.spans if s["name"] == name
        )


def plan_metrics(df) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for each node of ``df``'s executed
    plan, after ``df`` ran through ``collect()``. Times in s, sizes in MB."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        values = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            values[kv._1()] = m.value() * _UNIT_SCALE.get(m.metricType(), 1.0)
        out.append((name, values))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def metric_sum(nodes, node_prefix: str, metric: str) -> float:
    return sum(v.get(metric, 0.0) for name, v in nodes if name.startswith(node_prefix))


def kernel_split(rows: list[tuple[bytes, str]], gazetteer) -> dict[str, float]:
    """Time the fused stage's kernels on (html, url) rows, feeding each
    kernel what operators/fused.py feeds it. Returns per-doc cost and
    share of the four kernels' total for each, plus the counts."""
    from open_semantic_etl_spark.operators.fused import analysis_text_py, clean_title_py
    from open_semantic_etl_spark.operators.htmlx import extract_html
    from open_semantic_etl_spark.operators.langdetect import detect_language
    from open_semantic_etl_spark.operators.numerize import numerize_en

    extract, langid, tag, numerize = KERNELS
    spent = dict.fromkeys(KERNELS, 0.0)
    pdf_s = 0.0
    n_pdf = hits = calls = changed = 0
    clock = time.perf_counter
    for html, url in rows:
        t0 = clock()
        rec = extract_html(html)
        t1 = clock()
        text = analysis_text_py(clean_title_py(rec["title"], url), rec["description"], rec["content"])
        t2 = clock()
        lang = detect_language(text)
        t3 = clock()
        hits += len(gazetteer.tag(text))
        t4 = clock()
        spent[extract] += t1 - t0
        spent[langid] += t3 - t2
        spent[tag] += t4 - t3
        if rec["content_type"] == "application/pdf":
            pdf_s += t1 - t0
            n_pdf += 1
        if lang == "en":  # fused.py numerizes English analysis text only
            t5 = clock()
            changed += numerize_en(text) != text
            spent[numerize] += clock() - t5
            calls += 1
    n = len(rows)
    total = sum(spent.values())
    out: dict[str, float] = {}
    for k, v in spent.items():
        out[f"{k}.us_per_doc"] = v / n * 1e6
        out[f"{k}.share"] = v / total
    out["htmlx.extract_html.pdf_us_per_doc"] = pdf_s / n_pdf * 1e6 if n_pdf else 0.0
    out["entity_linking.hits_per_doc"] = hits / n
    out["numerize.calls"] = float(calls)
    out["numerize.changed_frac"] = changed / calls if calls else 0.0
    out["kernels.sample_docs"] = float(n)
    out["kernels.total_s"] = total
    return out
