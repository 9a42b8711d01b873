"""Benchmark of the enrichment engine: one workload per call.

    python3 perfbench/run.py --workload enrich_default --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, on local[4], in one driver process
with one client: a closed loop that starts the next operation when the
last one has finished and been checked. Inputs are generated from
``--seed`` under ``.perfbench_work/`` in the checkout, which the run
removes. ``--trace 0`` measures the end-to-end metrics, ``--trace 1``
runs the traced pass for the per-layer metrics; BENCHMARK.json names
both sets and their units. Every metric is printed as ``name = value
unit`` first; the last stdout line is one JSON object.

Exit status: 0 on success; 1 with ``"correct": false`` when an output
check fails; anything else (no result line) when the run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: the default workload seed, and the held-out seed for confirming a
#: claim on inputs it was not tuned on
DEFAULT_SEED = 1
HELD_OUT_SEED = 7


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def make_workload(name: str, spark, scale: float):
    from perfbench import workloads as W

    def n(full: int, least: int) -> int:
        return max(least, int(full * scale))

    if name == "enrich_default":
        return W.Enrich(spark, n(3000, 48), kernel_docs=n(600, 24))
    if name == "recrawl_incremental":
        # the tables keep the program's default bucket count (64); 8
        # pending urls touch about 7.6 of them, the B << N steady
        # recrawl regime that checkpoint.py sizes the count for
        return W.Recrawl(spark, n_base=n(1000, 100), n_changed=5, n_new=3)
    raise ValueError(name)


def set_up(wl, workdir: str, seed: int, times: int) -> list[float]:
    """run the workload's set-up ``times`` times, each into a fresh
    directory; the last one's inputs are the ones measured"""
    took, last = [], None
    for i in range(times):
        d = os.path.join(workdir, f"setup{i}")
        t0 = time.perf_counter()
        wl.setup(d, seed)
        took.append(time.perf_counter() - t0)
        if last:
            shutil.rmtree(last, ignore_errors=True)
        last = d
    return took


def closed_loop(wl, seconds: float):
    """operations back to back for ``seconds``, and at least the
    workload's ``MIN_OPERATIONS``; CPU is counted over the timed
    ``execute()`` only, memory over the whole loop"""
    from perfbench.procstat import PeakRss, tree_cpu_s

    pid = os.getpid()
    walls, cpus, outs = [], [], []
    with PeakRss(pid) as rss:
        deadline = time.monotonic() + seconds
        while len(walls) < wl.MIN_OPERATIONS or time.monotonic() < deadline:
            wl.prepare()
            c0 = tree_cpu_s(pid)
            t0 = time.perf_counter()
            out = wl.execute()
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(pid) - c0)
            wl.check(out)
            outs.append(out)
    return walls, cpus, outs, rss.peak_bytes


def wall_percentile(walls: list[float]) -> tuple[str, float]:
    """the highest percentile with at least ten samples beyond it, or
    the maximum when there are too few samples for any"""
    n = len(walls)
    if n < 20:
        return "max", max(walls)
    q = int(100 * (1 - 10 / n))
    return f"p{q}", statistics.quantiles(walls, n=100)[q - 1]


def end_to_end(setup_s, walls, cpus, outs, peak_bytes):
    """(metrics BENCHMARK.json declares, further figures printed only)"""
    m = {
        "setup_s": statistics.median(setup_s),
        "wall_s": statistics.median(walls),
        "docs_per_s": statistics.median(o.docs / w for o, w in zip(outs, walls)),
        "cpu_s_per_kdoc": statistics.median(c / o.docs * 1000 for o, c in zip(outs, cpus)),
    }
    label, value = wall_percentile(walls)
    attempted = sum(o.docs for o in outs)
    more = {
        f"wall_s.{label}": (value, "s"),
        "wall_s.samples": (len(walls), "count"),
        "cpu_s": (statistics.median(cpus), "s"),
        "peak_rss_mb": (peak_bytes / 1e6, "MB"),
        "error_rate": (sum(o.failed for o in outs) / attempted, "fraction"),
    }
    if outs[0].html_bytes:
        more["html_mb_per_s"] = (
            statistics.median(o.html_bytes / 1e6 / w for o, w in zip(outs, walls)), "MB/s")
    for key in outs[0].extra:
        more[key] = (statistics.median(o.extra[key] for o in outs), "ratio")
    return m, more


def report(spec_metrics: list[dict], values: dict, more: dict) -> dict:
    out = {}
    for spec in spec_metrics:
        out[spec["name"]] = {"value": float(values.pop(spec["name"], 0.0)), "unit": spec["unit"]}
        print(f"{spec['name']} = {out[spec['name']]['value']:.6g} {spec['unit']}")
    for name, (value, unit) in {**{k: (v, "") for k, v in values.items()}, **more}.items():
        print(f"{name} = {value:.6g} {unit}".rstrip())
    return out


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke tests run at a small one)")
    args = ap.parse_args(argv)

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        from perfbench.layers import Tracer
        from perfbench.spark_env import start_spark, stop_spark
        from perfbench.workloads import WrongOutput

        spark = start_spark(4, workdir, f"perfbench_{args.workload}")
        wl = make_workload(args.workload, spark, args.scale)
        try:
            setup_s = set_up(wl, workdir, args.seed, 1 if args.trace else wl.SETUPS)
            if args.trace:
                tracer = Tracer()
                values = wl.trace(tracer)
                more = {}
                attempted, failed = wl.TRACE_REPS * wl.docs, 0
                traces = os.path.join(ROOT, ".perfbench_traces")
                os.makedirs(traces, exist_ok=True)
                with open(os.path.join(
                        traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as f:
                    json.dump(tracer.spans, f)
            else:
                walls, cpus, outs, peak = closed_loop(wl, args.seconds)
                values, more = end_to_end(setup_s, walls, cpus, outs, peak)
                attempted = sum(o.docs for o in outs)
                failed = sum(o.failed for o in outs)
        except WrongOutput as e:
            print(f"WRONG OUTPUT: {e}", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        metrics = report(spec["per_layer" if args.trace else "end_to_end"], values, more)
        print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
