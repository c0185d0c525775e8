"""gg2rdf-spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload bulk_build --seed 3 --seconds 30 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer metrics, derived from Spark's event log.  Earlier stdout
lines are diagnostics (box-speed control, generator lateness, tracing
overhead).  All scratch data goes under ``.perfbench_run/`` in the
working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


class Context:
    """Per-run state handed to a workload."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.diag: dict = {}
        self._lock = threading.Lock()

    def span(self, name: str):
        return self.tracer.span(name)

    def count_op(self) -> None:
        with self._lock:
            self.attempted += 1

    def op_failed(self, what: str) -> None:
        with self._lock:
            self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(f"check failed: {what}")


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _layer_metrics(ctx, extras: dict) -> dict:
    """Every per-layer metric of every workload; spans and extras that
    this workload does not exercise read 0."""
    import evlog
    from workloads import ALL_SPANS, EXTRAS

    ev_dir = os.path.join(ctx.run_dir, "eventlog")
    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    log = evlog.load(logs[0])
    per_span = evlog.attribute(log, ctx.tracer.spans)
    agg: dict[str, dict] = {}
    for s in ctx.tracer.spans:
        c = per_span[s.span_id]
        a = agg.setdefault(s.name, {"task_ms": [], "n_jobs": 0,
                                    **{k: 0.0 for k in evlog.CORE}})
        for k in evlog.CORE:
            a[k] += c[k]
        a["task_ms"] += c["task_ms"]
        a["n_jobs"] += c["n_jobs"]
    out: dict[str, dict] = {}
    for name in ALL_SPANS:
        a = agg.get(name, {})
        for k, unit in evlog.CORE.items():
            out[f"{name}.{k}"] = {"value": a.get(k, 0), "unit": unit}
    link = agg.get("linking.link_mentions_salted", {}).get("task_ms") or [0]
    median = evlog.percentile(link, 0.5)
    totals = evlog.totals(log)
    out.update({
        "canonicalize.connected_components.n_jobs": {
            "value": agg.get("canonicalize.connected_components", {})
            .get("n_jobs", 0), "unit": "count"},
        "linking.link_mentions_salted.max_task_ratio": {
            "value": max(link) / median if median else 0, "unit": "ratio"},
        "spark.failed_tasks": {"value": totals["failed_tasks"],
                               "unit": "count"},
        "spark.spill_mb": {"value": totals["spill_mb"], "unit": "MB"},
    })
    for name, unit in EXTRAS.items():
        out[name] = {"value": extras.get(name, 0), "unit": unit}
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import gg2rdf_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}; run from the "
              "repository root", file=sys.stderr)
        return 2

    import workloads
    import harness
    from corpus import SeedError

    if args.workload not in workloads.ALL:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.ALL)}", file=sys.stderr)
        return 2
    wl = workloads.ALL[args.workload]()
    run_dir = harness.fresh_dir(os.path.join(ROOT, ".perfbench_run",
                                             args.workload))
    # python workers and the JVM inherit these; keep every temp file in
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = run_dir
    # every JVM (the launcher too) would otherwise write a perf-data file
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    import tempfile
    tempfile.tempdir = None

    ctx = Context(args, run_dir)
    phase = {}
    t_prep = time.perf_counter()
    try:
        wl.prepare(ctx)  # seeded inputs + oracles, before the session
    except SeedError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    diag: dict = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace}
    t0 = time.perf_counter()
    phase["prepare"] = t0 - t_prep
    ctx.spark = harness.start_session(run_dir, ctx.trace)
    from pyspark import SparkContext
    sampler = harness.MemorySampler(SparkContext._gateway.proc.pid)
    ctx.tracer = harness.Tracer(ctx.spark, ctx.trace)
    session_s = time.perf_counter() - t0
    metrics: dict = {}
    ok = False
    try:
        diag["control_py_start_s"] = harness.py_control_s()
        t2 = time.perf_counter()
        e2e = wl.measure(ctx)
        phase["measure"] = time.perf_counter() - t2
        diag["control_py_end_s"] = harness.py_control_s()
        diag["control_drift"] = (diag["control_py_end_s"]
                                 / diag["control_py_start_s"])
        diag["control_spark_end_s"] = harness.control_s(ctx.spark)
        e2e["setup_s"] = (session_s, "s")
        e2e["peak_rss_mb"] = (sampler.stop(), "MB")
        t3 = time.perf_counter()
        wl.verify(ctx)
        phase["verify"] = time.perf_counter() - t3
        extras = wl.layer_extras(ctx) if ctx.trace else {}
        diag.update(ctx.diag)
        ok = not ctx.errors and ctx.failed == 0
    except Exception:
        ctx.op_failed("workload")
    finally:
        sampler.stop()
        t4 = time.perf_counter()
        harness.stop_session(ctx.spark)
        phase["stop"] = time.perf_counter() - t4
    for e in ctx.errors:
        print(e, file=sys.stderr)
    if ok:
        if ctx.trace:
            metrics = _layer_metrics(ctx, extras)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        diag["e2e"] = {k: v for k, (v, _) in e2e.items()}
        overhead = _tracing_overhead(run_dir, args, diag["e2e"])
        if overhead:
            diag["tracing_overhead"] = overhead
    diag["phase_s"] = phase
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": ok, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if ok else 1


def _tracing_overhead(run_dir: str, args, e2e: dict) -> dict:
    """Keeps the latest untraced end-to-end figures per (workload, seed)
    beside the run directory; a traced run reports traced - untraced."""
    path = os.path.join(os.path.dirname(run_dir),
                        f"e2e_{args.workload}_{args.seed}.json")
    if not args.trace:
        with open(path, "w") as f:
            json.dump(e2e, f)
        return {}
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)
    return {k: e2e[k] - base[k] for k in e2e if k in base}


if __name__ == "__main__":
    sys.exit(main())
