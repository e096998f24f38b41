"""One benchmark run of one workload, in one driver process.

Started by ``run.py``, which samples this process tree's memory and
owns the time limit. This process builds the Spark session, runs the
workload as a closed loop with one client (each round or query is issued
after the previous one returns), checks every output, and prints one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 1`` the engine's layer entry points are wrapped in spans
(:mod:`spans`), Spark jobs are read per operation from the status store,
and the metrics are the per-layer ones. The spans go to
``_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

from common import ROOT, log, work_dir

sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import spans as tr  # noqa: E402

# The engine's default session asks for a 24 GB heap. The benchmark's box
# is shared, and below the cap the heap grows with GC timing, which made
# peak RSS swing 3-9 GB between runs of one workload. Each workload gets
# the smallest cap it runs well in: with 2 GB, operator_queries' peak RSS
# spread (quartile distance over median) was 0.11-0.24 over ten seeds,
# with 1 GB 0.09.
DRIVER_MEMORY = {"crawl_steady": "4g", "crawl_polite": "2g",
                 "operator_queries": "1g"}


class Op:
    """One timed operation: a crawl round, an export or a query."""

    def __init__(self, name: str, kind: str):
        self.name = name
        self.kind = kind
        self.t0_ms = time.time() * 1e3
        self.wall: float | None = None
        self.jobs: list[tr.JobStats] = []
        self.gaps = 0
        self.info: dict = {}


class Context:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, params: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.params = params
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                         or os.cpu_count() or 1)
        self.tracer = tr.Tracer() if trace else None
        self.window: tr.SparkWindow | None = None
        self.spark = None
        self.setup_parts: dict[str, float] = {}
        self.cache_build_s = 0.0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    @contextmanager
    def setup_step(self, name: str):
        """Time one set-up step, less any cold cache build inside it."""
        built0 = self.cache_build_s
        t0 = time.perf_counter()
        with self.span(f"setup.{name}"):
            yield
        self.setup_parts[name] = (time.perf_counter() - t0
                                  - (self.cache_build_s - built0))

    @contextmanager
    def cache_build(self, what: str):
        t0 = time.perf_counter()
        log(f"building cached inputs: {what}")
        with self.span(f"cache.{what}"):
            yield
        self.cache_build_s += time.perf_counter() - t0

    def end_setup(self) -> None:
        self.metrics["setup_s"] = sum(self.setup_parts.values())

    # -- operations -----------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield None
        else:
            with self.tracer.span(name) as sp:
                yield sp

    @contextmanager
    def op(self, name: str, kind: str):
        """Time one operation; traced runs also collect its Spark jobs."""
        op = Op(name, kind)
        self.ops.append(op)
        if self.tracer is None:
            yield op
            return
        if self.window is None:
            self.window = tr.SparkWindow(self.spark)
        try:
            with self.tracer.span(name, op=name):
                yield op
        finally:
            t0 = time.perf_counter()
            op.jobs, op.gaps = self.window.collect()
            self.tracer.overhead_s += time.perf_counter() - t0

    def fail(self, problem: str) -> None:
        self.failed += 1
        log(f"FAILED: {problem}")

    # -- traced-run reductions -------------------------------------------
    def span_self_s(self, name: str, op: str | None = None) -> list[float]:
        """Self times of the spans called ``name`` (within ``op``)."""
        st = self.tracer.self_times()
        return [st[s.id] for s in self.tracer.spans
                if s.name == name and (op is None or s.op == op)]


def build_session(ctx: Context):
    from x227f_spark import session

    if ctx.tracer is not None:
        ctx.tracer.wrap(session, "_prewarm", "session.prewarm")
    extra = dict(tr.TRACED_SPARK_CONF) if ctx.trace else {}
    # Spark's scratch dir stays inside the checkout, in the run's own dir
    extra["spark.local.dir"] = os.path.join(
        os.environ.get("TMPDIR") or work_dir("tmp"), "spark-local")
    with ctx.setup_step("session"), ctx.span("session.get_spark"):
        ctx.spark = session.get_spark(
            cores=ctx.cores, app_name="x227f_perfbench", extra_conf=extra,
            driver_memory=DRIVER_MEMORY[ctx.workload])
    if ctx.tracer is not None:
        ctx.layers["session.get_spark_s"] = ctx.setup_parts["session"]
        ctx.layers["session.prewarm_s"] = sum(
            s.duration for s in ctx.tracer.spans
            if s.name == "session.prewarm")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result(ctx: Context, spec: dict) -> dict:
    """The run's JSON line. ``peak_rss_mb`` is added by run.py."""
    ctx.layers["ops_failed_ratio"] = ctx.failed / max(ctx.attempted, 1)
    if ctx.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = ctx.layers
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]
                 if m["name"] != "peak_rss_mb"]
        values = ctx.metrics
    return {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in names},
    }


def write_trace(ctx: Context) -> str:
    path = os.path.join(work_dir("traces"),
                        f"{ctx.workload}-seed{ctx.seed}.json")
    ops = [{"name": o.name, "kind": o.kind, "wall_s": o.wall,
            "job_id_gaps": o.gaps, "jobs": len(o.jobs), **o.info,
            **tr.totals(o.jobs)} for o in ctx.ops]
    with open(path, "w") as f:
        json.dump({"workload": ctx.workload, "seed": ctx.seed,
                   "layers": ctx.layers, "ops": ops,
                   "spans": ctx.tracer.to_json()}, f, indent=1)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--params", default="{}",
                    help="JSON overrides of workload parameters")
    ap.add_argument("--prepare", action="store_true",
                    help="only build the cached inputs")
    args = ap.parse_args(argv)

    import crawl
    import queries

    module = queries if args.workload == "operator_queries" else crawl
    spec = load_spec()
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  json.loads(args.params))
    if args.prepare:
        try:
            if module is crawl:  # the crawl snapshot is built by the engine
                build_session(ctx)
            module.prepare(ctx)
        finally:
            if ctx.spark is not None:
                ctx.spark.stop()
        log(f"inputs built in {ctx.cache_build_s:.1f} s")
        return 0
    try:
        build_session(ctx)
        module.run(ctx)
        if ctx.tracer is not None:
            ctx.tracer.restore()
            ctx.layers["trace.overhead_s"] = ctx.tracer.overhead_s
            ctx.layers["spark.job_id_gaps"] = sum(o.gaps for o in ctx.ops)
            log(f"spans written to {write_trace(ctx)}")
        log(f"cache build (not in setup_s): {ctx.cache_build_s:.1f} s; "
            f"set-up parts: " + ", ".join(
                f"{k} {v:.2f} s" for k, v in ctx.setup_parts.items()))
        # run.py stops the process group once it has read this line
        print(json.dumps(result(ctx, spec)), flush=True)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
