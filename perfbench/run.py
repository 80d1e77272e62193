#!/usr/bin/env python3
"""Benchmark of postpy_spark: one closed-loop client, one operation at a
time, on ``local[nproc]`` with the session ``get_spark()`` builds by
default.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 20 --trace 0

A run generates its inputs from ``--seed`` under ``.perfbench_work/<pid>``
in the checkout, starts Spark, imports the registered queries, runs one
untimed first pass (its results are checked against the oracles), then
``round(--seconds / nominal pass time)`` timed passes (at least three),
then the checks that need the whole run.  It prints one ``DETAIL`` line
(load context, tail percentile, per-pass figures, problems) and, last, one
JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's public functions (see ``perfbench/trace.py``), alternates traced
and untraced passes, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside ``work``
    and size the session to the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


class Ctx:
    """What workloads reach for: the seed, the work directory, and (once
    set up) the session and the query registry."""

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.spark = None
        self.reg = None


class Runner:
    def __init__(self, args, work: str) -> None:
        import numpy as np

        from perfbench import procstat, stats, trace, workloads

        self.np, self.procstat, self.stats, self.trace_mod = np, procstat, stats, trace
        self.args = args
        self.pid = os.getpid()
        self.cpu = procstat.TreeCpu(self.pid)
        self.tracer = trace.Tracer()
        self.traced_names = trace.install(self.tracer) if args.trace else []
        self.ctx = Ctx(args.seed, work)
        self.workload = workloads.make(args.workload, self.ctx)
        self.counters = None
        self.first_hash: dict[str, str] = {}
        self.attempted = 0
        self.problems: list[str] = []
        self.failed_ops = 0
        self.peak_rss: dict[str, float] = {}

    # -- one operation -----------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer.enabled else nullcontext()

    def run_op(self, op, first: bool) -> dict | None:
        from postpy_spark import testing

        procstat, stats = self.procstat, self.stats
        self.attempted += 1
        if self.tracer.enabled:
            self.counters.mark()
        cpu0 = self.cpu.read()
        e0 = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                if op.before is not None:
                    op.before()
                with self.span("queries.build") as b:
                    df = op.build()
                with self.span("queries.exec") as x:
                    rows = df.collect()
        except Exception:
            self.failed_ops += 1
            self.problems.append(f"{op.name}: raised\n{traceback.format_exc(limit=3)}")
            return None
        wall = time.perf_counter() - t0
        e1 = time.time() * 1000.0
        cpu = self.cpu.read() - cpu0
        for k, v in procstat.tree_peak_rss_mb(self.pid).items():
            self.peak_rss[k] = max(self.peak_rss.get(k, 0.0), v)
        rec = {"name": op.name, "wall": wall, "cpu": cpu, "start": e0, "end": e1}
        if self.tracer.enabled:
            rec["counters"] = self.counters.collect()
            rec["build"] = (b["start"], b["end"])
            rec["exec"] = (x["start"], x["end"])
        # checks, outside the timed region
        h = stats.row_hash(*testing.canon_rows(df.columns, rows))
        bad = []
        if first:
            self.first_hash[op.name] = h
            if op.check is not None:
                from perfbench.workloads import Result

                bad = op.check(Result(df, rows))
        elif self.first_hash.get(op.name) != h:
            bad = ["row hash differs from the first pass"]
        if bad:
            self.failed_ops += 1
            self.problems.extend(f"{op.name}: {p}" for p in bad)
        return rec

    def run_pass(self, rng, first: bool = False, traced: bool = False) -> dict:
        self.workload.start_pass()
        self.tracer.reset()
        self.tracer.enabled = traced
        try:
            recs = [r for op in self.workload.pass_ops(rng) if (r := self.run_op(op, first))]
        finally:
            self.tracer.enabled = False
        return {
            "traced": traced,
            "ops": recs,
            "wall": sum(r["wall"] for r in recs),
            "cpu": sum(r["cpu"] for r in recs),
            "spans": [s for s in self.tracer.spans if s["end"] is not None],
        }

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        from postpy_spark import registry, session

        args, np = self.args, self.np
        t = time.perf_counter()
        self.workload.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = session.get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        reg = registry.load_all()
        load_all_s = time.perf_counter() - t
        self.ctx.spark, self.ctx.reg = spark, reg
        if args.trace:
            self.counters = self.trace_mod.SparkCounters(spark)
        # Warm-up: the first pass runs the operations in their listed order,
        # so its cold-start cost does not depend on which one the seed puts
        # first, and is checked against the oracles.
        first = self.run_pass(None, first=True)
        setup_s = get_spark_s + load_all_s + first["wall"]

        # Timed passes in seeded orders.  Their number is fixed by
        # ``--seconds`` and the workload's nominal pass time, not by the
        # clock: the JVM keeps warming for minutes and the machine's speed
        # drifts, so a clock-decided count would change how many passes, and
        # how warm a state, a run reports.  At least three, so the median
        # pass is not the one a burst of outside load hit.
        rng = np.random.default_rng([args.seed, 3])
        n_passes = max(4 if args.trace else 3, round(args.seconds / self.workload.nominal_pass_s))
        passes = []
        t_start = time.perf_counter()
        for i in range(n_passes):
            # traced runs trace passes in the pattern T U U T: two traced
            # passes show whether counters repeat, and under a steady warm-up
            # trend both kinds see the same mean warmth
            passes.append(self.run_pass(rng, traced=bool(args.trace) and i % 4 in (0, 3)))
        timed_s = time.perf_counter() - t_start
        t = time.perf_counter()
        for twin, bad in self.workload.final_checks().items():
            self.attempted += 1
            if bad:
                self.failed_ops += 1
                self.problems.extend(f"{twin}: {p}" for p in bad)
        phases = {
            "prepare_s": prepare_s,
            "get_spark_s": get_spark_s,
            "load_all_s": load_all_s,
            "first_pass_s": first["wall"],
            "timed_s": timed_s,
            "final_checks_s": time.perf_counter() - t,
        }
        return {
            "phases": {k: round(v, 3) for k, v in phases.items()},
            "setup_s": setup_s,
            "get_spark_s": get_spark_s,
            "load_all_s": load_all_s,
            "first": first,
            "passes": passes,
        }

    # -- metrics -------------------------------------------------------------
    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        passes = res["passes"]
        lat = [r["wall"] for p in passes for r in p["ops"]]
        m = {
            "setup_s": (res["setup_s"], "s"),
            "wall_s": (statistics.median(p["wall"] for p in passes), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
        }
        # the tail exists only once ten samples lie beyond it
        t = self.stats.tail(lat)
        tail = {"samples": len(lat)} if t is None else {"value_s": t[0], "percentile": t[1], "samples": t[2]}
        return m, {"op_tail": tail, "peak_rss_mb": {k: round(v, 1) for k, v in self.peak_rss.items()}}

    def per_layer(self, res: dict) -> tuple[dict, dict]:
        from perfbench.layers import pass_layers

        traced = [p for p in res["passes"] if p["traced"]]
        plain = [p for p in res["passes"] if not p["traced"]]
        per_pass = [pass_layers(p, self.workload) for p in traced]
        m = {k: (statistics.mean(pp[k][0] for pp in per_pass), unit) for k, (_, unit) in per_pass[0].items()}
        m["session.get_spark_s"] = (res["get_spark_s"], "s")
        m["registry.load_all_s"] = (res["load_all_s"], "s")
        tw = statistics.median(p["wall"] for p in traced)
        uw = statistics.median(p["wall"] for p in plain)
        m["trace.overhead_frac"] = (tw / uw - 1.0, "ratio")
        for k, v in self.peak_rss.items():
            m[f"proc.{k}_peak_rss_mb"] = (v, "MiB")
        repeat = {k: [pp[k][0] for pp in per_pass] for k in ("queries.build_jobs", "spark.jobs")}
        per_op: dict[str, dict] = {}
        for p in traced:
            for r in p["ops"]:
                c = r["counters"]
                d = per_op.setdefault(r["name"], {"jobs": [], "task_cpu_s": [], "python_bytes": []})
                for k in d:
                    d[k].append(round(c[k], 3))
        return m, {"per_pass": repeat, "per_op": per_op, "traced_functions": len(self.traced_names)}


def shutdown() -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process the run started has ended."""
    from perfbench import procstat

    me = os.getpid()
    started = [p for p in procstat.descendants(me) if p != me]
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if procstat.is_alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while [p for p in alive if procstat.is_alive(p)]:
        time.sleep(0.1)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests."""
    total = end[1] - start[1]
    return round((end[0] - start[0]) / total, 4) if total else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "postpy_spark", "__init__.py")):
        print(f"perfbench: no postpy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat, workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    # a TERM still runs the clean-up below, which ends Spark's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    load_start = procstat.load_context()
    ticks_start = procstat.cpu_ticks()
    try:
        isolate(work)
        runner = Runner(args, work)
        res = runner.run()
        if args.trace:
            metrics, detail = runner.per_layer(res)
        else:
            metrics, detail = runner.end_to_end(res)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    attempted, failed = runner.attempted, min(runner.failed_ops, runner.attempted)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        passes=len(res["passes"]),
        phases=res["phases"],
        first_pass_op_s={r["name"]: round(r["wall"], 3) for r in res["first"]["ops"]},
        op_median_s={
            name: round(statistics.median(r["wall"] for p in res["passes"] for r in p["ops"] if r["name"] == name), 3)
            for name in dict.fromkeys(r["name"] for p in res["passes"] for r in p["ops"])
        },
        pass_wall_s=[round(p["wall"], 4) for p in res["passes"]],
        error_rate=failed / attempted,
        problems=runner.problems[:20],
        load_start=load_start,
        load_end=procstat.load_context(),
        steal_frac=steal_share(ticks_start, procstat.cpu_ticks()),
    )
    print("DETAIL " + json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
