#!/usr/bin/env python3
"""The repository benchmark: one client, one Spark action at a time.

    python3 perfbench/run.py --workload migration --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Set-up starts the engine's session
on ``local[<cpus>]`` with its default configuration, builds the
workload's inputs from ``--seed`` (several times, keeping the median)
and runs one untimed warm-up. It then times whole iterations for about
``--seconds`` seconds, checks the outputs, and prints one JSON object
as the last line of standard output: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` it also runs one traced iteration
and prints the per-layer metrics instead, and writes the spans to
``.perfbench_out/``. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mongodb_etl_migration_spark"

# set-up repeats its input staging this many times and keeps the median
STAGINGS = 3
WORKLOADS = ("migration", "catalog_headline")
# a traced iteration's child spans must cover this share of its time
RECONCILE = 0.10

SINK_OUTPUTS = (
    "role",
    "province",
    "municipality",
    "parroquia",
    "user",
    "users_cassandra",
    "room_details",
    "organizations",
    "rooms_by_mongo",
    "messages_by_room",
    "room_by_message",
    "participants_by_room",
    "room_membership_lookup",
    "p2p_room_by_users",
    "rooms_by_user",
    "room_membership_lookup_updated",
    "profession",
    "user_professions",
    "channel",
    "live",
    "docs",
    "docs_roles",
)

END_TO_END = {"setup_s": "s", "iteration_s": "s"}


def per_layer_units(queries) -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "fixtures.generate_s": "s",
        "sources.read_s": "s",
        "pipeline.build_s": "s",
        "pipeline.build_jobs": "count",
        "sink.write_s": "s",
        "sink.bytes": "bytes",
        "sink.rows": "count",
        "catalog.construct_s": "s",
        "catalog.exec_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "catalyst.analysis_s": "s",
        "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "trace.overhead_s": "s",
        "trace.unattributed_share": "fraction",
        "process.cpu_s": "s",
        "process.peak_rss_mb": "MB",
        "op.p50_s": "s",
    }
    for out in SINK_OUTPUTS:
        units[f"sink.{out}_s"] = "s"
    for q in queries:
        units[f"query.{q}.construct_s"] = "s"
        units[f"query.{q}.exec_s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: its session, workload, samples and checks."""

    def __init__(self, args, workdir: Path) -> None:
        self.args = args
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    def op(self, name: str, fn):
        """Run one counted operation; a raised error counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def record_checks(self, results) -> None:
        for name, ok, detail in results:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{name}: {detail}")

    def check(self, wl) -> None:
        results = self.op("check", wl.check)
        if results is not None:
            self.attempted -= 1  # counted per check below instead
            self.record_checks(results)

    def start(self, tracer) -> float:
        with tracer.span("session.start") as s:
            from mongodb_etl_migration_spark import get_spark

            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        return s.duration

    def workload(self, tracer):
        if self.args.workload == "migration":
            from perfbench.migration import Migration as cls
        else:
            from perfbench.catalog import CatalogHeadline as cls
        return cls(self.spark, str(self.workdir), self.args.seed, tracer)

    def iterate(self, wl, tracer, traced: bool, name: str = "iteration"):
        """One iteration, its per-operation samples and CPU seconds."""
        from perfbench.tracer import tree_cpu_s

        wl.reset()
        tracer.iteration += 1
        cpu0 = tree_cpu_s(os.getpid())
        with tracer.span(name) as it:
            samples = self.op(name, lambda: wl.iteration(traced))
        cpu = tree_cpu_s(os.getpid()) - cpu0
        if samples is not None:
            self.attempted += len(samples)
        return it, samples or [], cpu

    def execute(self) -> dict:
        from perfbench.tracer import (
            SparkCounters,
            Tracer,
            peak_rss_mb,
            percentile_with_tail,
            process_tree,
        )

        args = self.args
        tracer = Tracer()
        t_setup = time.perf_counter()
        session_s = self.start(tracer)
        wl = self.workload(tracer)
        stagings = [self.op("stage", wl.stage) for _ in range(STAGINGS)]
        stagings = [s for s in stagings if s is not None]
        if not stagings:
            raise RuntimeError("set-up failed:\n" + "\n".join(self.failures))
        staged = {
            k: statistics.median(s[k] for s in stagings) for k in stagings[0]
        }
        stage_s = statistics.median(
            sum(v for k, v in s.items() if k.endswith("_s")) for s in stagings
        )
        setup_s = session_s + stage_s
        setup_elapsed = time.perf_counter() - t_setup

        # timed iterations, the first one cold, until --seconds is spent
        iters, ops, cpus = [], [], []
        t0 = time.perf_counter()
        while not iters or time.perf_counter() - t0 < args.seconds:
            it, samples, cpu = self.iterate(wl, tracer, False)
            iters.append(it.duration)
            ops.extend(sec for _, sec in samples)
            cpus.append(cpu)

        traced = {}
        if args.trace:
            # the traced iteration between two warm untraced ones: its
            # excess over their mean is what tracing costs
            counters = SparkCounters(self.spark)
            wl.counters = counters
            before, _, _ = self.iterate(wl, tracer, False, "iteration.reference")
            mark = counters.mark()
            it, _, _ = self.iterate(wl, tracer, True, "iteration.traced")
            spark_counts = counters.since(mark)
            after, _, _ = self.iterate(wl, tracer, False, "iteration.reference")
            traced = self.layer_metrics(
                tracer, it, spark_counts, (before.duration + after.duration) / 2
            )
            if args.workload == "migration":
                traced["sources.read_s"] = self.op("scan", wl.source_scan) or 0.0
        self.check(wl)
        sink = wl.sink_stats()

        tail, tail_pct = percentile_with_tail(ops)
        jvm = [p for p in process_tree(os.getpid()) if _comm(p) == "java"]
        peak_rss = peak_rss_mb([os.getpid()] + jvm)
        end_to_end = {"setup_s": setup_s, "iteration_s": statistics.median(iters)}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": self.spark.sparkContext.defaultParallelism,
            "iterations": len(iters),
            "iteration_s_all": iters,
            "cpu_s": statistics.median(cpus),
            "op_samples": len(ops),
            "op_p50_s": statistics.median(ops),
            "op_tail_s": tail,
            "op_tail_percentile": tail_pct,
            "setup_elapsed_s": setup_elapsed,
            "peak_rss_mb": peak_rss,
            "failed_share": self.failed / max(self.attempted, 1),
            "failures": self.failures[:20],
        }
        if args.trace:
            layer = {k: 0.0 for k in per_layer_units(_queries())}
            layer["session.start_s"] = session_s
            layer["process.cpu_s"] = statistics.median(cpus)
            layer["process.peak_rss_mb"] = peak_rss
            layer["op.p50_s"] = statistics.median(ops)
            layer.update({k: v for k, v in staged.items() if k in layer})
            layer.update(traced)
            layer.update({k: v for k, v in sink.items() if k in layer})
            detail["stagings"] = stagings
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            spans = out / f"{args.workload}-seed{args.seed}-spans.jsonl"
            tracer.dump(str(spans))
            detail["spans"] = str(spans.relative_to(ROOT))
            metrics = _with_units(layer, per_layer_units(_queries()))
        else:
            metrics = _with_units(end_to_end, END_TO_END)
        print(json.dumps({"detail": detail, "end_to_end": end_to_end}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def layer_metrics(self, tracer, root, spark_counts, untraced_s) -> dict:
        """Per-layer numbers of one traced iteration."""
        out = dict(spark_counts)
        spans = tracer.subtree(root)
        for s in spans:
            for k, v in s.counts.items():
                if k.startswith("catalyst."):
                    out[k] = out.get(k, 0.0) + v
        for s in tracer.children(root):
            if s.name == "pipeline.build":
                out["pipeline.build_s"] = s.duration
                out["pipeline.build_jobs"] = s.counts.get("jobs", 0)
            elif s.name.startswith("sink."):
                out[f"{s.name}_s"] = s.duration
                out["sink.write_s"] = out.get("sink.write_s", 0.0) + s.duration
            elif s.name.startswith("query."):
                kids = {c.name: c.duration for c in tracer.children(s)}
                construct = kids.get("catalog.construct", 0.0)
                execute = kids.get("catalog.exec", 0.0)
                out[f"{s.name}.construct_s"] = construct
                out[f"{s.name}.exec_s"] = execute
                out[f"{s.name}.jobs"] = s.counts.get("jobs", 0)
                out["catalog.construct_s"] = out.get("catalog.construct_s", 0.0) + construct
                out["catalog.exec_s"] = out.get("catalog.exec_s", 0.0) + execute
        unattributed = tracer.self_time(root) / root.duration
        out["trace.unattributed_share"] = unattributed
        out["trace.overhead_s"] = root.duration - untraced_s
        self.record_checks(
            [
                (
                    "trace.reconcile",
                    unattributed <= RECONCILE,
                    f"child spans leave {unattributed:.3f} of the iteration",
                )
            ]
        )
        return out


def _queries():
    from perfbench.catalog import HEADLINE

    return HEADLINE


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    child process has ended."""
    from perfbench.tracer import process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline and len(process_tree(os.getpid())) > 1:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_dir():
        print(f"no program to measure: {PACKAGE.name}/ is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cpus = len(os.sched_getaffinity(0))
    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    workdir.mkdir(parents=True)
    # keep every file the run writes inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData"
    )
    (workdir / "tmp").mkdir()
    os.chdir(workdir)
    run = Run(args, workdir)
    try:
        result = run.execute()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
