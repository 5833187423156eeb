#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 18 --trace 0

``--trace 0`` prints the end-to-end metrics listed in BENCHMARK.json;
``--trace 1`` runs the same workload with spans and prints the per-layer
metrics. The last line of stdout is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the exit code is 0 only when every output check passed. A full run
record (versions, heap, per-op times, steal) is written under
``perfbench/.runs/``.

The workload runs in a child process in its own process group, so the
Spark JVM and its Python workers are always stopped and waited for, even
on a timeout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_upsert", "graph_fold")
CHILD_TIMEOUT_S = 170


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", metavar="RESULT_FILE", help=argparse.SUPPRESS)
    return ap


def _metric_specs(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Context:
    """What a workload gets: the session, the tracer, its inputs' seed and
    size, a work directory, and the timed-region brackets."""

    def __init__(self, args, spark, tracer, work, t_start):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = args.seed, args.seconds
        self.setup_s = None
        self.cpu_s = self.steal_s = None
        self._t_start = t_start
        self.marks: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when a set-up phase ended (seconds since start)."""
        self.marks[phase] = time.perf_counter() - self._t_start

    def begin_timed(self) -> None:
        import harness

        self.mark("setup")
        self.setup_s = self.marks["setup"]
        self._cpu0 = harness.tree_cpu_s(os.getpid())
        self._steal0 = harness.steal_s()
        self.tracer.begin()

    def ops_done(self) -> None:
        """End of the timed ops; the timed query pass follows. CPU per
        op is read over the ops alone."""
        import harness

        self.cpu_s = harness.tree_cpu_s(os.getpid()) - self._cpu0

    def end_timed(self) -> None:
        import harness

        self.tracer.end()
        self.mark("timed")
        self.steal_s = harness.steal_s() - self._steal0


def child(args) -> int:
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "agrobr_spark")):
        print(f"perfbench: no agrobr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness

    specs = _metric_specs(args.trace)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    tracer = harness.Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work, cores)
        tracer.record("session.get_spark", t0, time.perf_counter())
        tracer.attach(spark)
        ctx = Context(args, spark, tracer, work, t_start)
        ctx.mark("session")
        if args.workload == "ingest_upsert":
            import ingest_upsert as workload
        else:
            import graph_fold as workload
        res = workload.run(ctx)
        e2e = {
            "setup_s": ctx.setup_s,
            "op_cpu_s": ctx.cpu_s / res["ops"],
            **res["end_to_end"],
        }
        layer = {}
        if args.trace:
            layer = {
                **{k: v for k, v in tracer.layer_metrics(cores).items() if k in specs},
                **{k: tracer.counts.get(k, 0) for k in specs if k.endswith((".rows_in", ".rows_out"))},
                **res["layer"],
                "session.jvm_peak_rss_mb": harness.peak_rss_mb(harness.jvm_pid(os.getpid())),
                "host.steal_s": ctx.steal_s,
                **{f"traced.{k}": v for k, v in e2e.items()},
            }
        values = layer if args.trace else e2e
        unknown = sorted(set(values) - set(specs))
        missing = sorted(set(specs) - set(values))
        if unknown or (missing and not args.trace):
            raise RuntimeError(f"metrics unknown: {unknown}, not produced: {missing}")
        # a per-layer counter of the other workload's layers reads 0 here
        values = {**dict.fromkeys(missing, 0), **values}
        result = {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": values[k], "unit": u} for k, u in specs.items()},
        }
        ctx.mark("reported")
        record = harness.run_record(spark, args, cores, {
            "attempted": res["attempted"],
            "failed": res["failed"],
            "host.steal_s": ctx.steal_s,
            "end_to_end": e2e,
            "per_layer": layer,
            "phase_end_s": ctx.marks,
            **res["record"],
        })
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["phase_end_s"]["stopped"] = time.perf_counter() - t_start
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    with open(args.child, "w") as f:
        json.dump(result, f)
    return 0


def _reap_group(pgid: int) -> None:
    """Kill whatever is left in the child's process group and wait until
    it is gone (the JVM is not our child, so poll /proc)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = _parser().parse_args(argv)
    if args.child:
        return child(args)
    if not os.path.isdir(os.path.join(ROOT, "agrobr_spark")):
        print(f"perfbench: no agrobr_spark package under {ROOT}", file=sys.stderr)
        return 2
    result_file = os.path.join(HERE, ".runs", f"result-{os.getpid()}.json")
    os.makedirs(os.path.dirname(result_file), exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--child", result_file],
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        code = 3
    _reap_group(proc.pid)
    proc.wait()
    if code != 0 or not os.path.exists(result_file):
        return code or 4
    with open(result_file) as f:
        result = json.load(f)
    os.remove(result_file)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
