"""Run plumbing shared by the workloads: the Spark session, process-tree
CPU and host steal from ``/proc``, the span tracer with job-tag
attribution, and the run record.

Spans are opened by the benchmark around its own calls into each layer
(plus ``ParquetStore.merge_upsert``, wrapped for the traced run so the
merges inside the kNN folds get spans too). Each span sets one Spark job
tag, ``pb:<span name>``, on the calling thread; the engine's thread
pools inherit it through ``session.thread_target``. After the timed
region Spark's status REST API is read once, and every job
submitted inside the region is charged to the span whose tag it carries.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import platform
import subprocess
import threading
import time
import urllib.request

import catalog

TAG_PREFIX = "pb:"
CLK_TCK = os.sysconf("SC_CLK_TCK")

#: spans reported as per-layer metrics, named <layer>.<call>
LAYER_SPANS = (
    "session.get_spark",
    "sources.read_csv_ptbr",
    "contracts.validate",
    "validators.sanity_check",
    "store.merge_upsert",
    "store.query",
    "operators.knn_store.edges",
    "operators.knn_store.labels",
    "operators.knn_store.ranks",
    "operators.knn_store.read",
    *catalog.SPANS,
)
SPAN_COUNTERS = (
    "wall_s", "calls", "jobs", "stages", "tasks",
    "busy_s", "busy_frac", "shuffle_bytes", "failed_tasks",
)


# ------------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rfind(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the benchmark process, the JVM and its Python
    workers: user+system of every live process in the tree plus the
    reaped-children totals each one carries (a worker that exits is
    counted in its parent's cutime, so nothing is lost or doubled)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def steal_s() -> float:
    """Host-wide steal time from /proc/stat's aggregate cpu line, read
    the way bench.py reads it (field 8, jiffies)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                parts = line.split()
                return int(parts[8]) / CLK_TCK if len(parts) > 8 else 0.0
    return 0.0


def jvm_pid(root: int) -> int | None:
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------- session

HEAP = "3g"


def start_session(work: str, cores: int):
    """``agrobr_spark.session.get_spark`` on ``local[cores]`` with the
    JVM heap pinned, and every scratch path (Spark local dirs, JVM and
    Python temp files, warehouse) inside ``work`` — the same filesystem
    as the stores the workloads write."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    import tempfile

    tempfile.tempdir = None  # pick up TMPDIR

    from agrobr_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of the run back
            # from the status API; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- tracer


class _Span:
    __slots__ = ("name", "parent", "t0", "t1", "children")

    def __init__(self, name, parent, t0):
        self.name, self.parent, self.t0 = name, parent, t0
        self.t1 = None
        self.children: list[_Span] = []


class Tracer:
    """Spans with Spark job tags. Disabled, ``span`` is a bare timer-free
    context manager and nothing is wrapped, so the untraced run pays
    nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[_Span] = []
        self._open: dict[str, list[_Span]] = {}
        self._lock = threading.Lock()
        self._t0 = self._t1 = None  # timed region, perf_counter
        self._w0 = self._w1 = None  # timed region, epoch seconds
        self.counts: dict[str, float] = {}

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        if self.enabled:
            self._wrap_merge_upsert()

    def add(self, key: str, value: float) -> None:
        """Accumulate a row or state counter (timed region only)."""
        if self._t0 is not None and self._t1 is None:
            self.counts[key] = self.counts.get(key, 0) + value

    def record(self, name: str, t0: float, t1: float) -> None:
        s = _Span(name, None, t0)
        s.t1 = t1
        self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.sc
        prev = [t for t in sc.getJobTags() if t.startswith(TAG_PREFIX)]
        with self._lock:
            stack = self._open.get(prev[0][len(TAG_PREFIX):]) if prev else None
            parent = stack[-1] if stack else None
            s = _Span(name, parent, time.perf_counter())
            self._open.setdefault(name, []).append(s)
        for t in prev:
            sc.removeJobTag(t)
        sc.addJobTag(TAG_PREFIX + name)
        try:
            yield
        finally:
            sc.removeJobTag(TAG_PREFIX + name)
            for t in prev:
                sc.addJobTag(t)
            s.t1 = time.perf_counter()
            with self._lock:
                self._open[name].remove(s)
                if parent is not None:
                    parent.children.append(s)
                self.spans.append(s)

    def _wrap_merge_upsert(self) -> None:
        from agrobr_spark.store.table import ParquetStore

        inner = ParquetStore.merge_upsert
        tracer = self

        def merge_upsert(store, staging, *args, **kwargs):
            with tracer.span("store.merge_upsert"):
                n = inner(store, staging, *args, **kwargs)
            tracer.add("store.merge_upsert.rows_in", n)
            return n

        ParquetStore.merge_upsert = merge_upsert

    # -- timed region ---------------------------------------------------

    def begin(self) -> None:
        self._t0, self._w0 = time.perf_counter(), time.time()

    def end(self) -> None:
        self._t1, self._w1 = time.perf_counter(), time.time()

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Per-span counters over the timed region, plus
        ``unattributed_jobs``. Reads the status API once."""
        t0, t1, w0, w1 = self._t0, self._t1, self._w0, self._w1
        out: dict[str, float] = {}
        for name in LAYER_SPANS:
            for c in SPAN_COUNTERS:
                out[f"{name}.{c}"] = 0
        for s in self.spans:
            # session.get_spark precedes the region by construction
            if s.name != "session.get_spark" and not (t0 <= s.t0 and s.t1 <= t1):
                continue
            if s.name in LAYER_SPANS:
                out[f"{s.name}.wall_s"] += _self_time(s)
                out[f"{s.name}.calls"] += 1
        jobs, stages = _status(self.sc)
        region = [
            j for j in jobs
            if j.get("submissionTime") and w0 * 1000 <= _ms(j["submissionTime"]) <= w1 * 1000
        ]
        # a stage belongs to the first job that lists it; later jobs
        # that list it again skipped it
        owner: dict[int, int] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
        by_job: dict[int, list[dict]] = {}
        for st in stages:
            if st["status"] in ("COMPLETE", "FAILED") and st["stageId"] in owner:
                by_job.setdefault(owner[st["stageId"]], []).append(st)
        unattributed = 0
        for j in region:
            tags = [t[len(TAG_PREFIX):] for t in j.get("jobTags", []) if t.startswith(TAG_PREFIX)]
            if not tags:
                unattributed += 1
                continue
            name = tags[0]
            if name not in LAYER_SPANS:
                continue
            out[f"{name}.jobs"] += 1
            for st in by_job.get(j["jobId"], ()):
                out[f"{name}.stages"] += 1
                out[f"{name}.tasks"] += (
                    st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
                )
                out[f"{name}.busy_s"] += st["executorRunTime"] / 1000
                out[f"{name}.shuffle_bytes"] += st["shuffleWriteBytes"]
                out[f"{name}.failed_tasks"] += st["numFailedTasks"]
        for name in LAYER_SPANS:
            wall = out[f"{name}.wall_s"]
            out[f"{name}.busy_frac"] = (
                out[f"{name}.busy_s"] / (wall * cores) if wall > 0 else 0.0
            )
        out["unattributed_jobs"] = unattributed
        return out


def _self_time(s: _Span) -> float:
    """Span duration minus the part of it that child spans cover (the
    children may overlap each other when they run in a thread pool)."""
    covered, end = 0.0, s.t0
    for a, b in sorted((c.t0, c.t1) for c in s.children):
        b = min(b, s.t1)
        if b > end:
            covered += b - max(a, end)
            end = b
    return (s.t1 - s.t0) - covered


def _ms(stamp: str) -> float:
    # e.g. 2026-10-17T12:34:56.789GMT
    return (
        dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1000
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _status(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stages from Spark's status REST API, once the
    listener has caught up (no job still running, count stable)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    last = -1
    deadline = time.time() + 20
    while True:
        jobs = _get(f"{base}/jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if (done and len(jobs) == last) or time.time() > deadline:
            break
        last = len(jobs)
        time.sleep(0.2)
    return jobs, _get(f"{base}/stages")


# ------------------------------------------------------------- run record


def run_record(spark, args, cores: int, extra: dict) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "finished_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "master": spark.sparkContext.master,
        "heap": HEAP,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
        "host": platform.node(),
        **extra,
    }
