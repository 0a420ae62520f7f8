"""Shared instruments of the benchmark: run isolation, host stamp, the
percentile rule, process-tree memory, spans and Spark counters.

Nothing here imports pyspark at module level: ``RunDir`` must point
``TMPDIR`` and the Spark directories at the run's own tree before the JVM
or any temp file exists.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
FIXTURE_DIR = BENCH_DIR / "data" / "sf0.01"
DRIVER_MEM_DEFAULT = "1g"


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class RunDir:
    """Private TMPDIR, warehouse, checkpoint and Spark local dirs for one
    run, inside the checkout and deleted at exit. The package roots its
    index stores under ``tempfile.gettempdir()``, so pointing TMPDIR here
    keeps every store tree inside the run."""

    def __init__(self, workload: str, seed: int):
        self.path = ROOT / ".bench_run" / f"{workload}-{seed}-{os.getpid()}"
        self.tmp = self.path / "tmp"
        self.local = self.path / "spark-local"
        self.warehouse = self.path / "warehouse"
        for d in (self.tmp, self.local, self.warehouse):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        tempfile.tempdir = None

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            self.path.parent.rmdir()


def start_spark(run_dir: RunDir):
    """The package's own session factory, with the run's directories."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM_DEFAULT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers import the package (mapInPandas, UDFs) from the root.
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    from e_commerce_click_stream_spark.session import get_spark

    return get_spark(
        app_name="clickbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir.warehouse),
            "spark.local.dir": str(run_dir.local),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir.tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process the run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _descendants(os.getpid())
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in descendants):
        time.sleep(0.05)
    for pid in descendants:
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with contextlib.suppress(OSError), open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for child in _children(todo.pop()):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Peak resident memory of this process plus every descendant (the JVM
    and the Python workers), sampled every 0.2 s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *_descendants(os.getpid())]:
            with contextlib.suppress(OSError, ValueError, IndexError), open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * self._page
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / 2**20


class InsufficientSamples(ValueError):
    pass


MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, pct: int) -> float:
    """The ``pct``-th percentile, refused unless at least ``MIN_BEYOND``
    samples lie beyond it (the rule for any reported tail)."""
    values = sorted(values)
    beyond = math.floor(len(values) * (100 - pct) / 100)
    if beyond < MIN_BEYOND:
        raise InsufficientSamples(
            f"p{pct} of {len(values)} samples has {beyond} beyond it; {MIN_BEYOND} needed"
        )
    return float(statistics.quantiles(values, n=100, method="inclusive")[pct - 1])


def supported_tail(values, candidates=(99, 95, 90, 75)) -> tuple[int | None, float | None]:
    """The highest candidate percentile the sample count supports."""
    for pct in candidates:
        with contextlib.suppress(InsufficientSamples):
            return pct, tail_percentile(values, pct)
    return None, None


def percentile_rule_selftest() -> list[str]:
    """The rule refuses p90 on 99 samples and accepts it on 100."""
    errors = []
    try:
        tail_percentile(range(99), 90)
        errors.append("percentile rule accepted p90 with 9 samples beyond")
    except InsufficientSamples:
        pass
    try:
        tail_percentile(range(100), 90)
    except InsufficientSamples:
        errors.append("percentile rule refused p90 with 10 samples beyond")
    return errors


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 1
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append({"id": sid, "parent": parent, "trace": trace, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, trace: str | None = None, **attrs):
        """Yields a dict whose ``id`` children may use as parent; the span
        is recorded when the block exits."""
        rec = {"id": None}
        if not self.enabled:
            yield rec
            return
        with self._lock:
            rec["id"] = self._next
            self._next += 1
        start = time.time()
        try:
            yield rec
        finally:
            with self._lock:
                self.spans.append({"id": rec["id"], "parent": parent, "trace": trace, "name": name,
                                   "start": start, "end": time.time(), **attrs,
                                   **{k: v for k, v in rec.items() if k != "id"}})

    def write(self, path: Path, stamp: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"host": stamp, "spans": sorted(self.spans, key=lambda s: s["start"])}, f)
            f.write("\n")


def _sum_cols(store, stage_id: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    return {
        "tasks": sd.numTasks(),
        "executor_run_s": sd.executorRunTime() / 1000.0,
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "shuffle_read_records": sd.shuffleReadRecords(),
        "shuffle_write_records": sd.shuffleWriteRecords(),
    }


# reported per layer
COUNTER_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")
# must repeat exactly across two executions of one query
REPEAT_KEYS = ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records")


class SparkCounters:
    """Jobs, stages, tasks, executor time, shuffle and spill of one call,
    read from Spark's status tracker and status store.

    A call's jobs are those in its own job group plus the ungrouped jobs
    that appear while it runs: pool threads (``_run_concurrently``) do not
    inherit the caller's group, and only one caller runs Spark at a time.
    A stage is counted once, by the first call that sees it completed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self._seen_stages: set[int] = set()
        self._n = 0

    def _drain_bus(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def jobs_counters(self, job_ids) -> dict:
        self._drain_bus()
        out = dict.fromkeys(COUNTER_KEYS + REPEAT_KEYS, 0)
        out["jobs"] = len(job_ids)
        for jid in sorted(job_ids):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                if sid in self._seen_stages:
                    continue
                cols = _sum_cols(self.store, sid)
                if cols is None:
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                for k, v in cols.items():
                    out[k] += v
        return out

    @contextlib.contextmanager
    def call(self, label: str):
        """Yields a dict filled with the call's counters on exit."""
        self._n += 1
        group = f"clickbench-{self._n}"
        before = self.ungrouped()
        self.sc.setJobGroup(group, label, False)
        rec: dict = {}
        try:
            yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._drain_bus()
            jobs = set(self.tracker.getJobIdsForGroup(group)) | (self.ungrouped() - before)
            rec.update(self.jobs_counters(jobs))


def host_stamp(seed: int) -> dict:
    """What a result depends on besides the code: compare artifacts only
    when these fields agree."""
    import duckdb
    import pyspark

    mem_total_kb = None
    with contextlib.suppress(OSError), open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total_kb = int(line.split()[1])
    head = None
    if (ROOT / ".git").exists():  # never a repository above the checkout
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            res = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            head = res.stdout.strip() if res.returncode == 0 else None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{os.environ.get('SPARK_GRAFT_CPUS')}]",
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "mem_total_kb": mem_total_kb,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_head": head,
        "seed": seed,
    }
