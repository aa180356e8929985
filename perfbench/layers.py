"""Per-layer measurement for the traced benchmark run.

Every number here is taken from outside the package: the Spark UI REST
API of the benchmark's own session (jobs, stages, SQL executions), a
``StreamingQueryListener`` the benchmark attaches, and ``/proc`` of the
driver JVM and of the benchmark's process tree. Nothing in
``ballista_extensions_spark`` is instrumented.

Attribution rule: a query owns the jobs whose ids first appear between a
listing taken before its call and one taken after its action, and the
stages those jobs reference that were created after the query started
(stage ids are allocated in submission order, so an id at or below the
pre-query maximum is a shuffle reused from an earlier query and was
skipped, not run).
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

#: Per-layer metrics (name, unit), in the order BENCHMARK.json lists them.
PER_LAYER = (
    ("session.start_s", "s"),
    ("io.first_touch_s", "s"),
    ("io.input_bytes", "bytes"),
    ("io.input_rows", "count"),
    ("queries.call_s", "s"),
    ("queries.action_s", "s"),
    ("queries.call_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.job_busy_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.deserialize_s", "s"),
    ("spark.slot_util", "ratio"),
    ("spark.jvm_gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("python.run_s", "s"),
    ("python.start_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_update_s", "s"),
    ("streaming.store_bytes", "bytes"),
)

#: StageData field -> (metric, divisor to the metric's unit).
_STAGE_FIELDS = {
    "inputBytes": ("io.input_bytes", 1),
    "inputRecords": ("io.input_rows", 1),
    "executorRunTime": ("spark.executor_run_s", 1e3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e9),
    "executorDeserializeTime": ("spark.deserialize_s", 1e3),
    "jvmGcTime": ("spark.jvm_gc_s", 1e3),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
    "outputBytes": ("spark.output_bytes", 1),
}

#: SQL metric display name (PythonSQLMetrics, Spark 4.1) -> metric.
#: Spark measures a reused worker's initialization from the worker's
#: previous use, so python.start_s includes time the worker sat idle.
_PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

_UNIT_SCALE = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1, "m": 60,
    "min": 60, "h": 3600,
}
# A SQL metric value renders as "<total> (<min>, <med>, <max> ...)",
# optionally after a "total (min, med, max ...)" header line.
_METRIC_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


class EvictedError(RuntimeError):
    """A job references UI state the status store no longer retains, so
    its layers cannot be counted completely."""


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]``; overlapping and nested intervals count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def parse_metric_value(text: str) -> float:
    """Numeric total of a SQL metric display string in base units
    (bytes or seconds): ``"1.5 KiB"`` -> 1536.0, ``"12 ms"`` -> 0.012."""
    lines = text.strip().splitlines()
    if len(lines) > 1 and lines[0].startswith("total"):
        lines = lines[1:]
    m = _METRIC_VALUE.match(lines[0]) if lines else None
    if m is None or m.group(2) not in _UNIT_SCALE:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _zero() -> dict[str, float]:
    return {name: 0.0 for name, _ in PER_LAYER}


class ProgressLog(StreamingQueryListener):
    """Collects every streaming progress event as a plain dict."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        progress = json.loads(event.progress.json)
        with self._lock:
            self._events.append(progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            events, self._events = self._events, []
        return events


def streaming_layers(events: list[dict]) -> dict[str, float]:
    """streaming.* metrics of a list of progress events. State rows are
    each query run's final total, summed over runs."""
    out = {}
    dur = [e.get("durationMs", {}) for e in events]
    out["streaming.batches"] = float(len(events))
    out["streaming.input_rows"] = float(sum(e.get("numInputRows", 0) for e in events))
    out["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1e3
    out["streaming.trigger_s"] = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
    out["streaming.commit_s"] = sum(
        d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
    ) / 1e3
    last: dict[str, dict] = {}
    for e in events:
        run = e.get("runId")
        if run not in last or e.get("batchId", 0) >= last[run].get("batchId", 0):
            last[run] = e
    out["streaming.state_rows"] = float(sum(
        op.get("numRowsTotal", 0)
        for e in last.values() for op in e.get("stateOperators", [])
    ))
    out["streaming.state_update_s"] = sum(
        op.get("allUpdatesTimeMs", 0)
        for e in events for op in e.get("stateOperators", [])
    ) / 1e3
    return out


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 if absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            if os.path.isfile(full) and not os.path.islink(full):
                total += os.path.getsize(full)
    return total


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def rss_kib(pid: int, field: str = "VmRSS") -> int:
    """``VmRSS`` (current) or ``VmHWM`` (peak) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"/proc/{pid}/status has no {field}")


def box_steal_s() -> float:
    """Seconds the machine's virtual CPUs have waited for the host
    (steal) since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stat_cpu(text: str) -> tuple[int, int]:
    """``(ppid, ticks)`` from a ``/proc/<pid>/stat`` line, where ticks is
    the process's user and system time plus that of its children that
    have exited and been waited for."""
    fields = text[text.rindex(")") + 2:].split()  # the name may hold ") "
    return int(fields[1]), sum(int(v) for v in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (this process by default) and
    every process below it: here the driver Python, the JVM and its
    Python workers. CPU time leaves out the time the host takes the
    virtual CPUs away (steal), which wall time does not."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)], ticks[int(name)] = stat_cpu(f.read())
        except (OSError, ValueError):
            continue  # exited while listing
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples a process's RSS on a background thread; ``peak()``
    returns and resets the highest reading since the last call."""

    def __init__(self, pid: int, interval: float = 0.05) -> None:
        self._pid = pid
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kib = rss_kib(self._pid)
            with self._lock:
                self._peak = max(self._peak, kib)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, rss_kib(self._pid)
        return peak


class RestTrace:
    """Reads one query's jobs, stages and SQL executions from the UI
    REST API of ``spark``'s application."""

    def __init__(self, spark) -> None:
        self._spark = spark
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs the Spark UI (spark.ui.enabled)")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # the UI initializes its REST servlet (~1.5 s) on the first request
        self._get("jobs")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        # the status store lags execution by the listener-bus queue depth
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self) -> dict:
        """Snapshot of the retained jobs, by id."""
        self._drain()
        return {"jobs": {j["jobId"]: j for j in self._get("jobs")}}

    def mark(self) -> dict:
        """Snapshot of the jobs, the highest stage id and the SQL
        execution ids allocated so far."""
        snap = self.jobs()
        sql = self._get("sql?details=false&offset=0&length=1000000")
        snap["max_stage"] = max(
            (s for j in snap["jobs"].values() for s in j["stageIds"]), default=-1)
        snap["sql_ids"] = [e["id"] for e in sql]
        return snap

    @staticmethod
    def new_jobs(before: dict, after: dict) -> dict:
        """Jobs of ``after`` absent from ``before``; raises if the job
        ids allocated in between are not all still retained."""
        new = {i: j for i, j in after["jobs"].items() if i not in before["jobs"]}
        if new:
            first = max(before["jobs"], default=-1) + 1
            if min(new) != first or len(new) != max(new) - first + 1:
                raise EvictedError(
                    f"jobs {first}..{max(new)} are not all retained "
                    "(spark.ui.retainedJobs); per-layer counts would be short"
                )
        return new

    def layers(self, before: dict, after: dict, jobs: dict) -> tuple[dict, list]:
        """spark.*, io.* and python.* counters of ``jobs`` (all created
        between ``before`` and ``after``), and the jobs' wall intervals
        for :func:`set_busy`."""
        out = _zero()
        stage_ids = {s for j in jobs.values() for s in j["stageIds"]
                     if s > before["max_stage"]}
        listed = [s for s in self._get("stages") if s["stageId"] in stage_ids]
        missing = stage_ids - {s["stageId"] for s in listed}
        if missing:
            raise EvictedError(
                f"stages {sorted(missing)[:5]} were evicted "
                "(spark.ui.retainedStages); per-layer counts would be short"
            )
        ran = [s for s in listed if s["status"] != "SKIPPED"]
        for stage in ran:
            for field, (name, div) in _STAGE_FIELDS.items():
                out[name] += stage.get(field, 0) / div
            out["spark.tasks"] += stage.get("numTasks", 0)
            out["spark.failed_tasks"] += stage.get("numFailedTasks", 0)
        out["spark.stages"] = float(len(ran))
        out["spark.jobs"] = float(len(jobs))
        new_sql = set(after["sql_ids"]) - set(before["sql_ids"])
        execs = self._get("sql?details=true&planDescription=false"
                          f"&offset={len(before['sql_ids'])}&length=1000000")
        for ex in execs:
            if ex["id"] not in new_sql:
                continue
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    name = _PYTHON_SQL_METRICS.get(metric.get("name"))
                    if name:
                        out[name] += parse_metric_value(metric["value"])
        intervals = [
            (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            for j in jobs.values()
            if "submissionTime" in j and "completionTime" in j
        ]
        return out, intervals


def set_busy(out: dict[str, float], busy: float, wall: float, slots: int) -> None:
    """Fill spark.job_busy_s, spark.driver_gap_s (``wall`` time with no
    job running) and spark.slot_util (executor run time over the busy
    time of ``slots`` task slots)."""
    out["spark.job_busy_s"] = busy
    out["spark.driver_gap_s"] = wall - busy
    out["spark.slot_util"] = (
        out["spark.executor_run_s"] / (busy * slots) if busy else 0.0
    )
