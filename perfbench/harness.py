"""Measurement plumbing for the tzengine benchmark.

Everything here observes the program from outside: spans kept in
memory around calls into each layer, a /proc sampler for the Spark
Python workers' resident memory, a reader for Spark's own task and
Python-UDF metrics (the UI's REST endpoint, enabled in traced runs
only) and a cache for staged inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.request

# seconds between two reads of /proc by the worker RSS sampler
RSS_SAMPLE_S = 0.5
# seconds to wait for Spark's listener bus to record a finished action
REST_WAIT_S = 30.0


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once, when the run ends. A disabled tracer records nothing, so the
    untraced run executes the same code with no span bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": time.perf_counter() - self._t0,
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                **attrs,
            }
        )
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0


def _descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the ppid field of
    /proc/<pid>/stat (comm may hold spaces, so split after its ')')."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    """``python -m pyspark.daemon`` and the workers it forks (the JVM's
    own command line also names pyspark, so match the module exactly)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().split(b"\0")
    except OSError:
        return False
    return b"pyspark.daemon" in args or b"pyspark.worker" in args


def _ppid_and_cpu(pid: int) -> tuple[int, int]:
    """(parent pid, utime + stime in clock ticks); (0, 0) once exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0, 0
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[11]) + int(fields[12])


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_pids() -> list[int]:
    """Spark's Python daemon and its forked workers started by this
    process (through the JVM)."""
    return [p for p in _descendants(os.getpid()) if _is_python_worker(p)]


class WorkerRssSampler:
    """Peak resident memory of Spark's Python daemon and workers while
    active: the sum over processes of each one's peak RSS (VmHWM, reset
    on entry through /proc/<pid>/clear_refs), sampled from /proc on a
    background thread so that workers exiting mid-window still count.
    Per-process high-water marks miss no short-lived peak between
    samples. Workers that used no CPU in the window sat idle in Spark's
    worker pool; how many linger there varies from run to run, so they
    are left out. The daemon (the one whose parent is the JVM) always
    counts."""

    def __init__(self):
        self.hwm_kb: dict[int, int] = {}
        self.cpu0: dict[int, int] = {}
        self.ran: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb[p] for p in self.ran) / 1024.0

    def sample(self) -> None:
        pids = python_worker_pids()
        for pid in pids:
            hwm = _status_kb(pid, "VmHWM:")
            if hwm > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = hwm
            ppid, cpu = _ppid_and_cpu(pid)
            if ppid not in pids or cpu > self.cpu0.setdefault(pid, 0):
                self.ran.add(pid)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self) -> "WorkerRssSampler":
        for pid in python_worker_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak RSS to the current RSS
            except OSError:
                pass  # exited since listed
            self.cpu0[pid] = _ppid_and_cpu(pid)[1]
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")
        self.sample()


_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Spark SQL metric text -> bytes or seconds. Multi-task metrics
    read 'total (min, med, max ...)\\n<total> (<min>, ...)'; single-task
    ones are just '<value> <unit>'."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


PYTHON_SQL_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to start Python workers": "arrow.worker_boot_s",
    "time to run Python workers": "arrow.worker_run_s",
}


class SparkRest:
    """Task and Python-UDF metrics of the actions run under one job
    description, read from the Spark UI's REST endpoint."""

    KEYS = tuple(PYTHON_SQL_METRICS.values()) + (
        "spark.task_s", "spark.gc_s", "spark.max_task_s")

    def __init__(self, sc):
        self.base = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _executions(self, description: str) -> list[dict]:
        return [
            e
            for e in self._get("/sql?details=true&planDescription=false"
                               "&offset=0&length=100000")
            if e.get("description") == description
        ]

    def metrics(self, description: str) -> dict:
        """Sums over every SQL execution and stage of ``description``.
        The status store is filled asynchronously by Spark's listener
        bus, so wait until every execution reads COMPLETED."""
        deadline = time.monotonic() + REST_WAIT_S
        while True:
            execs = self._executions(description)
            if execs and all(
                e["status"] == "COMPLETED" and not e.get("runningJobIds")
                for e in execs
            ):
                break
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"no completed SQL execution for {description!r}"
                )
            time.sleep(0.1)
        out = {k: 0.0 for k in PYTHON_SQL_METRICS.values()}
        for e in execs:
            for node in e["nodes"]:
                for m in node["metrics"]:
                    key = PYTHON_SQL_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_sql_metric(m["value"])
        task_s = gc_s = max_task_s = 0.0
        job_ids = {j for e in execs for j in e.get("successJobIds", [])}
        stage_ids = {
            s for j in job_ids for s in self._get(f"/jobs/{j}")["stageIds"]
        }
        for sid in sorted(stage_ids):
            try:
                attempts = self._get(f"/stages/{sid}")
            except urllib.error.HTTPError as ex:
                if ex.code == 404:  # skipped by AQE, never submitted
                    continue
                raise
            for st in attempts:
                if st["status"] != "COMPLETE":
                    continue
                task_s += st["executorRunTime"] / 1e3
                gc_s += st["jvmGcTime"] / 1e3
                tasks = self._get(
                    f"/stages/{sid}/{st['attemptId']}/taskList?length=100000"
                )
                for t in tasks:
                    max_task_s = max(max_task_s, t.get("duration", 0) / 1e3)
        out.update(
            {"spark.task_s": task_s, "spark.gc_s": gc_s,
             "spark.max_task_s": max_task_s}
        )
        return out


class StageCache:
    """Staged inputs kept across runs under ``root``, one directory per
    key (the workload's input, its seed block and size go into the key).
    An entry is built in a temporary directory and renamed into place,
    so a run that dies mid-build leaves no entry that looks complete."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, build) -> str:
        """The entry's directory; ``build(tmp_path)`` fills a fresh
        directory when the entry does not exist yet."""
        path = os.path.join(self.root, key)
        if os.path.isdir(path):
            return path
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.replace(tmp, path)
        return path


def parquet_bytes(path: str) -> int:
    """Bytes of the Parquet files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
        if fn.endswith(".parquet")
    )
