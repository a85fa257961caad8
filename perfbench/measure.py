"""Measurement helpers: process-tree CPU, host noise, spans and Spark's own
counters (event log, status tracker, streaming listener).

Everything here observes the program from outside. Spans wrap calls into
the repo's modules from the benchmark's process; Spark's counters are read
through the benchmark's own session conf. No source file of the program is
changed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# --- processes and host ---------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, comm) of every live
    process. utime+stime+cutime+cstime: a worker that exited was reaped by
    its live parent, so its time sits in that parent's c-fields, once."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15]) / _CLK
        out[int(name)] = (int(fields[1]), cpu, comm)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of this process and all its descendants — the JVM and
    its Python workers included; CPU seconds of the Python workers alone).
    Both count only user+system time, so host steal cannot inflate them."""
    table = _proc_table()
    total = workers = 0.0
    for pid in _descendants(table, os.getpid()):
        _, cpu, comm = table[pid]
        total += cpu
        if pid != os.getpid() and comm.startswith("python"):
            workers += cpu
    return total, workers


def descendants() -> list[int]:
    """Live descendants of this process."""
    return _descendants(_proc_table(), os.getpid())[1:]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"  # an exited, unreaped zombie has ended


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has ended."""
    t_end = time.time() + timeout
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.time() > t_end:
            raise RuntimeError(f"processes still running after {timeout}s: {alive}")
        time.sleep(0.1)


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and its live
    descendants."""
    table = _proc_table()
    kb = 0
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def cpu_stat() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def host_bracket(start: tuple[int, int]) -> dict:
    """Noise bracket for one run: cores, share of host time stolen since
    ``start`` (a ``cpu_stat()`` reading) and the 1-minute load average."""
    total, steal = cpu_stat()
    dt = total - start[0]
    return {
        "cores": len(os.sched_getaffinity(0)),
        "steal_share": (steal - start[1]) / dt if dt else 0.0,
        "loadavg": os.getloadavg()[0],
    }


def process_age_s() -> float:
    """Seconds since this process started (/proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


# --- spans ------------------------------------------------------------------


class Spans:
    """In-memory span recorder: name, start, end, parent and pass id, in
    epoch seconds so they line up with Spark's event-log timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.open(name, **attrs)
        try:
            yield
        finally:
            self.close(idx)

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None,
             "parent": parent, "pass": self.pass_id, **attrs}
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        """End span ``idx`` and any span opened inside it still open."""
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            self.spans[top]["end"] = now
            if top == idx:
                break

    def of_pass(self, pass_id: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def total(self, pass_id: int, name: str, **attrs) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.of_pass(pass_id)
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        )

    def count(self, pass_id: int, name: str) -> int:
        return sum(1 for s in self.of_pass(pass_id) if s["name"] == name)

    def windows(self, pass_id: int, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.of_pass(pass_id) if s["name"] == name]

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Self time per layer (the span name up to its last dot): each
        span's duration minus the time its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["pass"] == pass_id:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["pass"] == pass_id:
                layer = s["name"].rsplit(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Spark's counters ---------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # status tracker keeps every job of the run for job-group counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class EventLog:
    """Jobs, stages and tasks parsed from one finished Spark event log."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_submit: dict[int, float] = {}
        self.tasks: list[dict] = []
        with open(os.path.join(log_dir, files[0])) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    self.jobs[job] = {"submit": ev["Submission Time"] / 1000}
                    for sid in ev["Stage IDs"]:
                        self.stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        self.stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task(ev))

    def jobs_in(self, start: float, end: float) -> set[int]:
        return {j for j, v in self.jobs.items() if start <= v["submit"] <= end}

    def tasks_of(self, jobs: set[int]) -> list[dict]:
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def exec_metrics(self, jobs: set[int]) -> dict[str, float]:
        """Per-layer execution counters of the given jobs."""
        tasks = self.tasks_of(jobs)
        stages: dict[int, list[float]] = {}
        wait = 0.0
        for t in tasks:
            stages.setdefault(t["stage"], []).append(t["duration"])
            sub = self.stage_submit.get(t["stage"])
            if sub is not None:
                wait += max(0.0, t["launch"] - sub)
        skew = [
            max(d) / statistics.median(d)
            for d in stages.values()
            if len(d) > 1 and statistics.median(d) > 0
        ]
        mb = 1 / (1024 * 1024)
        return {
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": len(tasks),
            "exec.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "exec.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "exec.task_wait_s": wait,
            "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) * mb,
            "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) * mb,
            "exec.shuffle_fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1000,
            "exec.spill_mb": sum(t["spill"] for t in tasks) * mb,
            "exec.single_task_stages": sum(1 for d in stages.values() if len(d) == 1),
            "exec.max_over_median_task": max(skew, default=1.0),
            "exec.failed_tasks": sum(1 for t in tasks if t["failed"]),
        }


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "launch": info["Launch Time"] / 1000,
        "duration": (info["Finish Time"] - info["Launch Time"]) / 1000,
        "failed": info.get("Failed", False) or info.get("Killed", False),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_records": inp.get("Records Read", 0),
    }


def job_count(spark, groups) -> int:
    """Jobs the status tracker saw under the given job groups."""
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's executed
    query, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000


def storage_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def streaming_listener():
    """A StreamingQueryListener that keeps (start epoch, run id, progress)
    of every micro-batch; runs are mapped back to passes by start time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: list[tuple[float, str]] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.started.append((_iso_epoch(event.timestamp), str(event.runId)))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append({
                "run": str(p.runId),
                "at": _iso_epoch(p.timestamp),
                "duration": dict(p.durationMs or {}),
                "input_rows": p.numInputRows or 0,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_partitions": sum(o.numShufflePartitions for o in ops),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Micro-batch counters summed over batches; state size is each run's
    largest batch, summed over runs."""
    peak: dict[str, dict] = {}
    for p in progress:
        cur = peak.setdefault(p["run"], {"rows": 0, "mem": 0, "parts": 0})
        cur["rows"] = max(cur["rows"], p["state_rows"])
        cur["mem"] = max(cur["mem"], p["state_mem"])
        cur["parts"] = max(cur["parts"], p["state_partitions"])

    def dur(key):
        return sum(p["duration"].get(key, 0) for p in progress) / 1000

    return {
        "streaming.batches": len(progress),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.commit_s": dur("walCommit") + dur("commitOffsets"),
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in progress) / 1000,
        "streaming.state_rows": sum(v["rows"] for v in peak.values()),
        "streaming.state_mem_mb": sum(v["mem"] for v in peak.values()) / (1024 * 1024),
        "streaming.state_partitions": sum(v["parts"] for v in peak.values()),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
    }


# --- the traced pass ----------------------------------------------------------


class Tracer:
    """Span recorder, job-group setter and storage sampler for one traced
    pass. Job groups are named ``pass<id>:<name>`` so the status tracker
    can count each phase's jobs afterwards."""

    def __init__(self, spark, spans: Spans, pass_id: int) -> None:
        self.spark = spark
        self.spans = spans
        self.pass_id = pass_id
        spans.pass_id = pass_id
        self.groups: list[str] = []
        self.storage_peak_mb = 0.0
        self.observed: dict = {}

    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs)

    def group(self, name: str) -> None:
        g = f"pass{self.pass_id}:{name}"
        self.spark.sparkContext.setJobGroup(g, g)
        self.groups.append(g)

    def after_construct(self, spark) -> None:
        self.storage_peak_mb = max(self.storage_peak_mb, storage_mb(spark))

    def jobs(self, suffix: str) -> int:
        return job_count(self.spark, [g for g in self.groups if g.endswith(suffix)])


def instrument(tracer_of) -> None:
    """Replace ``pipeline.py``'s module-level names with timing wrappers in
    this process. ``tracer_of()`` returns the current pass's tracer, or
    None for an untraced pass (the wrapper then only calls through).

    ``write_table`` also opens the ``pipeline.post_write`` span when it
    returns; the enclosing ``pipeline.run_pipeline`` span closes it."""
    from large_csv_etl_spark import pipeline

    def wrap(name, fn):
        span = f"{fn.__module__.rsplit('.', 1)[-1]}.{name}"

        def wrapped(*args, **kwargs):
            tr = tracer_of()
            if tr is None:
                return fn(*args, **kwargs)
            if name == "write_table":
                tr.group("write")
            with tr.span(span):
                out = fn(*args, **kwargs)
            if name == "write_table":
                tr.group("post_write")
                tr.spans.open("pipeline.post_write")
            if name == "observed_pipeline":
                df, fetch = out

                def fetch_and_keep():
                    stats = fetch()
                    tr.observed = dict(stats)
                    return stats

                out = df, fetch_and_keep
            return out

        return wrapped

    for name in (
        "read_transactions_csv",
        "observed_pipeline",
        "upsert_by_key",
        "write_table",
        "validate_final_data",
        "validate_data_integrity",
    ):
        setattr(pipeline, name, wrap(name, getattr(pipeline, name)))


def instrument_checkpoints(spark, tracer_of) -> None:
    """Time every ``DataFrame.localCheckpoint`` (``materialize_reduced``
    and the raw call sites) as a ``queries.helpers`` span. The session's
    concrete DataFrame class is patched: it overrides the base class's
    method."""
    cls = type(spark.range(0))
    orig = cls.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        tr = tracer_of()
        if tr is None:
            return orig(self, *args, **kwargs)
        with tr.span("queries.helpers.local_checkpoint"):
            return orig(self, *args, **kwargs)

    cls.localCheckpoint = local_checkpoint
