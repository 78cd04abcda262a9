"""Layer tracing from outside the engine.

The engine is never modified; every per-layer number comes from one of:

* job groups set around each call into a layer, counted afterwards
  through ``SparkContext.statusTracker()``;
* the Spark JSON event log (``spark.eventLog.enabled``), folded by job
  group into bytes, spill, GC, CPU and Python-worker traffic;
* ``StreamingQuery.recentProgress`` for micro-batch phases and state;
* the prediction store and memo store on disk, listed after the run.

Spans are kept in memory and only written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from datetime import datetime

from checks import median, quantile

PY_WORKER_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _tree(root_pid: int) -> list[tuple[int, str, str]]:
    """(pid, name, parent's name) of every live descendant of
    ``root_pid``, from /proc."""
    children, names = defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            names[int(d)] = stat[stat.index("(") + 1:stat.rindex(")")]
            children[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(d))
        except (OSError, ValueError, IndexError):
            continue
    out, todo = [], [(pid, root_pid) for pid in children.get(root_pid, ())]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, names[pid], names.get(parent, "")))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    return [pid for pid, _, _ in _tree(root_pid)]


def _status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(next(ln for ln in f if ln.startswith(key)).split()[1])


def _pss_kb(pid) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return int(next(ln for ln in f if ln.startswith("Pss:")).split()[1])


class RssSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc.

    The JVM and this process count their peak resident set (VmHWM),
    which the kernel keeps, so a peak between two samples is not missed,
    and their page tables are never walked: a walk holds the process's
    memory-map lock and stalls the JVM's threads. The Python workers fork
    from one daemon and share pages with it, so each counts its
    proportional set size (PSS). Any other process is a short-lived
    helper the JVM spawns. Until it execs, it shares the JVM's address
    space under the name of the JVM thread that spawned it, so it is
    skipped."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_bytes(root_pid: int) -> int:
        total = _status_kb(root_pid, "VmHWM:")
        for pid, name, parent in _tree(root_pid):
            try:
                if name.startswith("python"):
                    total += _pss_kb(pid)
                elif name == "java" and parent != "java":
                    total += _status_kb(pid, "VmHWM:")
            except (OSError, StopIteration, ValueError):
                continue  # exited since the listing
        return total * 1024

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self.tree_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_bytes / 1e9


class Tracer:
    """Job-group spans for one traced run. ``enabled=False`` makes every
    hook a plain call, so untraced runs execute the same code path."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []  # {group, seconds, jobs, stages, tasks}

    def run(self, group: str, fn):
        """Run fn() with its Spark jobs tagged ``group``; return fn().
        The enclosing span's group is restored afterwards, so spans nest."""
        if not self.enabled:
            return fn()
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        before = self._job_ids(group)
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", outer)
            # a group name recurs across spans (one per pass): count only
            # the jobs this span added to it
            self.spans.append({"group": group, "seconds": dt,
                               **self.counts(self._job_ids(group) - before)})

    def _job_ids(self, group: str) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def counts(self, job_ids) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def total(self, pred, key: str) -> float:
        return sum(s[key] for s in self.spans if pred(s["group"]))


def fold_event_log(log_dir: str, job_pred) -> dict[str, float]:
    """Sum the task metrics of every job for which
    ``job_pred(job_group, submit_epoch_s)`` is true."""
    stage_ok: dict[int, bool] = {}
    acc = defaultdict(float)
    # Spark 4 writes a directory per application: events_<n>_* files plus
    # an empty appstatus_* marker
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    ok = bool(job_pred(group, ev.get("Submission Time", 0) / 1e3))
                    if ok:
                        acc["exec.jobs"] += 1
                        acc["exec.stages"] += len(ev.get("Stage IDs", ()))
                    for sid in ev.get("Stage IDs", ()):
                        stage_ok[sid] = stage_ok.get(sid, False) or ok
                elif kind == "SparkListenerTaskEnd" and stage_ok.get(ev.get("Stage ID")):
                    _fold_task(ev, acc)
    return dict(acc)


def _fold_task(ev: dict, acc) -> None:
    acc["exec.tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["exec.shuffle_read_bytes"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    acc["exec.shuffle_write_bytes"] += (
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    acc["exec.spill_bytes"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    acc["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if a.get("Name") in PY_WORKER_BYTES:
            try:
                acc["exec.python_bytes"] += float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass


def trigger_epoch(progress: dict) -> float:
    """Start of a micro-batch's trigger, epoch seconds."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def fold_progress(progress: list[dict], t_from: float, t_to: float) -> dict[str, float]:
    """Micro-batch phase and state metrics over the data batches whose
    trigger started inside [t_from, t_to) (epoch seconds)."""
    batches = [p for p in progress
               if t_from <= trigger_epoch(p) < t_to and p.get("numInputRows", 0) > 0]
    out = {"streaming.batches": float(len(batches))}
    if not batches:
        return out
    dur = [p.get("durationMs", {}) for p in batches]
    trig = [d.get("triggerExecution", 0) for d in dur]
    out["streaming.trigger_ms.p50"] = median(trig)
    out["streaming.trigger_ms.p99"] = quantile(trig, 0.99)
    for phase in ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                  "walCommit", "commitOffsets"):
        out[f"streaming.{phase}_ms"] = median([d.get(phase, 0) for d in dur])
    out["streaming.busy_share"] = sum(trig) / 1e3 / max(t_to - t_from, 1e-9)
    out["streaming.rows_per_batch"] = median([p["numInputRows"] for p in batches])
    states = [s for p in batches for s in p.get("stateOperators", ())]
    out["streaming.state_rows"] = max((s.get("numRowsTotal", 0) for s in states), default=0)
    out["streaming.state_bytes"] = max((s.get("memoryUsedBytes", 0) for s in states), default=0)
    out["streaming.watermark_dropped"] = sum(
        s.get("numRowsDroppedByWatermark", 0) for s in states)
    return out


def store_stats(store_dir: str) -> dict[str, float]:
    files = [f for f in glob.glob(os.path.join(store_dir, "**", "*.parquet"), recursive=True)]
    return {"sink.files": float(len(files)),
            "sink.bytes": float(sum(os.path.getsize(f) for f in files))}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
