"""Measurement from outside the program: spans around the benchmark's own
calls, a resident-memory sampler, and folding of Spark's event log into the
``engine.*`` and ``python.*`` per-layer metrics."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile; 0.0 for an empty sample."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(q * len(xs)) - 1)])


class Spans:
    """(name, start, end, parent) records kept in memory, written at exit."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.records.append({"name": name, "start": start, "end": end, "parent": parent, **attrs})
        return len(self.records) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f)


def _process_tree(root_pid: int) -> dict[int, int]:
    """RSS in KiB of ``root_pid`` and each of its descendants (the JVM is a
    child of the driver, the Python workers are children of the JVM)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


def wait_for_children(timeout_s: float = 60.0) -> None:
    """Wait until every descendant of this process has exited."""
    deadline = time.monotonic() + timeout_s
    while len(_process_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise TimeoutError("child processes still running")
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat. Steal
    is time a virtual CPU was runnable but the host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _pss_kb(pid: int) -> int:
    """Proportional set size of ``pid`` in KiB: its resident pages, each
    shared page divided among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return int(next(line for line in f if line.startswith("Pss:")).split()[1])
    except (OSError, StopIteration):
        return 0


def _hwm_kb(pid: int) -> int:
    """The kernel's resident-memory high-water mark of ``pid`` in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    except (OSError, StopIteration):
        return 0


class RssSampler(threading.Thread):
    """The benchmark's one extra thread: the peak resident memory of the JVM
    plus its Python workers from construction to :meth:`stop`. The JVM's
    figure is its VmHWM, which the kernel keeps exactly and which is reset
    here. The workers (the JVM's descendants) come and go, so their summed
    PSS is sampled; PSS, not RSS, because they are forked from one daemon and
    share most of their pages."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        with open(f"/proc/{jvm_pid}/clear_refs", "w") as f:
            f.write("5")  # VmHWM := current RSS
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.workers_kb = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            workers = [pid for pid in _process_tree(self.jvm_pid) if pid != self.jvm_pid]
            self.workers_kb = max(self.workers_kb, sum(_pss_kb(pid) for pid in workers))
            self._stop_event.wait(self.period_s)

    def stop(self) -> dict[str, float]:
        """Stop sampling, wait for the thread, return the peaks in MB."""
        self._stop_event.set()
        self.join()
        return {"jvm_mb": _hwm_kb(self.jvm_pid) / 1024.0, "workers_mb": self.workers_kb / 1024.0}


# ---------------------------------------------------------------------------
# Event log folding
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"  # ms


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application. The session is configured with an
    uncompressed, non-rolling log, so this is one JSON object per line."""
    path = os.path.join(log_dir, app_id)
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _intervals_union(ivs: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(ivs, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in ivs if e > lo and s < hi]


def window_jobs(events: list[dict], start: float, end: float) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the jobs submitted within [start, end)."""
    ntasks = {
        e["Stage Info"]["Stage ID"]: e["Stage Info"]["Number of Tasks"]
        for e in events if e.get("Event") == "SparkListenerStageCompleted"
    }
    jobs = stages = tasks = 0
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and start <= e["Submission Time"] / 1000.0 < end:
            jobs += 1
            for sid in e.get("Stage IDs", []):
                if sid in ntasks:  # skipped stages never complete
                    stages += 1
                    tasks += ntasks[sid]
    return jobs, stages, tasks


def fold_events(events: list[dict], passes: list[dict], cores: int) -> dict[str, float]:
    """Per-layer engine/python metrics over the warm passes.

    ``passes`` lists the measured warm passes as ``{"ops": [(s, e), ...],
    "build": [(s, e), ...]}``: the wall-time window of each operation and of
    its ``fn()`` call, in epoch seconds. Only those windows count, so the
    benchmark's own bookkeeping between operations never does. Every figure
    is per warm pass except the job-latency median and the failed-task count."""
    jobs: dict[int, list[float]] = {}
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    job_ivs = [(s, e) for s, e in jobs.values() if e is not None]

    n = max(1, len(passes))
    op_windows = [w for p in passes for w in p["ops"]]
    build_windows = [w for p in passes for w in p["build"]]

    def inside(t: float) -> bool:
        return any(s <= t <= e for s, e in op_windows)

    wall = sum(e - s for s, e in op_windows)
    in_window = [ev for ev in tasks if inside(ev["Task Info"]["Finish Time"] / 1000.0)]
    cpu_s = run_s = gc_s = shuf_r = shuf_w = spill = inp = 0.0
    py_sent = py_recv = py_run = py_stage_run = 0.0
    failed = 0
    py_stages: set[int] = set()
    for ev in in_window:
        tm = ev.get("Task Metrics") or {}
        cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        run_s += tm.get("Executor Run Time", 0) / 1e3
        gc_s += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics", {})
        shuf_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        shuf_w += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        spill += tm.get("Disk Bytes Spilled", 0)
        inp += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            failed += 1
        for acc in ev["Task Info"].get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if name in (_PY_SENT, _PY_RECV, _PY_RUN):
                py_stages.add(ev["Stage ID"])
                v = float(upd or 0)
                if name == _PY_SENT:
                    py_sent += v
                elif name == _PY_RECV:
                    py_recv += v
                else:
                    py_run += v / 1e3
    for ev in in_window:
        if ev["Stage ID"] in py_stages:
            py_stage_run += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0) / 1e3

    busy = sum(_intervals_union(_clip(job_ivs, s, e)) for s, e in op_windows)
    build_busy = sum(_intervals_union(_clip(job_ivs, s, e)) for s, e in build_windows)
    build_wall = sum(e - s for s, e in build_windows)
    job_ms = [(e - s) * 1000.0 for s, e in job_ivs if inside(s)]
    mb = 1024.0 * 1024.0
    return {
        "build.self_s": (build_wall - build_busy) / n,
        "engine.job_ms_p50": median(job_ms),
        "engine.executor_cpu_s": cpu_s / n,
        "engine.executor_run_s": run_s / n,
        "engine.gc_s": gc_s / n,
        "engine.cpu_util": cpu_s / (wall * cores) if wall > 0 else 0.0,
        "engine.driver_gap_s": (wall - busy) / n,
        "engine.shuffle_read_mb": shuf_r / mb / n,
        "engine.shuffle_write_mb": shuf_w / mb / n,
        "engine.spill_mb": spill / mb / n,
        "engine.input_mb": inp / mb / n,
        "engine.tasks_failed": float(failed),
        "python.mb_sent": py_sent / mb / n,
        "python.mb_recv": py_recv / mb / n,
        "python.worker_run_s": py_run / n,
        "python.stage_run_s": py_stage_run / n,
    }
