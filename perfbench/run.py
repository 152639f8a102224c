#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving solspark.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

One Python process, one ``local[nproc]`` session; each operation starts when
the previous one returns. Per run:

1. set-up (``setup_s``): import pyspark, launch the JVM, build the session
   and run one warm-up action;
2. a cold pass over the workload's operations in that fresh session
   (memoisers empty, JIT cold); every result is then checked strictly,
   outside the timed region;
3. unmeasured passes for SETTLE_S, then measured warm passes until
   ``--seconds`` have passed (at least MIN_WARM_PASSES); the peak memory of
   the JVM and its Python workers is read over step 3's passes.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the run first does the same untraced measurement (for
``trace.overhead_frac``), then repeats cold and warm passes in a session that
writes Spark's event log, and the last line carries the per-layer metrics.
Inputs, references, spans and full results live under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import datetime  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import datagen  # noqa: E402
import measure  # noqa: E402
import stream  # noqa: E402
from measure import median  # noqa: E402
from workloads import SMOKE, WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETTLE_S = 4.0  # unmeasured passes until this long has passed, at least one
MIN_WARM_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fit_environment() -> dict:
    """Size the session to the machine before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # A quarter of RAM for the driver heap leaves room for Python workers,
    # off-heap buffers and the page cache on a machine without swap.
    driver_mb = max(1024, mem_kb // 1024 // 4)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        # Every JVM (launcher and driver) keeps its temp files in the checkout.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_MASTER", None)
    return {"nproc": cpus, "driver_mem_mb": driver_mb, "mem_total_mb": mem_kb // 1024}


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def prepare_inputs(w, seed: int) -> str:
    """Generate (once) the input directory of ``w`` for ``seed`` and the
    DuckDB references of its operations."""
    tag = f"sf{w.sf}-d{w.docs}-v{w.vecs}-b{w.batches}x{w.doc_batches}-s{seed}"
    data_dir = os.path.join(WORK, "data", tag)
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        t0 = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        tables = datagen.build(w.sf, w.docs, w.vecs)
        datagen.write_tables(tables, data_dir, seed)
        if w.batches:
            stream.write_sources(tables, data_dir, w.batches, w.doc_batches, seed)
        open(os.path.join(data_dir, "_SUCCESS"), "w").close()
        log(f"inputs {tag} written in {time.perf_counter() - t0:.1f}s")
    subprocess.run([sys.executable, os.path.join(HERE, "check.py"), data_dir, *w.ops], check=True)
    return data_dir


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def build_session(cpus: int, event_log_dir: str | None):
    from sol_spark.session import session_builder

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # Spark 4.1 compresses (zstd) and rolls the event log by default.
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session_builder("perfbench", extra_conf=conf).master(f"local[{cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """End the gateway JVM, and with it the Python workers, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits at EOF on stdin
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    measure.wait_for_children()


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


class Runner:
    """Runs passes of one workload in one session and records what the
    layers did. ``track`` turns on the statusTracker bookkeeping and spans."""

    def __init__(self, spark, w, data_dir: str, order: list[str], track: bool, spans, phase: str):
        from sol_spark.registry import all_queries

        self.spark, self.w, self.data_dir, self.order = spark, w, data_dir, order
        self.track, self.spans, self.phase = track, spans, phase
        self.specs = all_queries()
        self.attempted = 0
        self.failed = 0  # failed executions: an exception or a strict mismatch
        self.failures: dict[str, str] = {}  # the last message per operation
        self.passes: list[dict] = []
        if w.batches:
            self.stream = stream.StreamOps(spark, data_dir, os.path.join(WORK, "work"))

    def run_pass(self, check: bool) -> dict:
        from sol_spark.operators.dedup import release_result

        n = len(self.passes)
        rec = {"ops": {}, "start": time.time(), "handles": []}
        parent = self.spans.add(f"{self.phase}:pass{n}", rec["start"], 0.0) if self.track else None
        wall = 0.0
        for op in self.order:
            self.attempted += 1
            sc = self.spark.sparkContext
            try:
                if op in stream.PIPELINES:
                    b0 = time.time()
                    build_s, exec_s, handle = self.stream.run(op, f"{self.phase}-{n}-{op}")
                    rec["handles"].append(handle)
                    wall += build_s + exec_s
                    if check:
                        self._fail(op, self.stream.check(handle))
                    self.stream.cleanup(handle)
                else:
                    spec = self.specs[op]
                    if self.track:
                        sc.setJobGroup(f"{op}:build#{self.phase}{n}", op)
                    b0 = time.time()
                    t0 = time.perf_counter()
                    df = spec.fn(self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    if self.track:
                        sc.setJobGroup(f"{op}:exec#{self.phase}{n}", op)
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    build_s, exec_s = t1 - t0, t2 - t1
                    wall += build_s + exec_s
                    if self.track:
                        sc.setJobGroup("perfbench", "bookkeeping")
                    if check:
                        self._check_batch(spec, df)
                    release_result(df)
            except Exception as exc:  # noqa: BLE001 -- a failed operation is counted, the run goes on
                log(traceback.format_exc())
                self._fail(op, f"{type(exc).__name__}: {exc}")
                continue
            rec["ops"][op] = {"t0": b0, "build_s": build_s, "exec_s": exec_s}
            if self.track:
                s = self.spans.add(f"{op}", b0, b0 + build_s + exec_s, parent)
                self.spans.add(f"{op}:build", b0, b0 + build_s, s)
                self.spans.add(f"{op}:exec", b0 + build_s, b0 + build_s + exec_s, s)
                if op in stream.PIPELINES:
                    for p in handle["progress"]:
                        t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                        ms = p["durationMs"].get("triggerExecution", 0)
                        self.spans.add(f"{op}:batch{p['batchId']}", t, t + ms / 1000.0, s)
                else:
                    rec["ops"][op].update(self._job_counts(op, n))
        rec["end"] = time.time()
        rec["wall"] = wall
        if self.track:
            self.spans.records[parent]["end"] = rec["end"]
            rec["cached_mb"] = sum(
                i.memSize() + i.diskSize()
                for i in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            ) / (1024.0 * 1024.0)
        self.passes.append(rec)
        return rec

    def _job_counts(self, op: str, n: int) -> dict:
        st = self.spark.sparkContext.statusTracker()
        out = {}
        for phase in ("build", "exec"):
            jobs = st.getJobIdsForGroup(f"{op}:{phase}#{self.phase}{n}")
            out[f"{phase}_jobs"] = len(jobs)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            out[f"{phase}_stages"] = stages
            out[f"{phase}_tasks"] = tasks
        return out

    def _check_batch(self, spec, df) -> None:
        if spec.oracle is not None:
            self._fail(spec.name, check.frame_diff(df.toPandas(), check.reference(spec, self.data_dir)))

    def _fail(self, op: str, message: str | None) -> None:
        if message:
            self.failed += 1
            self.failures[op] = message
            log(f"{op} failed: {message}")


def measure_passes(runner: Runner, seconds: float, check: bool) -> tuple[dict, list[dict], dict]:
    """Cold pass, whose every result is checked strictly when ``check``;
    unmeasured passes for SETTLE_S (the JIT keeps compiling through them);
    then the measured warm passes: for ``seconds``, and at least
    MIN_WARM_PASSES of them. Returns them with the peak memory of the JVM
    and its Python workers after the cold pass, so the checks count in
    neither time nor memory."""
    cold = runner.run_pass(check=check)
    sampler = measure.RssSampler(jvm_pid())
    sampler.start()
    try:
        t_settle = time.perf_counter()
        runner.run_pass(check=False)
        while time.perf_counter() - t_settle < SETTLE_S:
            runner.run_pass(check=False)
        warm = []
        t_start = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_start < seconds:
            warm.append(runner.run_pass(check=False))
    finally:
        memory = sampler.stop()
    return cold, warm, memory


def end_to_end(cold: dict, warm: list[dict], ops: list[str]) -> dict:
    lat = [median(p["ops"][op]["build_s"] + p["ops"][op]["exec_s"] for p in warm if op in p["ops"]) for op in ops]
    lat = [x for x in lat if x > 0]
    return {
        "cold_pass_s": cold["wall"],
        "pass_s": median(p["wall"] for p in warm),
        "query_geomean_s": math.exp(sum(math.log(x) for x in lat) / len(lat)) if lat else 0.0,
    }


def per_layer(runner: Runner, cold: dict, warm: list[dict], cores: int, app_id: str, log_dir: str) -> dict:
    """Per-layer metrics of ``runner``'s traced ``warm`` passes; ``cold`` is
    the cold pass of the run's first session."""
    events = measure.read_event_log(log_dir, app_id)
    # Stream queries run their jobs on their own threads under their own job
    # group, so their jobs are counted by time window in the event log.
    for p in warm:
        for op, o in p["ops"].items():
            if op in stream.PIPELINES:
                t1 = o["t0"] + o["build_s"]
                bj = measure.window_jobs(events, o["t0"], t1)
                ej = measure.window_jobs(events, t1, t1 + o["exec_s"])
                o.update({"build_jobs": bj[0], "build_stages": bj[1], "build_tasks": bj[2],
                          "exec_jobs": ej[0], "exec_stages": ej[1], "exec_tasks": ej[2]})

    def per_pass(key: str) -> float:
        return median(sum(o.get(key, 0) for o in p["ops"].values()) for p in warm)

    stages = per_pass("build_stages") + per_pass("exec_stages")
    tasks = per_pass("build_tasks") + per_pass("exec_tasks")
    out = {
        "build.s": per_pass("build_s"),
        "build.cold_s": sum(o["build_s"] for o in cold["ops"].values()),
        "build.jobs": per_pass("build_jobs"),
        "exec.s": per_pass("exec_s"),
        "exec.jobs": per_pass("exec_jobs"),
        "engine.stages": stages,
        "engine.tasks_per_stage": tasks / stages if stages else 0.0,
        "storage.cached_mb_end": median(p.get("cached_mb", 0.0) for p in warm),
    }
    windows = [
        {
            "ops": [(o["t0"], o["t0"] + o["build_s"] + o["exec_s"]) for o in p["ops"].values()],
            "build": [(o["t0"], o["t0"] + o["build_s"]) for o in p["ops"].values()],
        }
        for p in warm
    ]
    out.update(measure.fold_events(events, windows, cores))
    if runner.w.batches:
        out.update(stream.stream_layer(
            [p["handles"] for p in warm],
            [sum(o["exec_s"] for op, o in p["ops"].items() if op in stream.PIPELINES) for p in warm],
        ))
    return out


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    w = WORKLOADS[workload]
    env = fit_environment()
    stamp = {"loadavg_start": os.getloadavg(), **env}
    order = list(w.ops)
    random.Random(seed).shuffle(order)
    data_dir = prepare_inputs(w, seed)
    spans = measure.Spans()
    spark = None
    try:
        # Set-up: import pyspark, launch the JVM, build the session, run one
        # warm-up action.
        t0 = time.time()
        spark = build_session(env["nproc"], None)
        t1 = time.time()
        warm_up(spark)
        t2 = time.time()
        spans.add("session.start", t0, t1)
        spans.add("session.warmup", t1, t2)
        runner = Runner(spark, w, data_dir, order, track=False, spans=spans, phase="u")
        budget = seconds / 2 if trace else seconds
        ticks = measure.cpu_ticks()
        cold, warm, memory = measure_passes(runner, budget, check=True)
        ticks = [b - a for a, b in zip(ticks, measure.cpu_ticks())]
        stamp["cpu_steal_frac"] = ticks[1] / ticks[0] if ticks[0] else 0.0
        e2e = {"setup_s": t2 - t0, **end_to_end(cold, warm, order)}
        attempted, failed, failures = runner.attempted, runner.failed, dict(runner.failures)
        layers = {}
        if trace:
            spark.stop()
            log_dir = os.path.join(WORK, "eventlog")
            spark = build_session(env["nproc"], log_dir)
            app_id = spark.sparkContext.applicationId
            traced = Runner(spark, w, data_dir, order, track=True, spans=spans, phase="t")
            tcold, twarm, _ = measure_passes(traced, budget, check=False)
            attempted += traced.attempted
            failed += traced.failed
            failures.update({f"{k} (traced)": v for k, v in traced.failures.items()})
            spark.stop()
            spark = None
            layers = per_layer(traced, cold, twarm, env["nproc"], app_id, log_dir)
            layers["session.start_s"] = t1 - t0
            layers["session.warmup_s"] = t2 - t1
            layers["memory.peak_rss_mb"] = sum(memory.values())
            t_pass = end_to_end(tcold, twarm, order)["pass_s"]
            layers["trace.overhead_frac"] = t_pass / e2e["pass_s"] - 1.0 if e2e["pass_s"] else 0.0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    stamp["loadavg_end"] = os.getloadavg()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    values = layers if trace else e2e
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "order": order, "attempted": attempted, "failed": failed, "failures": failures,
        "fail_frac": failed / attempted, "end_to_end": e2e, "per_layer": layers, **stamp,
        "warm_pass_s": [p["wall"] for p in warm],
        "peak_memory": memory,
        "run_wall_s": time.time() - T_PROCESS,
        "op_warm_s": {
            op: median(p["ops"][op]["build_s"] + p["ops"][op]["exec_s"] for p in warm if op in p["ops"])
            for op in order
        },
        "op_cold_s": {op: v["build_s"] + v["exec_s"] for op, v in cold["ops"].items()},
    }
    tag = f"{workload}-s{seed}-t{int(trace)}"
    spans.write(os.path.join(WORK, "trace", f"{tag}.json"))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    log(json.dumps(detail, default=str))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared
        },
    }


def smoke() -> int:
    """Every workload's code path, checks and per-layer folding at sf0.001."""
    env = fit_environment()
    log_dir = os.path.join(WORK, "eventlog")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    report, measured = {}, set()
    for name, w in SMOKE.items():
        if name == "relational_known_defects":
            continue
        data_dir = prepare_inputs(w, 1)
        spark = build_session(env["nproc"], log_dir)
        try:
            runner = Runner(spark, w, data_dir, list(w.ops), track=True, spans=measure.Spans(), phase="s")
            cold = runner.run_pass(check=True)
            warm = [runner.run_pass(check=False)]
            app_id = spark.sparkContext.applicationId
        finally:
            spark.stop()
        layers = per_layer(runner, cold, warm, env["nproc"], app_id, log_dir)
        measured |= set(layers)
        report[name] = {"failed": runner.failed, "failures": runner.failures, **end_to_end(cold, warm, list(w.ops))}
        log(f"smoke {name}: {report[name]} {layers}")
    stop_jvm()
    # session.*, memory.* and trace.* come from the full run, not from a single session.
    unmeasured = sorted(
        declared - measured - {"session.start_s", "session.warmup_s", "memory.peak_rss_mb", "trace.overhead_frac"}
    )
    ok = all(r["failed"] == 0 for r in report.values()) and not unmeasured
    print(json.dumps({"smoke": report, "unmeasured": unmeasured, "correct": ok}), flush=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload at sf0.001, checks only")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sol_spark")):
        log(f"no sol_spark package next to {HERE}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
