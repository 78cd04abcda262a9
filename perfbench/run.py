"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from ``--seed`` under
``.perfbench_work/`` (nothing outside the checkout is read or written),
runs one workload (see workloads.py and spec.json), checks the outputs
and prints, as its last stdout line, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` the per-layer metrics. The line before it is the run's
report: host and session stamp, the workload metrics by name and
the check details. Exits non-zero without a result line when the engine
package is missing or the run fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

from checks import median
from tracing import RssSampler, Tracer, descendants, fold_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HISTORY = os.path.join(WORK, "history.jsonl")
RUN_DEADLINE_S = 170


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def host_stamp() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 1e6, 2),
            "python": platform.python_version()}


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


# The engine's 48g default driver heap does not fit small hosts, and the
# benchmark's inputs are small.
DRIVER_MEM = "1g"


class Ctx:
    """State of one run, shared with the workload function."""

    def __init__(self, args, spec: dict, work: str):
        self.seed, self.seconds = args.seed, args.seconds
        self.spec, self.work = spec, work
        self.spark = self.tracer = None
        self.setup_s: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.attempted = self.failed = 0
        self.exec_jobs = None  # job_pred for the event-log fold
        self.untraced: list[dict] = []  # earlier untraced runs of this code

    def setup(self, phase: str, fn, reps: int = 1):
        """Run a set-up phase ``reps`` times, keep the median time and the
        last result. Set-up jobs run in the ``setup`` job group."""
        times, out = [], None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = self.tracer.run("setup", fn)
            times.append(time.perf_counter() - t0)
        self.setup_s[phase] = median(times)
        return out

    def attempt(self, n: int, failed: int) -> None:
        self.attempted += n
        self.failed += failed


def start_session(ctx: Ctx, args, host: dict):
    from real_time_fraud_detection_system_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=ctx.spec["cpus"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ctx.setup_s["session"] = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer = Tracer(spark, bool(args.trace))
    ctx.report["host"] = {**host, "spark": spark.version,
                          "java": spark._jvm.System.getProperty("java.version"),
                          "conf": dict(sorted(spark.sparkContext.getConf().getAll()))}
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and the driver JVM, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    # Python workers exit once the JVM is gone; wait for the last of them
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def code_version() -> str:
    """Hash of the engine package and the benchmark's code and spec, so
    history rows of other code are never compared with this run."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "real_time_fraud_detection_system_spark"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if not f.endswith((".py", ".json")):
                    continue
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def history(workload: str, trace: int, code: str) -> list[dict]:
    """Earlier runs of this workload by the same code in this checkout."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        rows = [json.loads(ln) for ln in f if ln.strip()]
    key = (workload, trace, code)
    return [r for r in rows if (r["workload"], r["trace"], r["code"]) == key]


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.time()

    sys.path.insert(0, ROOT)
    try:
        import real_time_fraud_detection_system_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    spec = load_json("spec.json")
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_DEADLINE_S)
    specs = metric_specs(bool(args.trace))
    code = code_version()

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_stamp()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SIGCACHE"] = os.path.join(work, "sigcache")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM would otherwise write its perf-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)

    ctx = Ctx(args, spec, work)
    if args.trace:
        ctx.untraced = history(args.workload, 0, code)
    ticks0 = cpu_ticks()
    rss = RssSampler().start()
    spark = start_session(ctx, args, host)
    try:
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        # the last sample sees the JVM's peak before it shuts down
        peak_gb = rss.stop()
        stop_session(spark)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    # CPU time other tenants took from this host while the run was going
    ctx.report["host"]["steal_share"] = ticks[7] / max(sum(ticks), 1)

    ctx.e2e["setup_s"] = sum(ctx.setup_s.values())
    ctx.e2e["peak_rss_gb"] = peak_gb
    if args.trace:
        ctx.layer["session.start_s"] = ctx.setup_s["session"]
        if ctx.exec_jobs is not None:
            # job counts already taken from the status tracker win
            folded = fold_event_log(os.path.join(work, "eventlog"), ctx.exec_jobs)
            for k, v in folded.items():
                ctx.layer.setdefault(k, v)
        prev = [r for r in history(args.workload, 1, code) if r["seed"] == args.seed]
        if prev:
            counts = [m["name"] for m in specs if m["unit"] == "count" and m["name"] in ctx.layer]
            ctx.report["exact_counts"] = [
                n for n in counts if prev[-1]["metrics"].get(n) == ctx.layer[n]]
    values = ctx.layer if args.trace else ctx.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in specs}

    ctx.report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "code": code,
        "setup_phases_s": ctx.setup_s, "end_to_end": ctx.e2e,
        "failed_share": ctx.failed / max(ctx.attempted, 1),
        "wall_s": time.time() - t_begin,
    })
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "code": code,
                            "metrics": {**ctx.e2e, **ctx.layer}}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(ctx.report, default=str))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
