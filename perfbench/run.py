"""End-to-end benchmark of the KG-construction engine.

Runs one workload (see workloads.py) as a closed loop with one client:
one job at a time from a single process on ``local[nproc]`` with the
program's own session defaults (``session.get_spark``). Usage, from the
repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run (prefix ladder + one traced job, and
for kg_build the splice and lineage ladders over the same corpus) and
the tracing overhead. Inputs are generated from ``--seed`` and cached
per (workload, seed, size) under ``.perfbench_work/``; every other file
the run writes goes there too. Every job's outputs are checked against
independent truth; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``, and the exit code is
non-zero when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
# a job here is 4-15 s, mostly fixed per-Spark-job cost, and a run (JVM
# start and the warm-up jobs included) should stay near a minute: two
# timed jobs, so the median is not one sample, and more when --seconds allows.
# The first jobs after a cold start are still getting faster (JIT), at a
# rate that differs from run to run: two warm-up jobs, and a --seconds below
# two jobs keeps the job count, and with it the median, the same from run
# to run.
MIN_TIMED_JOBS = 2
WARM_UP_JOBS = 2

# Confinement only: these move Spark's scratch files into the work dir and
# silence the console progress bar. No engine default is overridden.
def session_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def noise_probe_s() -> float:
    """bench.py's single-thread noise probe: a fixed Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i * i
    return time.perf_counter() - t0


def git_commit() -> str | None:
    """HEAD of the repository, when the benchmark runs in a git clone."""
    import subprocess

    if not (REPO / ".git").exists():
        return None
    try:
        proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return proc.stdout.strip() if proc.returncode == 0 else None


def source_digest() -> str:
    """Identifies the engine code measured, also in a plain source tree."""
    import hashlib

    h = hashlib.sha256()
    for f in sorted((REPO / "csv_to_jsonld_processor_spark").rglob("*.py")):
        h.update(f.relative_to(REPO).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def environment(spark, nproc: int, probe_s: float) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "commit": git_commit(),
        "source_digest": source_digest(),
        "noise_probe_s": round(probe_s, 3),
        "session_conf_overrides": session_conf(Path("<work>")),
    }


def tail(values: list[float]) -> dict:
    """The highest of p99/p90 with at least ten samples beyond it."""
    for q in (99, 90):
        if len(values) * (100 - q) / 100 >= 10:
            return {f"p{q}_s": statistics.quantiles(values, n=100, method="inclusive")[q - 1]}
    return {}


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_job(wl, spark, out: Path) -> dict:
    """One job, outputs checked; the check is not timed."""
    shutil.rmtree(out, ignore_errors=True)
    wl.reset()
    rec: dict = {"errors": []}
    t0 = time.perf_counter()
    try:
        rec["triples"] = wl.job(spark, out)
        rec["seconds"] = time.perf_counter() - t0
        rec["output_mb"] = sum(f.stat().st_size for f in out.rglob("*") if f.is_file()) / (1 << 20)
        t1 = time.perf_counter()
        rec["errors"] = wl.check(out)
        rec["check_s"] = time.perf_counter() - t1
    except Exception as e:  # a failed job is counted, and the run goes on
        rec.setdefault("seconds", time.perf_counter() - t0)
        rec["errors"] = [f"{type(e).__name__}: {e}"]
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size (pages, or products for manifest_jsonld); default per workload")
    ap.add_argument("--work", default=".perfbench_work", help="directory for all files written")
    args = ap.parse_args(argv)

    if not (REPO / "csv_to_jsonld_processor_spark" / "__init__.py").is_file() or \
            not (REPO / "tests" / "oracle_reference.py").is_file():
        print(f"perfbench: engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(REPO), str(BENCH)]
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS, Layers

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = Path(args.work).resolve()
    run_dir = work / "runs" / str(os.getpid())  # outputs and job state of this run only
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # the launcher JVM spark-submit starts first writes /tmp/hsperfdata_* too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # Python workers start from the JVM's environment: without the package
    # on their path every task fails with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p)
    nproc = len(os.sched_getaffinity(0))

    wl = WORKLOADS[args.workload](args.seed, work, run_dir, args.size)
    wl.prepare()  # cached input generation + truth: not part of setup_s
    probe_s = noise_probe_s()

    t_setup = time.perf_counter()
    from csv_to_jsonld_processor_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}", cpus=nproc, extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler()
    jobs: list[dict] = []
    try:
        wl.setup(spark)
        out = run_dir / "out"
        check_s = 0.0
        for _ in range(WARM_UP_JOBS):  # codegen, Python workers, caches, JIT
            warm = run_job(wl, spark, out)
            jobs.append(warm)
            check_s += warm.get("check_s", 0.0)
        setup_s = time.perf_counter() - t_setup - check_s
        env = environment(spark, nproc, probe_s)

        timed: list[dict] = []
        if args.trace:  # no job_s is reported: one untraced job precedes the ladder
            n_jobs, seconds = 1, 0.0
        else:
            n_jobs, seconds = MIN_TIMED_JOBS, args.seconds
        t_run = time.perf_counter()
        with sampler.sampling():
            while len(timed) < n_jobs or time.perf_counter() - t_run < seconds:
                timed.append(run_job(wl, spark, out))
        jobs.extend(timed)
        job_s = statistics.median(j["seconds"] for j in timed)

        if args.trace:
            layers = Layers()
            tracer = Tracer(spark, uuid.uuid4().hex[:12], wl.watched)
            shutil.rmtree(out, ignore_errors=True)
            wl.reset()
            with tracer.span(f"trace:{wl.name}", **wl.describe()):
                full = wl.ladder(spark, tracer, out, layers)
            jobs.append({"seconds": full["seconds"], "errors": wl.check(out)})
            after = run_job(wl, spark, out)
            jobs.append(after)
            # the traced job against the untraced jobs either side of the ladder
            layers.values["trace.overhead_s"] = (
                full["seconds"] - (timed[-1]["seconds"] + after["seconds"]) / 2)
            jobs.extend(wl.side_ladders(spark, tracer, out, layers))
            layers.values["peak_rss_mb"] = sampler.peak_mb
            metrics = per_layer_metrics(layers.values)
            trace_file = work / "traces" / f"{wl.name}-seed{args.seed}-{tracer.run_id}.json"
            tracer.write(trace_file, env=env, layers=layers.values)
            print_layer_table(wl.name, metrics, trace_file)
        else:
            triples = statistics.median(j.get("triples", 0) for j in timed)
            metrics = {
                "job_s": (job_s, "s"),
                "triples_per_s": (triples / job_s, "triples/s"),
                "setup_s": (setup_s, "s"),
                "output_mb": (statistics.median(j.get("output_mb", 0.0) for j in timed), "MB"),
            }
    finally:
        sampler.close()
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for j in jobs if j["errors"])
    for j in jobs:
        for e in j["errors"]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
    seconds = [j["seconds"] for j in timed]
    print(json.dumps({"env": env, "workload": wl.describe(), "error_rate": failed / len(jobs),
                      "job_samples": len(seconds), **tail(seconds),
                      "job_seconds": [round(x, 4) for x in seconds]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def per_layer_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of BENCHMARK.json; layers a workload does
    not run report 0."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())["per_layer"]
    return {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in spec}


def print_layer_table(workload: str, metrics: dict, trace_file: Path) -> None:
    print(f"per-layer ({workload}); spans in {trace_file}")
    for name, (value, unit) in metrics.items():
        if value:
            print(f"  {name:48s} {value:14.4f} {unit}")


if __name__ == "__main__":
    sys.exit(main())
