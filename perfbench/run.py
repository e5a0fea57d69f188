"""MeerTRAP ETL benchmark: one workload per run, timed end to end, or
traced layer by layer with ``--trace 1``.

Usage, from the repository root:

    python3 perfbench/run.py --workload tree_ingest --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
records the environment. Everything the run writes stays under
``.perfbench/`` in the repository root; inputs and outputs are deleted at
the end, span records are kept under ``.perfbench/traces/``.

See perfbench/README.md for the workloads and metrics.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# setup_s covers exactly these imports, the session and one trivial job
from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted  # noqa: E402
from spans import STATUS_CONF  # noqa: E402

TRACE_DIR = os.path.join(ROOT, ".perfbench", "traces")


def session_conf(work: str) -> dict[str, str]:
    return {
        # no UI server or console progress bar; the status store that the
        # metrics read is kept either way
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        **STATUS_CONF,
    }


def open_session(work: str):
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    spark = get_spark(app_name="perfbench", conf=session_conf(work))
    spark.range(1).count()
    return spark, time.perf_counter() - T0


def close_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def environment(spark) -> dict:
    import hashlib
    import subprocess

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or None
    except OSError:
        sha = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "ska_src_maltopuft_etl_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "git_sha": sha,
        "source_sha256": digest.hexdigest(),
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("tree_ingest", "warehouse_load"), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = p.parse_args()

    import json
    import shutil

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    load_start = os.getloadavg()
    spark, setup_s = open_session(work)
    try:
        import spans
        import workloads

        spark.sparkContext.setLogLevel("ERROR")
        env = environment(spark)
        pid = jvm_pid(spark)
        wl = workloads.WORKLOADS[args.workload](f"{work}/in", args.seed, scale=args.scale)

        attempted = failed = 0
        problems: list[str] = []

        def iterate(tracer: spans.Tracer) -> float:
            """One checked iteration; its wall time, check excluded."""
            nonlocal attempted, failed
            out = f"{work}/out/{attempted}"
            attempted += 1
            t = time.perf_counter()
            bad = None
            try:
                wl.iteration(spark, tracer, out)
            except Exception as e:  # an iteration that raises counts as failed
                bad = [f"{type(e).__name__}: {e}"]
            wall = time.perf_counter() - t
            if bad is None:
                bad = wl.check(out)
            if bad:
                failed += 1
                problems.extend(f"iteration {attempted}: {b}" for b in bad)
            shutil.rmtree(out, ignore_errors=True)
            release_all_persisted(spark)
            return wall

        if not traced:
            first_job = spans.next_job_id(spark)
            measure_start = time.perf_counter()
            first_run_s = iterate(spans.Tracer(spark, False))
            n_jobs, stage_ids = spans.jobs_from(spark, first_job)
            executor_cpu_s = spans.sum_stages(spans.stage_table(spark), stage_ids)["cpu_s"]
            # the first iteration's size in the status store
            env.update(iteration_jobs=n_jobs, iteration_stages=len(stage_ids))
            # later iterations are checked, not reported: a run reports
            # the first iteration of a fresh session
            while time.perf_counter() - measure_start < args.seconds:
                iterate(spans.Tracer(spark, False))
            metrics = {
                "first_run_s": (first_run_s, "s"),
                "executor_cpu_s": (executor_cpu_s, "s"),
                "setup_s": (setup_s, "s"),
            }
        else:
            # one cold traced iteration, the same first iteration the
            # untraced run measures
            tracer = spans.Tracer(spark, True)
            traced_wall = iterate(tracer)
            layer = tracer.metrics()
            layer["traced_first_run_s"] = traced_wall
            layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(pid)
            layer["trace_overhead_s"] = tracer.overhead_s
            records = tracer.records()
            metrics = {
                k: (layer.get(k, 0.0), unit) for k, unit in workloads.layer_metrics().items()
            }
        close_session(spark)
        spark = None
    finally:
        if spark is not None:
            close_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    env.update(workload=args.workload, seed=args.seed, trace=args.trace,
               loadavg_start=load_start, loadavg_end=os.getloadavg())
    if traced:
        os.makedirs(TRACE_DIR, exist_ok=True)
        with open(f"{TRACE_DIR}/{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"env": env, "spans": records, "metrics": layer}, f, indent=1)
    for msg in problems:
        print(msg, file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
