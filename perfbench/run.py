"""Knowledge-graph engine benchmark — one command, one workload per run.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that replays one op as serial
layer calls under spans and reports the per-layer metrics. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full report (settings, the workload-specific metric
names, sample counts, check failures). Spans go to
``.perfbench_work/<workload>-seed<seed>-trace.json``.

Exit code 0 means the run completed (``correct`` says whether the outputs
checked out); any other code means it could not run, and no result line is
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("batch_build", "graph_query", "stream_update", "fuzzy_build")


def host_settings(work: str) -> dict:
    """Session settings fitted to the host, all recorded in the output."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # the build's working set at these corpus sizes is ~1-2 GB; leave the
    # rest of a 15 GB host to the Python workers and the page cache
    driver_gb = max(2, min(4, int(mem_gb * 0.25)))
    return {
        "cores": cores,
        "mem_total_gb": round(mem_gb, 1),
        "driver_memory": f"{driver_gb}g",
        # a quarter of the heap as a fixed young generation (see spark_conf)
        "driver_young": f"{driver_gb * 256}m",
        "shuffle_partitions": 2 * cores,
        "workdir": work,
        "python": sys.version.split()[0],
    }


def set_env(settings: dict) -> None:
    """Environment the JVM and its Python workers inherit. Workers import
    the package by module path, so the checkout root goes on PYTHONPATH;
    every temporary file stays inside the checkout."""
    work = settings["workdir"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit starts first to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for k in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(k, None)


def spark_conf(settings: dict, trace: bool) -> dict:
    """Session conf. The driver heap is committed at its full size from the
    start (``-Xms`` = ``-Xmx``) with a fixed young generation (``-Xmn``):
    left to itself, G1 grows the heap when GC pauses take a larger share of
    wall time, so the JVM's resident memory, and ``peak_rss_mb`` with it,
    followed host speed (runs of the same code spread by 25%). Committed
    pages only become resident when touched, so the JVM's part of the peak
    is still the young generation plus the old-generation regions the
    program fills."""
    work = settings["workdir"]
    heap = f"-Xms{settings['driver_memory']} -Xmn{settings['driver_young']}"
    conf = {
        "spark.driver.memory": settings["driver_memory"],
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData {heap}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "4140",
                     "spark.port.maxRetries": "64"})
    return conf


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired: force it
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        import research_knowledge_graph_spark  # noqa: F401
    except ModuleNotFoundError as exc:
        print(f"perfbench: cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    settings = host_settings(work)
    set_env(settings)

    import spec
    import workloads as W
    from harness import RssSampler, Tracer
    from research_knowledge_graph_spark.session import get_spark

    conf = spark_conf(settings, bool(args.trace))
    settings.update(conf)
    with RssSampler() as rss:
        t_session = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            shuffle_partitions=settings["shuffle_partitions"],
            extra_conf=conf,
        )
        ctx = W.Ctx(spark, args.seed, args.seconds, settings["cores"], work, T0)
        ctx.report["setup_session_s"] = time.perf_counter() - t_session
        ctx.mark("session")
        try:
            if args.trace:
                tr = Tracer(spark.sparkContext, settings["cores"])
                out = W.TRACED[args.workload](ctx, tr, T0)
                metrics = spec.layer_metrics(tr, out["untraced_wall_s"], out["root"])
                units = spec.PER_LAYER
                trace_path = os.path.join(
                    ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace.json")
                with open(trace_path, "w") as f:
                    json.dump({"spans": tr.dump(), "report": ctx.report}, f, indent=1, default=str)
                ctx.report["trace_file"] = trace_path
            else:
                metrics = W.TIMED[args.workload](ctx, T0)
                units = {n: u for n, u, _, _ in spec.END_TO_END}
        finally:
            stop_jvm(spark)
    ctx.mark("stopped")
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak
    shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "peak_rss_mb": rss.peak, **ctx.report,
        "check_failures": ctx.failures,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.oplog.attempted,
        "failed": ctx.oplog.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
