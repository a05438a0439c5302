"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs one workload against the program in the surrounding checkout:
sets up several times (reporting the median), warms up, runs closed-
loop operations for ``--seconds``, checks the outputs, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics, writes
the spans to ``.perfbench_out/`` and prints a self-time table.
Everything the run writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/``. Exit codes: 0 ok, 1 a failed
operation or output check, 2 bad arguments, 3 no program to measure.
See perfbench/README.md for the workloads and the layer mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "stream_drain")
SETUP_REPS = 5
END_TO_END = {"setup_s": "s", "latency_s": "s", "items_per_s": "1/s"}


def _configure_env(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside the
    work dir, and let Python workers import the program from ROOT."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _start_session(work: str, cores: int, traced: bool):
    from timebox_spark import session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            # no hsperfdata file: the JVM would write it under /tmp
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # workers import the program from PYTHONPATH, so the per-context
    # package zip (written outside the checkout) is not needed
    session._SHIPPED.add(id(spark.sparkContext))
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _latency(samples: list[tuple[str, float]]) -> float:
    """Geometric mean, over operation kinds, of each kind's median
    latency: every query of a mix weighs the same, however slow."""
    kinds: dict[str, list[float]] = {}
    for kind, sec in samples:
        kinds.setdefault(kind, []).append(sec)
    return statistics.geometric_mean([_median(v) for v in kinds.values()]) if kinds else 0.0


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def _run(args, work: str) -> int:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _configure_env(work)
    try:
        import bench
        from timebox_spark.plans import queries as Q

        from perfbench import sparkstats
        from perfbench.tracing import Tracer, format_table, summarize

        if args.workload == "query_mix":
            from perfbench.query_mix import QueryMix as Workload
        else:
            from perfbench.stream_drain import StreamDrain as Workload
    except ImportError as e:
        print(f"perfbench: cannot import the program to measure: {e}", file=sys.stderr)
        return 3

    cores = len(os.sched_getaffinity(0))
    traced = args.trace == 1
    load_start = bench.machine_load()
    tracer = Tracer(traced)
    wl = Workload(tracer)
    # q01/q17 write their round-trip copies under the program's scratch
    # path; point it into the work dir so nothing lands outside
    Q._tmp = lambda prefix, sf_dir="": os.path.join(work, "scratch", prefix)
    spark = None
    try:
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()  # tearing down the last set-up is not set-up
            t0 = time.perf_counter()
            spark = _start_session(work, cores, traced)
            if rep == 0:
                session_start_s = time.perf_counter() - t0
            wl.setup(spark, os.path.join(work, f"setup{rep}"), args.seed)
            setups.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        progress = sparkstats.ProgressCollector()
        if traced:
            spark.streams.addListener(progress)
            wl.instrument()
        wl.warm(spark)
        warmup_s = time.perf_counter() - t0

        lat, items, failed, attempted, rss = [], 0, 0, 0, []
        wall0, t0 = time.time(), time.perf_counter()
        i = 0
        while True:
            try:
                op_lat, n = wl.step(spark, i)
                lat += op_lat
                items += n
                attempted += len(op_lat)
            except Exception:  # a failed operation is counted, and the loop goes on
                attempted += 1
                failed += 1
                print(f"perfbench: operation {i} failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
            rss.append(sparkstats.tree_peak_rss_mb())
            i += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
        wall_s = time.perf_counter() - t0
        wall1 = time.time()

        checks = wl.check(spark)
        attempted += len(checks)
        for name, err in checks.items():
            if err:
                failed += 1
                print(f"perfbench: output check failed: {name}: {err}", file=sys.stderr)
    finally:
        if spark is not None:
            _stop_session(spark)

    load_end = bench.machine_load()
    # contended: another JVM or Spark worker was alive. load1 is printed
    # as evidence but not judged: back-to-back runs leave the last run's
    # load in it
    contended = any(s["other_java_procs"] > 0 or s["other_pyspark_procs"] > 0
                    for s in (load_start, load_end))
    print(f"perfbench: workload={args.workload} seed={args.seed} cores={cores} "
          f"contended={str(contended).lower()} load1={load_start['load1']}"
          f"->{load_end['load1']} foreign_java={load_end['other_java_procs']}")
    print(f"perfbench: {i} operations, {len(lat)} latency samples, {len(checks)} output "
          f"checks, {len(setups)} set-ups ({', '.join(f'{s:.2f}' for s in setups)} s), "
          f"timed wall {wall_s:.2f} s")

    if traced:
        log = sparkstats.read_event_log(os.path.join(work, "eventlog"))
        metrics = layer_defaults()
        metrics.update({"session.start_s": session_start_s, "session.warmup_s": warmup_s,
                        "process.peak_rss_mb": max(rss)})
        metrics.update(sparkstats.runtime_metrics(log, wall0, wall1, wall_s, cores))
        metrics.update(wl.layer_metrics(log, progress.progress))
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.write(span_path)
        print(f"perfbench: {len(tracer.spans)} spans written to {os.path.relpath(span_path, ROOT)}")
        print(format_table(summarize(tracer.spans)))
        units = {m["name"]: m["unit"] for m in _declared("per_layer")}
    else:
        metrics = {
            "setup_s": _median(setups),
            "latency_s": _latency(lat),
            "items_per_s": items / wall_s,
        }
        units = END_TO_END
    for name in sorted(metrics):
        print(f"{name} = {metrics[name]:.6g} {units.get(name, '')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def layer_defaults() -> dict[str, float]:
    """Every declared per-layer metric at 0: a layer the workload does
    not enter did no work."""
    return {m["name"]: 0.0 for m in _declared("per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
