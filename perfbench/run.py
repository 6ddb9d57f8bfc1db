"""Pipeline benchmark: one workload per invocation, run from the checkout root.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Starts one Spark session on ``local[<nproc>]``, sets the workload up, times
its build, repeats its pass until ``--seconds`` have elapsed, checks the
outputs and prints, as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
traced passes alternated with untraced ones (see ``perfbench/README.md``).
The line before it records the host: nproc, Spark master, shuffle
partitions and a host probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def host_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a load marker for the host."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cpus: int):
    from feature_store_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark, cpus: int) -> None:
    """Start the Python workers (one per task slot) before timing."""

    def ident(batches):
        yield from batches

    df = spark.range(0, 4 * cpus, numPartitions=cpus)
    df.mapInPandas(ident, df.schema).write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (AttributeError, OSError):
                pass
            proc.wait(timeout=60)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args, spec: dict, work: str) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS, median

    cpus = nproc()
    probe = host_probe()
    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    warm_python_workers(spark, cpus)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](
        spark, tracer, args.seed, os.path.join(BENCH, "data"), work)
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0

        # timed region: the build, an untimed start, then passes until
        # --seconds have elapsed since the first one and the workload's
        # minimum number of passes ran; with --trace, untraced and traced
        # passes alternate, starting and ending untraced
        walls = {False: [], True: []}
        ops = {False: [0, 0], True: [0, 0]}
        start = time.perf_counter()

        def attempt(fn, traced: bool) -> float | None:
            tracer.enabled = traced
            a0, f0 = wl.attempted, wl.failed
            t = time.perf_counter()
            try:
                fn(traced)
                wall = time.perf_counter() - t
            except Exception:  # noqa: BLE001 — a failed call is counted
                traceback.print_exc(file=sys.stderr)
                wl.failed += 1
                wl.attempted = max(wl.attempted, a0 + 1)
                wall = None
            ops[traced][0] += wl.attempted - a0
            ops[traced][1] += wl.failed - f0
            return wall

        build_s = attempt(wl.build, bool(args.trace))
        if build_s is not None and attempt(
                lambda _: wl.start_passes(), False) is None:
            build_s = None
        passes_start = time.perf_counter()
        i = 0
        while build_s is not None:
            traced = bool(args.trace) and i % 2 == 1
            wall = attempt(wl.run_pass, traced)
            if wall is not None:
                walls[traced].append(wall)
            i += 1
            if (time.perf_counter() - passes_start < args.seconds
                    or i < wl.MIN_PASSES):
                continue
            if not args.trace or (i >= 3 and i % 2 == 1):
                break
        timed_s = time.perf_counter() - start
        tracer.enabled = bool(args.trace)
        if args.trace and build_s is not None:
            wl.measure_layers()

        correct = len(walls[False]) > wl.WARMUP_PASSES
        t = time.perf_counter()
        try:
            wl.check()
        except Exception:  # noqa: BLE001 — any check error fails the run
            traceback.print_exc(file=sys.stderr)
            correct = False
        check_s = time.perf_counter() - t
    finally:
        wl.close()
        stop_session(spark)

    def ok_frac(side: bool) -> float:
        att, fail = ops[side]
        return 1.0 - fail / att if att else 0.0

    if not args.trace:
        measured = {
            "setup_s": setup_s,
            "build_s": build_s or 0.0,
            "pass_s": median(walls[False][wl.WARMUP_PASSES:]),
            "ops_ok_frac": ok_frac(False),
        }
        wanted = spec["end_to_end"]
    else:
        untraced = median(walls[False][wl.WARMUP_PASSES:])
        traced_ = median(walls[True])
        measured = {
            **wl.layer,
            "setup.session_s": session_s,
            "setup.gen_s": wl.gen_s,
            "setup.prepare_s": setup_s - session_s - wl.gen_s,
            "traced.setup_s": setup_s,
            "traced.build_s": build_s or 0.0,
            "traced.pass_s": traced_,
            "trace_overhead.pass_s":
                traced_ / untraced - 1 if untraced and traced_ else 0.0,
            "trace_overhead.ops_ok_frac": ok_frac(True) - ok_frac(False),
        }
        wanted = spec["per_layer"]
    unknown = set(measured) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "host_probe_s": probe,
        "passes": len(walls[False]) + len(walls[True]),
        "pass_walls_s": walls[False] + walls[True],
        "pass_parts_s": wl.parts,
        "timed_s": timed_s,
        "check_s": check_s,
    }
    print(json.dumps({"run_info": info}))
    return {
        "correct": correct,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        # a layer the workload does not exercise reports 0
        "metrics": {
            m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "feature_store_spark")):
        print(f"perfbench: no feature_store_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    # Python workers import the engine from the checkout; native thread
    # pools stay at one thread each so the run uses at most nproc threads
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    work = os.path.join(BENCH, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # temporary files of Python and of every JVM stay inside the run's
    # directory, and no JVM writes a perf-data file outside it
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
