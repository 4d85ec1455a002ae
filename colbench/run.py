"""Run one benchmark workload and print its result as the last stdout line.

    python3 colbench/run.py --workload {ingest,scan,serve} --seed N \\
        --seconds S --trace {0,1}

Run it from the root of a checkout: it measures the engine package in
that checkout, on ``local[nproc]`` with driver memory sized from
``/proc/meminfo``. Each run gets a private ``TMPDIR``, Spark local
directory and JVM temp directory under ``.colbench/work/`` (removed at
the end), so the package zip that Spark ships to its Python workers is
always built from this checkout. With ``--trace 1`` the spans are
written to ``.colbench/traces/`` and the per-layer metrics are printed
instead of the end-to-end ones. See README.md.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "wills_columnar_format_spark"


def process_age_at_start() -> float:
    """Seconds between this process's creation and ``_T0``."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return max(0.0, age - (time.perf_counter() - _T0))


def spark_env() -> dict:
    """Cores (and shuffle partitions, hence files per encode) from the
    CPUs this process may use; driver memory a quarter of ``MemTotal``."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024 // 4
    return {"cores": cores, "shuffle_partitions": cores,
            "driver_memory": f"{max(1024, mem_mb)}m"}


def isolate(work: str) -> None:
    """Point every temporary and Spark scratch location into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_TMPFS_SHUFFLE"] = "0"
    # the JVM ignores TMPDIR; UsePerfData off keeps hsperfdata out of /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "scan", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every table size (tests use tiny runs)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "engine.py")):
        print(f"colbench: no {PACKAGE} package in {root}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    base = os.path.join(root, ".colbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    try:
        result = run(args, root, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, root: str, base: str, work: str) -> dict:
    from spans import Tracer
    from workloads import CODECS, Workload

    import checks
    import kernels

    tracer = Tracer(enabled=bool(args.trace))
    env = spark_env()
    wl = Workload(args.workload, args.seed, args.seconds, tracer, work, env,
                  scale=args.scale)
    correct = True
    per_layer, detail = {}, {}
    try:
        wl.setup()
        wl.warm_up()
        setup_s = process_age_at_start() + time.perf_counter() - _T0
        window = wl.timed_loop()
        if args.workload == "ingest":
            wl.verify_last()
            wl.manifest_stats = wl._manifest_stats(wl.ck)
        detail = wl.detail()
        e2e = wl.end_to_end(setup_s, window)
        if args.trace:
            wl.sweep()
            kernel = wl.kernels()
    except checks.CheckFailed:
        traceback.print_exc()
        correct = False
    finally:
        if hasattr(wl, "spark"):
            stop_spark(wl.spark)
    attempted, failed = len(wl.ops) + wl.failed, wl.failed
    if not correct:
        return {"correct": False, "attempted": max(1, attempted),
                "failed": failed, "metrics": {}}
    if args.trace:
        machine = kernels.membw(root, env["cores"])
        per_layer = wl.per_layer(kernel, machine)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}-"
                                         f"{os.getpid()}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "codecs": list(CODECS),
                     "end_to_end_traced": e2e, "detail": detail,
                     "per_layer": per_layer, "kernel": kernel,
                     "machine": machine})
    print("detail " + json.dumps(detail))
    return {"correct": True, "attempted": attempted, "failed": failed,
            "metrics": declared(root, "per_layer" if args.trace
                                else "end_to_end", per_layer or e2e)}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, which otherwise happens only at our exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def declared(root: str, kind: str, values: dict) -> dict:
    """The metrics ``BENCHMARK.json`` declares for this mode, with their
    units; a declared metric the run did not measure is an error."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


if __name__ == "__main__":
    sys.exit(main())
