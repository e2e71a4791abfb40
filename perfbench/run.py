"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nested_ingest --seed 1 --seconds 1 --trace 0

From the repository root (or any directory: paths resolve from this
file). The run makes its inputs from ``--seed``, starts one Spark
session on ``local[<cpus>]``, runs one or two full warm-up passes, then
runs whole passes of the workload's op list until ``--seconds`` have
elapsed, at least one. Every op's output is checked; a failed or wrong
op is counted, never retried.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics instead. Both write the op
records (and, traced, the spans and per-op jobs) to ``.perfbench_out/``.
The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every op succeeded and matched its expected answer.

Everything the run writes (generated inputs, Spark local dirs, the JVM
and Python temp dirs) goes under ``.perfbench_run/<workload>-<pid>``,
which is deleted at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from spans import OPERATOR_MODULES, Recorder, median  # noqa: E402

# Spark warns once per read of a sidecar dir whose name starts with "_";
# the flood would bury everything else the run logs.
QUIET_LOGGER = "org.apache.spark.sql.execution.datasources.DataSource"


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def hermetic_env(run_dir: str) -> dict:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers into ``run_dir``, and give the workers the
    repository on their import path."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options -Djava.io.tmpdir=%s pyspark-shell" % dirs["tmp"]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["BAMBOO_DRIVER_MEM"] = "3g"
    for key in ("SPARK_MASTER", "BAMBOO_SHUFFLE_PARTITIONS"):
        os.environ.pop(key, None)
    os.chdir(run_dir)  # stray files (derby.log, spark-warehouse) land here
    return dirs


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open("/proc/%s/stat" % entry) as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark() -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started (Python workers) have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    family = _descendants(proc.pid) if os.path.isdir("/proc") else []
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in family:
        while os.path.exists("/proc/%d" % pid) and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists("/proc/%d" % pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def jvm_stats(spark) -> dict:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "peak_mb": sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()) / 1e6,
    }


def run(args, dirs) -> tuple:
    from bamboo_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench-" + args.workload)
    start_s = time.perf_counter() - t
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        QUIET_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    traced = bool(args.trace)
    rec = Recorder(spark, traced)
    if traced:
        import importlib

        # before the registry is imported, so names it binds at import
        # time are the wrapped ones
        for mod in OPERATOR_MODULES:
            rec.wrap_module(importlib.import_module("bamboo_spark.operators." + mod), "operators." + mod)

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, rec, args.seed, dirs["work"])
    t = time.perf_counter()
    wl.setup()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    for n in range(wl.WARM_PASSES):
        wl.run_pass(-n)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T0
    gc0 = jvm_stats(spark)["gc_s"]
    n_warm = len(rec.ops)

    passes, jobs = [], []
    deadline = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() < deadline:
        j = rec.next_job()
        t = time.perf_counter()
        wl.run_pass(len(passes) + 1)
        passes.append(time.perf_counter() - t)
        jobs.append(rec.next_job() - j)
    timed = rec.ops[n_warm:]
    print("perfbench: %d timed passes: %s s" % (len(passes), " ".join("%.3f" % p for p in passes)), file=sys.stderr)

    failed = [op for op in rec.ops if op.error is not None]
    for op in failed:
        print("perfbench: op %d %s failed: %s" % (op.id, op.kind, op.error), file=sys.stderr)
    result = {
        "correct": not failed,
        "attempted": len(rec.ops),
        "failed": len(failed),
    }
    if not traced:
        by_kind: dict = {}
        for op in timed:
            by_kind.setdefault(op.kind, []).append(op.wall_s)
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": median(passes), "unit": "s"},
            "jobs_per_pass": {"value": float(median(jobs)), "unit": "count"},
            "op_geomean_ms": {
                "value": 1e3 * math.exp(
                    sum(math.log(median(v)) for v in by_kind.values()) / len(by_kind)
                ),
                "unit": "ms",
            },
        }
        return result, None, rec

    stats = jvm_stats(spark)
    layer = {
        "session.start_s": start_s,
        "session.gen_s": gen_s,
        "session.warmup_s": warmup_s,
        "session.jvm_peak_mb": stats["peak_mb"],
        "spark.gc_s": stats["gc_s"] - gc0,
        "spark.jobs_untagged": float(sum(op.untagged for op in timed)),
        "spark.jobs_evicted": float(sum(op.evicted for op in rec.ops)),
        "trace.read_s": rec.read_s,
        "trace.pass_s": median(passes),
        "ops.failed_share": len(failed) / len(rec.ops),
    }
    layer.update(wl.layer_metrics(timed, len(passes)))
    return result, layer, rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bamboo_spark", "__init__.py")):
        print("perfbench: no bamboo_spark package next to %s" % HERE, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print("perfbench: unknown workload %r" % args.workload, file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", "%s-%d" % (args.workload, os.getpid()))
    dirs = hermetic_env(run_dir)
    try:
        result, layer, rec = run(args, dirs)
    finally:
        stop_spark()
        os.chdir(ROOT)
        leaked_mb = (_dir_bytes(dirs["tmp"]) + _dir_bytes(dirs["local"])) / 1e6
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rec.dump(os.path.join(out_dir, "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace)))
    if layer is not None:
        layer["session.leaked_mb"] = leaked_mb
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = sorted(set(layer) - set(units))
        if unknown:
            raise SystemExit("perfbench: per-layer metrics missing from BENCHMARK.json: %s" % unknown)
        # a layer the workload never calls did no work: its numbers are 0
        result["metrics"] = {
            n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in units.items()
        }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
