"""Per-query profiler for optimization work: times registry queries in
the bench's warm-isolated mode (caches drained first) and reports
job/stage counts, task time, shuffle bytes and the slowest stages from
the driver's status store (``spark_metrics.measure``) — the measurement
loop of guide §1.

Usage:
    python tools/profile_query.py q_name [q_name ...] [--repeat N]
    python tools/profile_query.py --top 20          # slowest from BENCH_DETAIL.json

Prints one line per query: wall seconds, #jobs, #stages, #tasks, task
time, shuffle read/write MB, and the 5 slowest stages with their names.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bamboo_spark import queries as _q
from bamboo_spark.operators import release_caches
from bamboo_spark.session import get_spark
from spark_metrics import measure


def profile(names, sf_dir, repeat=1):
    spark = get_spark("bamboo_profile")
    registry = _q._queries_raw()

    # warmup (same as bench.py): absorb process-global JVM costs
    for wq in ("q1_pricing_summary", "simhash_signatures", "pack_chunks"):
        try:
            registry[wq](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass
    release_caches()

    results = {}
    for name in names:
        best = None
        for _ in range(repeat):
            release_caches()
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            t_build = time.perf_counter() - t0

            def run():
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter()

            t1, n_jobs, stages = measure(spark, "profile:" + name, run)
            wall = t1 - t0
            slowest = sorted(stages, key=lambda s: -s["run_s"])[:6]
            rec = {
                "wall_s": round(wall, 2),
                "build_s": round(t_build, 2),
                "jobs": n_jobs,
                "stages": len(stages),
                "tasks": sum(s["tasks"] for s in stages),
                "task_time_s": round(sum(s["run_s"] for s in stages), 1),
                "shuffle_read_mb": round(
                    sum(s["shuffle_read_b"] for s in stages) / 1e6, 1
                ),
                "shuffle_write_mb": round(
                    sum(s["shuffle_write_b"] for s in stages) / 1e6, 1
                ),
                "slow_stages": [
                    (round(s["run_s"], 1), s["tasks"], s["name"][:90])
                    for s in slowest
                ],
            }
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
        results[name] = best
        print(
            "%-32s wall=%6.2fs build=%5.2fs jobs=%3d stages=%4d tasks=%5d "
            "taskT=%7.1fs shR=%7.1fMB shW=%7.1fMB"
            % (
                name,
                best["wall_s"],
                best["build_s"],
                best["jobs"],
                best["stages"],
                best["tasks"],
                best["task_time_s"],
                best["shuffle_read_mb"],
                best["shuffle_write_mb"],
            ),
            flush=True,
        )
        for st in best["slow_stages"]:
            print("      stage %6.1fs tasks=%-4d %s" % st, flush=True)
    release_caches()
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(args.names)
    if args.top:
        detail = json.load(
            open(os.path.join(os.path.dirname(__file__), "..", "BENCH_DETAIL.json"))
        )
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        names += [k for k, _ in ranked[: args.top] if k not in names]
    res = profile(names, sf_dir, repeat=args.repeat)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(res, fh, indent=1)


if __name__ == "__main__":
    main()
