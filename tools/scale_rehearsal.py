"""10x scale rehearsal (round-12 verdict #7): run the isolated
heavy-family queries once against a synthetic 10x documents table
(sf0.1's 5k docs -> 50k docs) and record wall time, SHUFFLE BYTES
(read+write summed over the query's stages, from the driver's status
store via ``spark_metrics.measure``) and peak execution memory — the
cheapest way to catch a hidden scale cliff (quadratic pair growth, a
shuffle that outgrows the box, an accumulating driver structure)
before any bigger SF ever runs.

The replicas are PERTURBED, not copied: every 5th word of replica i
gets an ``_r<i>`` suffix, so ~60% of each doc's 3-shingles change and
replicas are NOT near-duplicates of their source (a verbatim 10x copy
would explode similarity joins ~100x in PAIRS — an adversarial dup
blowup, not a 10x-data rehearsal; the dedup families' pair counts
should scale with corpus near-dup RATE, which perturbation preserves).

    python tools/scale_rehearsal.py [--queries a,b,c] [--sf /root/testdata/sf0.1]

Prints one JSON line per query and a final summary JSON; paste the
summary into BASELINE.md's "Scale rehearsal" section at round close.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from spark_metrics import measure

# the round-12 verdict's isolated top-5 plus the rest of the heavy
# dedup/contamination/graph family and this round's sampled twin
DEFAULT_QUERIES = [
    "contamination_winnow",
    "dedup_threshold_curve",
    "dedup_threshold_curve_sampled",
    "minhash_incremental",
    "dup_clustering_coeff",
    "cluster_purity",
    "dedup_jaccard",
    "dedup_minhash",
    "contamination",
    "near_dup_text_join",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_rehearsal_dir(spark, sf_dir: str, reps: int = 10) -> str:
    """A temp sf-dir whose documents table is the perturbed 10x
    replica set; every other table symlinks the source."""
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="bamboo_scale10x_")
    for t in TABLES:
        src = os.path.join(sf_dir, t + ".parquet")
        if t != "documents" and os.path.exists(src):
            os.symlink(src, os.path.join(out, t + ".parquet"))
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = d.selectExpr("max(doc_id)").first()[0] + 1
    rep = spark.range(reps).select(F.col("id").alias("_rep"))
    big = (
        d.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") + F.col("_rep") * F.lit(n)).alias("doc_id"),
            F.when(F.col("_rep") == 0, F.col("text"))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w, i: F.when(
                            i % 5 == 0,
                            F.concat(
                                w,
                                F.lit("_r"),
                                F.col("_rep").cast("string"),
                            ),
                        ).otherwise(w),
                    ),
                    " ",
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    big.repartition(8).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    queries = DEFAULT_QUERIES
    args = sys.argv[1:]
    if "--sf" in args:
        sf_dir = args[args.index("--sf") + 1]
    if "--queries" in args:
        queries = args[args.index("--queries") + 1].split(",")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bamboo_spark.session import get_spark

    spark = get_spark("bamboo_scale_rehearsal")
    from bamboo_spark import queries as _q
    from bamboo_spark.operators import release_caches

    registry = _q._queries_raw()
    rehearsal_dir = build_rehearsal_dir(spark, sf_dir)
    print("rehearsal dir: %s" % rehearsal_dir, flush=True)

    # warmup (JVM/codegen/Arrow pool) on the SMALL corpus
    registry["dedup_jaccard"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    release_caches()

    results = {}
    for name in queries:
        release_caches()
        t0 = time.perf_counter()

        def run():
            registry[name](spark, rehearsal_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter()

        t1, _, new = measure(spark, name, run)
        wall = round(t1 - t0, 1)
        release_caches()
        shuffle_b = sum(
            s["shuffle_write_b"] + s["shuffle_read_b"] for s in new
        )
        peak_mem = max((s["peak_mem_b"] for s in new), default=0)
        spill = sum(s["spill_b"] for s in new)
        results[name] = {
            "wall_s": wall,
            "shuffle_mb": round(shuffle_b / 1e6, 1),
            "peak_exec_mem_mb": round(peak_mem / 1e6, 1),
            "spill_mb": round(spill / 1e6, 1),
            "n_stages": len(new),
        }
        print(json.dumps({name: results[name]}), flush=True)
    print(
        json.dumps(
            {"scale_rehearsal_10x": results, "base_sf_dir": sf_dir},
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
