"""Dump .explain('formatted') for named registry queries to plans/r13/.

    python tools/dump_plans.py before q1 q2 ...
    python tools/dump_plans.py after q1 q2 ...
"""
import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bamboo_spark import queries as _q
from bamboo_spark.session import get_spark

def main():
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_dump")
    reg = _q._queries_raw()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    from bamboo_spark.operators import release_caches
    for n in names:
        release_caches()
        df = reg[n](spark, sf_dir)
        txt = spark._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, "%s_%s.txt" % (n, tag)), "w") as fh:
            fh.write(txt)
        print("dumped", n, tag, flush=True)
    release_caches()

if __name__ == "__main__":
    main()
