"""Recompute ``oracle_sf0.01.json``: the DuckDB oracle answer of every
query_mix query over ``data/sf0.01``, stored as a canonical hash.

    python3 perfbench/make_oracle.py

Run it only when the data or a query's oracle SQL changes; the oracles
take far longer than a benchmark run allows.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main() -> None:
    import duckdb

    from bamboo_spark.queries import TABLES, oracle_sql
    from workloads import MIX_DATA, MIX_ORACLE, MIX_QUERIES, canonical_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql("create view %s as select * from '%s/%s.parquet'" % (t, MIX_DATA, t))
    sql = oracle_sql()
    hashes, seconds = {}, {}
    for q in MIX_QUERIES:
        t0 = time.perf_counter()
        hashes[q] = canonical_hash(con.sql(sql[q]).df())
        seconds[q] = round(time.perf_counter() - t0, 2)
        print(q, hashes[q], seconds[q], file=sys.stderr)
    with open(MIX_ORACLE, "w") as fh:
        json.dump({"data": "data/sf0.01", "hashes": hashes, "oracle_seconds": seconds}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
