"""The three workloads: one per way the library is used.

Each is one client issuing operations back to back (a closed loop) in a
single Spark session. ``setup`` makes the inputs from the seed; ``run_pass``
issues one pass of the workload's fixed op list through the recorder and
checks every op's output; ``layer_metrics`` turns a traced run's ops and
spans into the per-layer numbers this workload moves.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from typing import Dict, List

import gen
from spans import OPERATOR_MODULES, Recorder, median

HERE = os.path.dirname(os.path.abspath(__file__))

# query_mix: the operator families plus the driver-bound tail
# (nb_kappa and label_propagation run 30+ jobs each).
MIX_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_flatten_lineitem_wide",
    "q_events_props_json",
    "q_sessionize",
    "dedup_minhash",
    "ann_topk_ivf",
    "token_counts",
    "join_size_cms",
    "nb_kappa",
    "record_linkage",
)
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
MIX_ORACLE = os.path.join(HERE, "oracle_sf0.01.json")

PUBLISH_OPS = ("append", "merge", "delete", "clone_compact", "vacuum", "scan", "scan_dv", "lookup")


# -- output checking ------------------------------------------------------


def _norm(v) -> str:
    """One value as a canonical string, the same for the Spark and the
    DuckDB result: integral floats print as integers, other floats to 9
    significant digits, missing values as ``null``."""
    import datetime
    import decimal

    if v is None:
        return "null"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, _norm(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return "%.9g" % f
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:  # pandas NaT / NA
        import pandas as pd

        if pd.isna(v):
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: columns sorted by name,
    rows sorted, every value normalized by :func:`_norm`."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return "%d:%s" % (len(rows), h.hexdigest()[:32])


# -- workloads -------------------------------------------------------------


class Workload:
    name = ""
    WARM_PASSES = 1  # untimed full passes before timing; the first is checked too

    def __init__(self, spark, rec: Recorder, seed: int, work_dir: str):
        self.spark, self.rec, self.seed, self.work_dir = spark, rec, seed, work_dir

    def setup(self) -> None:
        pass

    def run_pass(self, n: int) -> None:
        """One pass of the op list: ``n <= 0`` for the warm-up passes
        (``0`` first), ``n >= 1`` for the timed ones."""
        raise NotImplementedError

    def layer_metrics(self, ops, passes: int) -> Dict[str, float]:
        """Per-layer numbers of the timed ``ops``, per pass."""
        return {}


class NestedIngest(Workload):
    """The paper's own use: nested documents in, flat frames out."""

    name = "nested_ingest"
    # its passes are short and still speeding up after one warm-up pass
    # (pass_s spread on a quiet machine: 0.16 over ten seeds with one
    # warm-up pass, 0.08 over five with two)
    WARM_PASSES = 2
    DOCS = 20000
    FILES = 8
    OBJ_CALLS, OBJ_BATCH = 6, 50
    AVRO_INCLUDE = ["order_id", "customer.name", "items.qty", "items.attrs.k"]

    def setup(self) -> None:
        docs = gen.orders(self.seed, self.DOCS)
        self.expect = gen.order_expectations(docs)
        self.paths = gen.write_orders(docs, os.path.join(self.work_dir, "orders"), self.FILES)
        self.rows: Dict[int, tuple] = {}  # op id -> (documents in, flat rows out)
        self.batches = []
        for i in range(self.OBJ_CALLS):
            batch = gen.orders(self.seed * 1000 + i + 1, self.OBJ_BATCH, first_id=10**6 * (i + 1))
            self.batches.append((batch, gen.order_expectations(batch)))

    def run_pass(self, n: int) -> None:
        from pyspark.sql import Observation, functions as F

        import bamboo_spark as bs

        rec, spark, ex = self.rec, self.spark, self.expect
        docs = ex["docs"]
        with rec.op("avro_include") as op:
            with rec.span("sources.avro"):
                ds = bs.read_avro_py(self.paths["avro"], include=self.AVRO_INCLUDE, spark=spark)
            with rec.span("flatten"):
                flat = ds.flatten()
            with rec.span("dataset.to_arrow"):
                tb = flat.to_arrow()
            if (tb.num_rows, _arrow_sum(tb, "qty")) != (ex["inner_rows"], ex["inner_qty"]):
                rec.fail(op, "wrong_output")
        self.rows[op.id] = (docs, ex["inner_rows"])
        with rec.op("json_exclude") as op:
            with rec.span("sources.json"):
                ds = bs.read_json(os.path.dirname(self.paths["json"]), spark=spark, multiLine=False)
            with rec.span("flatten"):
                flat = ds.flatten(exclude=["tags"])
            row = flat.df.agg(F.count(F.lit(1)), F.sum("qty")).collect()[0]
            if tuple(row) != (ex["inner_rows"], ex["inner_qty"]):
                rec.fail(op, "wrong_output")
        self.rows[op.id] = (docs, ex["inner_rows"])
        pq_dir = os.path.dirname(self.paths["parquet"])
        with rec.op("parquet_inner_noop") as op:
            ds = bs.read_parquet(pq_dir, spark=spark)
            with rec.span("flatten"):
                flat = ds.flatten(exclude=["tags"])
            obs = Observation("perfbench")
            flat.df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("qty").alias("q")).write.format(
                "noop"
            ).mode("overwrite").save()
            if (obs.get["n"], obs.get["q"]) != (ex["inner_rows"], ex["inner_qty"]):
                rec.fail(op, "wrong_output")
        self.rows[op.id] = (docs, ex["inner_rows"])
        with rec.op("parquet_outer_count") as op:
            ds = bs.read_parquet(pq_dir, spark=spark)
            with rec.span("flatten"):
                flat = ds.flatten(exclude=["tags"], join=bs.JoinType.OUTER)
            if flat.df.count() != ex["outer_rows"]:
                rec.fail(op, "wrong_output")
        self.rows[op.id] = (docs, ex["outer_rows"])
        with rec.op("parquet_to_arrow") as op:
            ds = bs.read_parquet(pq_dir, spark=spark)
            with rec.span("flatten"):
                flat = ds.flatten(include=["order_id", "tags"], join=bs.JoinType.OUTER)
            with rec.span("dataset.to_arrow"):
                tb = flat.to_arrow()
            if tb.num_rows != ex["tag_outer_rows"]:
                rec.fail(op, "wrong_output")
        self.rows[op.id] = (docs, ex["tag_outer_rows"])
        for batch, bex in self.batches:
            with rec.op("object_to_pandas") as op:
                with rec.span("sources.obj"):
                    ds = bs.from_object(batch, spark=spark)
                with rec.span("flatten"):
                    flat = ds.flatten(exclude=["tags"])
                with rec.span("dataset.to_pandas"):
                    pdf = flat.to_pandas()
                if (len(pdf), int(pdf["qty"].sum())) != (bex["inner_rows"], bex["inner_qty"]):
                    rec.fail(op, "wrong_output")
            self.rows[op.id] = (bex["docs"], bex["inner_rows"])

    def layer_metrics(self, ops, passes: int) -> Dict[str, float]:
        rec = self.rec
        by = _by_kind(ops)
        ids = {op.id for op in ops}
        avro = by.get("avro_include", [])
        pq_ops = by.get("parquet_inner_noop", []) + by.get("parquet_outer_count", []) + by.get("parquet_to_arrow", [])
        flat_rows = sum(self.rows[op.id][1] for op in ops)
        per_pass = {
            "sources.avro.driver_s": _span_sum(rec, "sources.avro", ids),
            "sources.avro.task_s": sum(op.task_s for op in avro),
            "sources.json.driver_s": _span_sum(rec, "sources.json", ids),
            "sources.json.task_s": sum(op.task_s for op in by.get("json_exclude", [])),
            "sources.obj.infer_s": _span_sum(rec, "sources.obj", ids),
            "sources.jobs": sum(_span_jobs(rec, op, ("sources.",)) for op in ops),
            "flatten.plan_s": _span_sum(rec, "flatten", ids),
            "projection.input_mb": sum(op.input_mb for op in pq_ops),
            "dataset.to_pandas_s": _span_sum(rec, "dataset.to_pandas", ids),
            "dataset.to_arrow_s": _span_sum(rec, "dataset.to_arrow", ids),
        }
        out = {k: v / passes for k, v in per_pass.items()}
        out.update(
            {
                "flatten.fanout": flat_rows / sum(self.rows[op.id][0] for op in ops),
                "ingest.flat_rows_per_s": flat_rows / sum(op.wall_s for op in ops),
                "ingest.avro_records_per_s": sum(self.rows[op.id][0] for op in avro) / sum(op.wall_s for op in avro),
                "ingest.to_pandas_p50_s": median(op.wall_s for op in by.get("object_to_pandas", [])),
            }
        )
        return out


class QueryMix(Workload):
    """Analytic and curation queries from the registry, on the sf0.01
    tables shipped with the benchmark. The tables are fixed, so the seed
    changes nothing; the order is fixed too, because a per-seed order
    only adds order-dependent spread to the per-query times."""

    name = "query_mix"

    def setup(self) -> None:
        from bamboo_spark.queries.registry import _queries_raw

        self.registry = _queries_raw()
        with open(MIX_ORACLE) as fh:
            self.oracle = json.load(fh)["hashes"]
        self.persists = 0  # tracked_persist calls in the timed passes

    def run_pass(self, n: int) -> None:
        from bamboo_spark.operators import _cache

        rec = self.rec
        for q in MIX_QUERIES:
            with rec.op(q) as op:
                with rec.span("queries.%s.build" % q):
                    df = self.registry[q](self.spark, MIX_DATA)
                with rec.span("queries.%s.exec" % q):
                    if n == 0:
                        # the first warm-up pass checks every result
                        # against the DuckDB oracle; the others use noop
                        got = canonical_hash(df.toPandas())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if n == 0 and got != self.oracle[q]:
                    rec.fail(op, "wrong_output")
            if n > 0:
                self.persists += len(_cache._LIVE)
            _cache.release_caches()

    def layer_metrics(self, ops, passes: int) -> Dict[str, float]:
        rec = self.rec
        out: Dict[str, float] = {}
        by = _by_kind(ops)
        for q in MIX_QUERIES:
            qops = by.get(q, [])
            ids = {op.id for op in qops}
            out["queries.%s.build_s" % q] = _span_sum(rec, "queries.%s.build" % q, ids) / passes
            out["queries.%s.exec_s" % q] = _span_sum(rec, "queries.%s.exec" % q, ids) / passes
            out["queries.%s.jobs" % q] = sum(op.jobs for op in qops) / passes
            out["queries.%s.gap_s" % q] = sum(op.gap_s for op in qops) / passes
        for key in ("jobs", "stages", "tasks", "task_s", "shuffle_mb", "spill_mb", "gap_s"):
            out["queries." + key] = sum(getattr(op, key) for op in ops) / passes
        ids = {op.id for op in ops}
        for mod in OPERATOR_MODULES:
            out["operators.%s.s" % mod] = _self_sum(rec, "operators.%s." % mod, ids) / passes
        out["operators.cache.persist_count"] = self.persists / passes
        return out


class TableCommits(Workload):
    """Writes and reads of one versioned table, after the op sequence of
    the registry's table-lifecycle query: publish, appends, predicate
    merge, delete vectors, clone and compact of the clone, vacuum, with
    full scans, time travel and key lookups between. Each op is one step
    a user takes; metadata-only calls that take milliseconds (clone,
    vacuum) ride with the step they belong to, so no op kind's latency
    is mostly timer jitter."""

    name = "table_commits"
    BASE, APPENDS, APPEND_ROWS, MERGE_ROWS = 5000, 2, 1000, 1000

    def setup(self) -> None:
        self.tables = os.path.join(self.work_dir, "tables")
        self.written: Dict[int, Dict[str, float]] = {}

    def run_pass(self, n: int) -> None:
        import shutil

        from pyspark.sql import functions as F

        from bamboo_spark.operators import publish as P

        rec, spark = self.rec, self.spark
        b = gen.keyed_batches(self.seed * 7919 + n, self.BASE, self.APPENDS, self.APPEND_ROWS, self.MERGE_ROWS)
        root = os.path.join(self.tables, "p%d" % n)
        t, c = os.path.join(root, "t"), os.path.join(root, "c")
        model = dict(b["base"])
        io = _DirWatch((t, c)) if rec.traced else None

        def frame(rows):
            return spark.createDataFrame(rows, "k long, v long")

        def scan(kind, table_dir, want, **kw):
            with rec.op(kind) as op:
                with rec.span("publish." + kind):
                    got = _count_sum(P.read_published(spark, table_dir, **kw))
                if got != (len(want), sum(want.values())):
                    rec.fail(op, "wrong_output")
            if io:
                io.after()

        def write(kind, fn):
            result = None
            with rec.op(kind) as op:
                with rec.span("publish." + kind):
                    result = fn()
            if io:
                io.after()
            return result

        base = frame(b["base"])
        first_version = write("publish", lambda: P.atomic_publish(base, t, bloom_cols=["k"]))
        for batch in b["appends"]:
            write("append", lambda df=frame(batch): P.append_publish(df, t, bloom_cols=["k"]))
            model.update(batch)
        scan("scan", t, model)
        for key in b["lookups"]:
            with rec.op("lookup") as op:
                with rec.span("publish.lookup"):
                    df = P.read_published(spark, t, skip_eq={"k": key})
                    got = [tuple(r) for r in df.where(F.col("k") == key).collect()]
                want = [(key, model[key])] if key in model else []
                if got != want:
                    rec.fail(op, "wrong_output")
            if io and op.error is None:
                io.lookup(spark, P, t, df)
        src = frame(b["merge"])
        write(
            "merge",
            lambda: P.merge_into(
                src, t, "k",
                when_matched_update={"v": "s.v + t.v"},
                when_matched_update_condition="s.v % 2 = 0",
                when_matched_delete_condition="s.v % 7 = 0",
                when_not_matched_insert="s.v % 2 = 1",
            ),
        )
        gen.apply_merge(model, b["merge"])
        write("delete", lambda: P.delete_publish(spark, t, "v % 11 = 0", delete_vectors=True))
        model = {k: v for k, v in model.items() if v % 11 != 0}
        scan("time_travel", t, dict(b["base"]), version=first_version)
        # "scan_dv" reads through the delete vectors the merge and the
        # delete left; "scan" reads a snapshot without any
        scan("scan_dv", t, model)

        def clone_compact():
            P.clone_table(spark, t, c)
            P.compact(spark, c)

        write("clone_compact", clone_compact)
        scan("scan", c, model)

        def vacuum_and_verify():
            # vacuum alone takes milliseconds; the read back checks it
            # kept the live snapshots
            P.vacuum(t, keep=1, spark=spark)
            P.vacuum(c, keep=1, spark=spark)
            return [_count_sum(P.read_published(spark, d)) for d in (t, c)]

        kept = write("vacuum", vacuum_and_verify)
        if kept != [(len(model), sum(model.values()))] * 2:
            rec.fail(rec.ops[-1], "wrong_output")
        if io and n > 0:
            self.written[n] = io.amplification(b, model, self.work_dir)
        shutil.rmtree(root, ignore_errors=True)

    def layer_metrics(self, ops, passes: int) -> Dict[str, float]:
        by = _by_kind(ops)
        out: Dict[str, float] = {}
        for kind in PUBLISH_OPS:
            kops = by.get(kind, [])
            out["publish.%s.p50_s" % kind] = median(op.wall_s for op in kops)
            out["publish.%s.jobs" % kind] = median(op.jobs for op in kops)
            out["publish.%s.gap_s" % kind] = median(op.gap_s for op in kops)
            out["publish.%s.task_s" % kind] = median(op.task_s for op in kops)
        written = list(self.written.values())
        for key in ("bytes_written_mb", "files_written", "lookup.files_skipped_ratio", "manifest_kb",
                    "write_amp", "space_amp"):
            out["publish." + key] = median(w[key] for w in written)
        return out


WORKLOADS = {w.name: w for w in (NestedIngest, QueryMix, TableCommits)}


# -- helpers -----------------------------------------------------------------


class _DirWatch:
    """Bytes and files created under the table dirs, op by op (traced
    runs only: walking the tree is not free)."""

    def __init__(self, dirs):
        self.dirs = dirs
        self.seen: Dict[str, int] = {}
        self.lookups: List[float] = []

    def after(self) -> None:
        for d in self.dirs:
            for base, _, files in os.walk(d):
                for f in files:
                    p = os.path.join(base, f)
                    if p not in self.seen:
                        try:
                            self.seen[p] = os.path.getsize(p)
                        except OSError:  # removed between walk and stat
                            pass

    def lookup(self, spark, P, table_dir, df) -> None:
        live = len(P.live_files(table_dir, spark=spark))
        read = len(df.inputFiles())
        self.lookups.append(1.0 - read / live if live else 0.0)

    def amplification(self, b, model, work_dir) -> Dict[str, float]:
        t = self.dirs[0]
        user_rows = b["base"] + [r for batch in b["appends"] for r in batch] + b["merge"]
        live_bytes = sum(
            os.path.getsize(os.path.join(base, f)) for base, _, files in os.walk(t) for f in files
        )
        manifest = sum(
            os.path.getsize(os.path.join(base, f))
            for d in self.dirs
            for base, _, files in os.walk(d)
            for f in files
            if f.endswith(".json")  # manifest.json and the per-version sidecars
        )
        written = sum(self.seen.values())
        return {
            "bytes_written_mb": written / 1e6,
            "files_written": float(len(self.seen)),
            "lookup.files_skipped_ratio": median(self.lookups),
            "manifest_kb": manifest / 1e3,
            "write_amp": written / _plain_parquet_bytes(user_rows, work_dir),
            "space_amp": live_bytes / _plain_parquet_bytes(sorted(model.items()), work_dir),
        }


def _plain_parquet_bytes(rows, work_dir) -> int:
    """Size of ``rows`` written once as one plain Parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(work_dir, "plain.parquet")
    pq.write_table(pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows]}), path)
    size = os.path.getsize(path)
    os.remove(path)
    return size


def _count_sum(df) -> tuple:
    """Row count and sum of ``v``: the answer a table read is checked by."""
    from pyspark.sql import functions as F

    return tuple(df.agg(F.count(F.lit(1)), F.coalesce(F.sum("v"), F.lit(0))).collect()[0])


def _arrow_sum(tb, col: str) -> int:
    import pyarrow.compute as pc

    return int(pc.sum(tb.column(col)).as_py() or 0)


def _by_kind(ops) -> Dict[str, list]:
    out: Dict[str, list] = {}
    for op in ops:
        out.setdefault(op.kind, []).append(op)
    return out


def _span_sum(rec: Recorder, name: str, op_ids) -> float:
    return sum(sp["end"] - sp["start"] for sp in rec.spans if sp["name"] == name and sp["op"] in op_ids)


def _self_sum(rec: Recorder, prefix: str, op_ids) -> float:
    """Self time of the spans under ``prefix``: duration minus the part
    covered by their child spans."""
    child = {}
    for sp in rec.spans:
        if sp["parent"] is not None:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    return sum(
        sp["end"] - sp["start"] - child.get(i, 0.0)
        for i, sp in enumerate(rec.spans)
        if sp["name"].startswith(prefix) and sp["op"] in op_ids
    )


def _span_jobs(rec: Recorder, op, prefixes) -> int:
    """Jobs of ``op`` submitted inside a span whose name starts with one
    of ``prefixes``."""
    windows = [
        (sp["start"], sp["end"]) for sp in rec.spans if sp["op"] == op.id and sp["name"].startswith(prefixes)
    ]
    return sum(1 for lo, _ in op.job_intervals if any(a <= lo <= b for a, b in windows))
