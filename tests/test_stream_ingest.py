"""Bounded-memory ingest, one range-decode path, decoder error hygiene.

The reference streams container files through a 64 KiB buffered input
stream and never materializes them (reference cpp/src/bind.cpp:131-168);
these tests pin the same discipline on the Avro and PBD scanners
(``ChunkedReader`` + the header and boundary scans) and on their one
decode kernel each, pin that every entry point (bytes, path, stream,
multi-file) decodes to the same rows, and pin the contract that corrupt
bytes always surface as the typed decode error (PbdDecodeError /
AvroDecodeError; reference truncation error pbd.hpp:195-199), never a
bare IndexError/struct.error/UnicodeDecodeError or a silently truncated
value.
"""

import io
import json
import os
import struct
import tracemalloc
import types

import pytest

from bamboo_spark.sources._avro_py import (
    AvroDecodeError,
    scan_blocks_stream,
    scan_header_stream,
)
from bamboo_spark.sources._pbd_py import (
    PbdDecodeError,
    parse_header,
    parse_header_stream,
    scan_record_splits,
)
from bamboo_spark.sources._stream import ChunkedReader, drain_or_spill

from tests.test_pbd import _container, _ld, _message_desc, _field_desc, _tag, _varint

BUF = 1 << 16  # 64 KiB, the reference's buffer size


class TrackingFile(io.RawIOBase):
    """File wrapper recording total bytes read and the largest single
    read — the proof that a metadata pass holds O(buffer), not O(file)."""

    def __init__(self, path):
        self.fh = open(path, "rb")
        self.total = 0
        self.max_read = 0

    def read(self, n=-1):
        out = self.fh.read(n)
        self.total += len(out)
        self.max_read = max(self.max_read, len(out))
        return out

    def seek(self, *a):
        return self.fh.seek(*a)

    def tell(self):
        return self.fh.tell()

    def close(self):
        self.fh.close()


def _big_pbd(tmp_path, n_records=160, payload=256 * 1024):
    """~40 MB PBD: records big enough that the boundary walk must
    seek-skip payloads rather than buffer through them."""
    desc = _message_desc(
        "Rec",
        [
            _field_desc("id", 1, 3),  # int64
            _field_desc("blob", 2, 12),  # bytes
        ],
    )
    records = [
        _tag(1, 0) + _varint(i) + _ld(2, bytes([i & 0xFF]) * payload)
        for i in range(n_records)
    ]
    data = _container([desc], "t.Rec", records)
    p = tmp_path / "big.pbd"
    p.write_bytes(data)
    return str(p), len(data), n_records


def test_pbd_metadata_pass_is_bounded(tmp_path):
    path, size, n = _big_pbd(tmp_path)
    fh = TrackingFile(path)
    try:
        reader = ChunkedReader(fh, bufsize=BUF, error_cls=PbdDecodeError)
        root, _ = parse_header_stream(reader)
        splits = list(scan_record_splits(reader, records_per_split=32))
    finally:
        fh.close()
    assert sum(s[2] for s in splits) == n
    assert splits[-1][1] == size  # walk reached exactly EOF
    # payloads were seek-skipped: the whole pass touched <5% of the file
    assert fh.total < size * 0.05
    assert fh.max_read <= BUF
    assert root.fields[1].name == "blob"


def _big_avro(tmp_path, n_blocks=160, payload=256 * 1024):
    """~40 MB Avro container with junk block payloads — the block-header
    hop never decodes payloads, so their contents don't matter."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "bytes"}],
    }

    def zz(v):
        v = (v << 1) ^ (v >> 63)
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | 0x80 if v else b)
            if not v:
                return bytes(out)

    sync = b"S" * 16
    meta = json.dumps(schema).encode()
    head = bytearray(b"Obj\x01")
    head += zz(1)  # one metadata map block
    head += zz(len(b"avro.schema")) + b"avro.schema" + zz(len(meta)) + meta
    head += zz(0) + sync
    body = b"".join(zz(7) + zz(payload) + b"\xab" * payload + sync for _ in range(n_blocks))
    p = tmp_path / "big.avro"
    p.write_bytes(bytes(head) + body)
    return str(p), len(head) + len(body), n_blocks


def test_avro_metadata_pass_is_bounded(tmp_path):
    path, size, n_blocks = _big_avro(tmp_path)
    fh = TrackingFile(path)
    try:
        reader = ChunkedReader(fh, bufsize=BUF, error_cls=AvroDecodeError)
        schema, codec, sync, pos = scan_header_stream(reader)
        blocks = list(scan_blocks_stream(reader, sync))
    finally:
        fh.close()
    assert len(blocks) == n_blocks
    assert all(b[2] == 7 for b in blocks)
    assert fh.total < size * 0.05
    assert fh.max_read <= BUF


def test_from_pbd_large_file_never_materializes_on_driver(spark, tmp_path):
    # end-to-end: driver-side construction of a ~40 MB file's plan must
    # allocate O(buffer), not O(file); decode happens executor-side.
    from bamboo_spark import from_pbd
    import pyspark.sql.functions as F

    path, size, n = _big_pbd(tmp_path)
    tracemalloc.start()
    ds = from_pbd(path)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 16 * 1024 * 1024, "driver held %d bytes for a %d-byte file" % (
        peak,
        size,
    )
    row = ds.df.select(
        F.count("*").alias("n"),
        F.sum(F.length("blob")).alias("bytes"),
        F.sum("id").alias("ids"),
    ).collect()[0]
    assert row["n"] == n
    assert row["bytes"] == n * 256 * 1024
    assert row["ids"] == n * (n - 1) // 2


def _capture_kernel(monkeypatch, read):
    """Run ``read()`` with ``mapInArrow`` spied on; return the decode
    kernel it planned and that kernel's input as Arrow batches."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    real = DataFrame.mapInArrow

    def spy(self, func, schema, *a, **kw):
        seen.append((self, func))
        return real(self, func, schema, *a, **kw)

    monkeypatch.setattr(DataFrame, "mapInArrow", spy)
    read()
    (rows_df, kernel), = seen
    return kernel, rows_df.toArrow().to_batches()


def _kernel_peak(kernel, batches):
    """Run a kernel in-process: (batches emitted, their rows, peak
    Python-heap bytes while it ran)."""
    tracemalloc.start()
    try:
        n_batches = n_rows = 0
        for out in kernel(iter(batches)):
            n_batches += 1
            n_rows += out.num_rows
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    return n_batches, n_rows, peak


def test_read_avro_py_task_holds_one_block(spark, tmp_path, monkeypatch):
    # a multi-file task decodes block by block: one Arrow batch per
    # block, and its heap peaks at O(block), not at the whole file plus
    # all of its decoded rows
    from bamboo_spark import read_avro_py
    from bamboo_spark.sources._avro_py import write_container

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}, {"name": "blob", "type": "bytes"}],
    }
    n, per_block = 512, 8
    p = str(tmp_path / "big.avro")
    write_container(
        p,
        schema,
        [{"id": i, "blob": bytes([i & 0xFF]) * (64 << 10)} for i in range(n)],
        records_per_block=per_block,
    )
    size = os.path.getsize(p)
    kernel, batches = _capture_kernel(
        monkeypatch, lambda: read_avro_py([p], spark=spark)
    )
    n_batches, n_rows, peak = _kernel_peak(kernel, batches)
    assert n_rows == n
    assert peak < size / 8, "task held %d bytes for a %d-byte file" % (peak, size)
    assert n_batches == n // per_block


def test_read_pbd_task_holds_one_split(spark, tmp_path, monkeypatch):
    # same bound for PBD: one Arrow batch per record split, heap O(split)
    from bamboo_spark import read_pbd

    n, payload = 65536, 512
    desc = _message_desc("Rec", [_field_desc("id", 1, 3), _field_desc("blob", 2, 12)])
    p = tmp_path / "big.pbd"
    p.write_bytes(
        _container(
            [desc],
            "t.Rec",
            [_tag(1, 0) + _varint(i) + _ld(2, bytes([i & 0xFF]) * payload) for i in range(n)],
        )
    )
    size = os.path.getsize(p)
    kernel, batches = _capture_kernel(
        monkeypatch, lambda: read_pbd([str(p)], spark=spark)
    )
    n_batches, n_rows, peak = _kernel_peak(kernel, batches)
    assert n_rows == n
    assert peak < size / 4, "task held %d bytes for a %d-byte file" % (peak, size)
    assert n_batches == n // 2048  # TARGET_RECORDS_PER_SPLIT


# ---------------------------------------- entry-point equivalence


def _rows(ds):
    return sorted(
        (json.dumps(r.asDict(recursive=True), sort_keys=True, default=repr) for r in ds.df.collect())
    )


def _read_through(kind, data, tmp_path, from_x, read_x, **kw):
    """Decode one container through one entry point."""
    p = tmp_path / ("src-%s" % kind)
    p.write_bytes(data)
    if kind == "bytes":
        return from_x(data, **kw)
    if kind == "stream":
        return from_x(io.BytesIO(data), **kw)
    if kind == "path":
        return from_x(str(p), **kw)
    return read_x([str(p)], **kw)


_AVRO_EQUIV_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "s", "type": "string"},
        {
            "name": "n",
            "type": {
                "type": "record",
                "name": "n",
                "fields": [
                    {"name": "x", "type": "long"},
                    {"name": "ys", "type": {"type": "array", "items": "double"}},
                ],
            },
        },
        {"name": "opt", "type": ["null", "string"]},
    ],
}


_AVRO_EQUIV_MODES = {
    "include": {"include": ["id", "n.x"]},
    "exclude": {"exclude": ["s", "n.ys"]},
    "reader_schema": {
        "reader_schema": {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "id", "type": "long"},  # int -> long promotion
                {"name": "opt", "type": ["null", "string"]},
                {"name": "added", "type": "string", "default": "dflt"},
            ],
        }
    },
}


@pytest.mark.parametrize(
    "kind,mode",
    [
        pytest.param(kind, mode, id="%s-%s" % (kind, mode))
        for mode in _AVRO_EQUIV_MODES
        for kind in ("bytes", "path", "stream", "read")
        # read_avro_py has no reader_schema argument
        if not (kind == "read" and mode == "reader_schema")
    ],
)
def test_avro_entry_points_agree(spark, tmp_path, kind, mode):
    from bamboo_spark import from_avro, read_avro_py
    from tests.test_sources import _avro_bytes

    kw = _AVRO_EQUIV_MODES[mode]
    records = [
        {
            "id": i,
            "s": "s%d" % i,
            "n": {"x": i * 7, "ys": [i / 2.0] * (i % 3)},
            "opt": None if i % 4 == 0 else "o%d" % i,
        }
        for i in range(50)
    ]
    data = _avro_bytes(_AVRO_EQUIV_SCHEMA, records, block_size=6)
    want = _rows(from_avro(data, spark=spark, **kw))
    assert len(want) == 50
    got = _rows(_read_through(kind, data, tmp_path, from_avro, read_avro_py, spark=spark, **kw))
    assert got == want


@pytest.mark.parametrize("kind", ["bytes", "path", "stream", "read"])
@pytest.mark.parametrize(
    "mode", [{"include": ["id", "m"]}, {"exclude": ["s"]}], ids=["include", "exclude"]
)
def test_pbd_entry_points_agree(spark, tmp_path, kind, mode):
    from bamboo_spark import from_pbd, read_pbd

    inner = _message_desc("Inner", [_field_desc("v", 1, 3)])
    desc = _message_desc(
        "Rec",
        [
            _field_desc("id", 1, 3),
            _field_desc("s", 2, 9),
            _field_desc("r", 3, 3, label=3),
            _field_desc("m", 4, 11, type_name=".t.Rec.Inner"),
        ],
        nested=[inner],
    )
    records = [
        _tag(1, 0)
        + _varint(i)
        + _ld(2, b"s%d" % i)
        + b"".join(_tag(3, 0) + _varint(j) for j in range(i % 3))
        + _ld(4, _tag(1, 0) + _varint(i * 5))
        for i in range(5000)  # more than one record split
    ]
    data = _container([desc], "t.Rec", records)
    want = _rows(from_pbd(data, spark=spark, **mode))
    assert len(want) == 5000
    got = _rows(_read_through(kind, data, tmp_path, from_pbd, read_pbd, spark=spark, **mode))
    assert got == want


def test_drain_or_spill_roundtrip(tmp_path):
    small = io.BytesIO(b"x" * 1000)
    data, path = drain_or_spill(small, threshold=10_000)
    assert data == b"x" * 1000 and path is None

    big = io.BytesIO(b"y" * 50_000)
    data, path = drain_or_spill(big, threshold=10_000)
    assert data is None
    assert os.path.getsize(path) == 50_000
    with open(path, "rb") as fh:
        assert fh.read(5) == b"yyyyy"
    os.unlink(path)


def test_chunked_reader_truncation_is_typed(tmp_path):
    p = tmp_path / "t.bin"
    p.write_bytes(b"\x80\x80")  # unterminated varint, then EOF
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.read_varint()
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.read(10)
    with open(p, "rb") as fh:
        r = ChunkedReader(fh, error_cls=PbdDecodeError)
        with pytest.raises(PbdDecodeError):
            r.skip(10)


# ------------------------------------------------- corrupt-byte hygiene


def _pbd_hygiene_container():
    desc = _message_desc(
        "Rec",
        [
            _field_desc("id", 1, 3),
            _field_desc("name", 2, 9),  # string
            _field_desc("val", 3, 1),  # double
            _field_desc("tags", 4, 3, label=3),  # repeated int64
        ],
    )
    records = [
        _tag(1, 0)
        + _varint(i)
        + _ld(2, ("name-%d" % i).encode())
        + _tag(3, 1)
        + struct.pack("<d", i * 1.5)
        + _ld(4, b"".join(_varint(j) for j in range(i % 4)))
        for i in range(8)
    ]
    return _container([desc], "t.Rec", records)


def _run_kernel(kernel, data, **params):
    """Run a decode kernel in-process over one whole-container range
    row, the container held as the broadcast buffer (``io.BytesIO``)."""
    import pyarrow as pa

    rows = pa.RecordBatch.from_pydict(
        {
            "source": pa.array([None], pa.string()),
            "start": pa.array([0], pa.int64()),
            "end": pa.array([None], pa.int64()),
        }
    )
    bc = types.SimpleNamespace(value=data)
    return list(kernel(iter([rows]), bc=bc, **params))


def test_pbd_corrupt_bytes_raise_only_pbd_decode_error():
    from hypothesis import given, settings, strategies as st

    from bamboo_spark.sources._pbd_py import pbd_to_spark
    from bamboo_spark.sources.pbd import _decode_ranges

    base = _pbd_hygiene_container()
    root, body = parse_header(base)
    schema = pbd_to_spark(root)

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(0, len(base) - 1),
        st.integers(0, 255),
    )
    def run(pos, val):
        if pos < body:
            return  # header mutations exercise parse_header, tested below
        data = bytearray(base)
        data[pos] = val
        data = bytes(data)
        try:
            reader = ChunkedReader(io.BytesIO(data), error_cls=PbdDecodeError)
            parse_header_stream(reader)
            list(scan_record_splits(reader, records_per_split=3))
        except PbdDecodeError:
            pass  # the only exception allowed to escape
        try:
            _run_kernel(_decode_ranges, data, root=root, schema=schema)
        except PbdDecodeError:
            pass

    run()


def test_avro_corrupt_bytes_raise_only_avro_decode_error():
    from hypothesis import given, settings, strategies as st
    from tests.test_sources import _avro_bytes

    from bamboo_spark.sources._avro_py import avro_to_spark, scan_header
    from bamboo_spark.sources.avro import _decode_ranges

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
        ],
    }
    base = _avro_bytes(
        schema,
        [{"i": i, "s": "s%d" % i, "d": i / 3.0} for i in range(8)],
        block_size=3,
    )
    # body starts after the header (first sync marker ends it)
    _, _, sync, body = scan_header(base)
    params = dict(
        reader_schema=schema,
        out_schema=avro_to_spark(schema),
        record_root=True,
        fltr=None,
        implicit_root=True,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, len(base) - 1), st.integers(0, 255))
    def run(pos, val):
        if pos < body:
            return
        data = bytearray(base)
        data[pos] = val
        data = bytes(data)
        try:
            reader = ChunkedReader(io.BytesIO(data), error_cls=AvroDecodeError)
            reader.skip(body)
            list(scan_blocks_stream(reader, sync))
        except AvroDecodeError:
            pass  # the only exception allowed to escape
        try:
            _run_kernel(_decode_ranges, data, **params)
        except AvroDecodeError:
            pass

    run()


def test_avro_value_wider_than_its_column_is_decode_error():
    # an "int" field whose varint holds 2**40 (payload written as long,
    # metadata claiming int) cannot fit the int32 column: the kernel
    # must report the corrupt file, not leak an Arrow conversion error
    from tests.test_sources import _avro_bytes

    from bamboo_spark.sources._avro_py import avro_to_spark
    from bamboo_spark.sources.avro import _decode_ranges

    def rec(t):
        return {"type": "record", "name": "r", "fields": [{"name": "a", "type": t}]}

    data = _avro_bytes(rec("int"), [{"a": 1 << 40}], write_schema=rec("long"))
    with pytest.raises(AvroDecodeError, match="does not fit"):
        _run_kernel(
            _decode_ranges,
            data,
            reader_schema=rec("int"),
            out_schema=avro_to_spark(rec("int")),
            record_root=True,
            fltr=None,
            implicit_root=True,
        )


def test_spill_requires_shared_dir_on_cluster_master():
    # submit-time failure, not an executor FileNotFoundError mid-job:
    # a big stream with no BAMBOO_SPARK_SPILL_DIR must refuse to spill
    # when the master is a real cluster, and still work in local mode
    # or with an explicit (shared) spill dir
    import io
    import os

    from bamboo_spark.sources._stream import SpillDirError, drain_or_spill

    big = io.BytesIO(b"x" * (1 << 16))
    with pytest.raises(SpillDirError, match="BAMBOO_SPARK_SPILL_DIR"):
        drain_or_spill(big, threshold=1024, spill_dir="", master="spark://h:7077")

    big.seek(0)
    data, path = drain_or_spill(big, threshold=1024, spill_dir="", master="local[8]")
    assert data is None and path is not None and os.path.getsize(path) == 1 << 16

    big.seek(0)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        data, path = drain_or_spill(
            big, threshold=1024, spill_dir=d, master="spark://h:7077"
        )
        assert data is None and path is not None and path.startswith(d)

    # small stream never spills, any master
    small = io.BytesIO(b"y" * 100)
    data, path = drain_or_spill(small, threshold=1024, spill_dir="", master="yarn")
    assert data == b"y" * 100 and path is None


def test_read_hypertable_day_bounds_prune_files(spark, tmp_path):
    """VERDICT item: a bounded read_hypertable opens only the bounded
    days' files — the sink records db stats at publish time, so the
    skip prunes with no post-hoc stats pass."""
    from bamboo_spark.operators.publish import read_published
    from bamboo_spark.streaming import hypertable_sink, read_hypertable

    tbl = str(tmp_path / "ht")
    sink = hypertable_sink(spark, tbl, partition_by_day=True)

    def mk(ts, et, v):
        return spark.createDataFrame(
            [(1, ts, et, v)],
            "user_id long, ts string, event_type string, value double",
        ).selectExpr(
            "user_id", "cast(ts as timestamp) ts", "event_type", "value"
        )

    sink(mk("2024-01-01 10:00:00", "click", 1.0), 0)
    sink(mk("2024-01-02 11:00:00", "view", 2.0), 1)
    sink(mk("2024-01-03 12:00:00", "click", 3.0), 2)
    full_files = read_published(spark, tbl).inputFiles()
    bounded = read_hypertable(
        spark, tbl, days=("2024-01-03", "2024-01-03")
    )
    pruned_files = read_published(
        spark, tbl, skip={"db": ("2024-01-03", "2024-01-03")}
    ).inputFiles()
    assert len(pruned_files) < len(full_files)
    rows = {
        (r["grain"], r["bucket"], r["event_type"]): r["n_events"]
        for r in bounded.collect()
    }
    # only day 3's hour/day rows (+ its week row)
    assert all("2024-01-03" in b or g == "week" for g, b, _ in rows)
    assert rows[("day", "2024-01-03", "click")] == 1
    assert len([1 for g, _, _ in rows if g == "hour"]) == 1


def test_publish_stream_write_time_indexes(spark, tmp_path):
    """publish_stream(bloom_cols=...) indexes each batch during its
    commit: the landing table point-prunes and a point delete rewrites
    only matching files — no post-hoc index pass over the table."""
    from bamboo_spark.operators.publish import (
        delete_publish,
        live_files,
        read_published,
    )
    import pyspark.sql.functions as F

    t = str(tmp_path / "land")
    # drive the sink's exact per-batch contract with controlled batch
    # ids (foreachBatch ids aren't replayable in a unit test)
    from bamboo_spark.operators.publish import append_publish

    for lo in (0, 800):
        batch = spark.range(lo, lo + 800).select(
            F.xxhash64("id").alias("sk"), F.col("id").alias("user_id")
        ).repartition(4, "sk").drop("sk")
        append_publish(
            batch, t, meta={"last_bid": lo}, bloom_cols=["user_id"],
            stats_cols=["user_id"],
        )
    full = read_published(spark, t)
    pruned = read_published(spark, t, skip_eq={"user_id": 123})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    before = set(live_files(t, spark))
    delete_publish(spark, t, "user_id = 123", point={"user_id": 123})
    after = set(live_files(t, spark))
    assert 1 <= len(before - after) <= 2  # only matching file(s) rewritten
    assert read_published(spark, t).count() == 1599


def test_publish_stream_overwrite_partitions_mode(spark, tmp_path):
    """mode='overwrite_partitions': each micro-batch REPLACES exactly
    the hive partitions it carries (idempotent streaming recompute —
    a windowed aggregation stream rewriting affected days); the first
    batch seeds the partitioned table, untouched partitions carry by
    reference, and the exactly-once batch HWM rides every commit."""
    from bamboo_spark.operators.publish import (
        append_publish,
        atomic_publish,
        read_published,
        table_meta,
    )
    from bamboo_spark.sources.published import register
    from bamboo_spark.streaming.core import publish_stream

    register(spark)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def kvp(rows):
        return spark.createDataFrame(rows, "k long, v long, p string")

    atomic_publish(kvp([(1, 10, "a"), (2, 20, "b")]), bronze)
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(bronze)
    )
    q = (
        publish_stream(
            sdf, silver, mode="overwrite_partitions", partition_by="p"
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(1, 10, "a"), (2, 20, "b")}
        # batch 2 carries only partition a — it replaces a WHOLESALE,
        # b carries by reference
        append_publish(kvp([(3, 30, "a")]), bronze)
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(3, 30, "a"), (2, 20, "b")}
        # batch 3 adds a brand-new partition value
        append_publish(kvp([(4, 40, "c")]), bronze)
        q.processAllAvailable()
        got = {(r.k, r.v, r.p) for r in read_published(spark, silver).collect()}
        assert got == {(3, 30, "a"), (2, 20, "b"), (4, 40, "c")}
        assert "last_bid" in table_meta(silver, spark)
    finally:
        q.stop()


def test_publish_stream_overwrite_partitions_requires_partition_by(
    spark, tmp_path
):
    import pytest as _pytest

    from bamboo_spark.streaming.core import publish_stream

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with _pytest.raises(ValueError, match="needs\\s+partition_by"):
        publish_stream(sdf, str(tmp_path / "t"), mode="overwrite_partitions")
