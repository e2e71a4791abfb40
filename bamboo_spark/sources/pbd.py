"""``from_pbd`` / ``read_pbd`` — length-prefixed protobuf records (PBD format) → Dataset.

The PBD container (reference cpp/src/pbd.cpp, pbd.hpp) is: an embedded
``FileDescriptorSet`` followed by length-prefixed protobuf messages.
The Spark-native scale path is ``spark.read.format("protobuf")`` /
``F.from_protobuf`` (Spark 3.4+), which honors proto2 default-value
semantics. Neither the spark-protobuf module nor a protobuf runtime is
available in this container, so this source ships a pure-Python
wire-format decoder (see _pbd_py) covering the subset the reference
exercises: varint/zigzag/fixed scalars, length-delimited fields, packed
and unpacked repeated fields, nested messages, enums, and proto2
default-value fill for missing fields (pbd.cpp:233-278).

Execution model (the 100 TB shape, reference parity at pbd_tests.py:42-58),
one range-decode path for every kind of input (see ``_stream``):

1. ``from_pbd`` takes one source (bytes, a stream or a path). The driver
   parses the descriptor header and walks the varint length prefixes
   with payloads seek-skipped — a metadata pass that decodes nothing —
   and cuts the record stream into contiguous byte ranges, one per
   decode task. ``read_pbd`` takes many files: one range per file.
2. include/exclude clusions prune the descriptor tree BEFORE decode
   (prune_message_desc): excluded fields hit the wire-skip fast path on
   executors, their bytes never parsed (reference pbd.cpp:50-83,
   pbd.hpp:176-207).
3. The one decode kernel ``_decode_ranges`` runs inside ``mapInArrow``:
   it re-reads each file's descriptor header, checks it against the
   reader descriptor, and wire-decodes its range one record split at a
   time, one Arrow batch per split. A path is re-read range-wise by
   each task (DFS-friendly); a bytes/stream source is broadcast once.
"""

from __future__ import annotations

import functools
import io
from typing import Any, Iterator, Optional, Union

from pyspark.sql import SparkSession, types as T

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.dataset import Dataset
from bamboo_spark.sources._pbd_py import (
    MessageDesc,
    PbdDecodeError,
    check_wire_compat,
    decode_message,
    parse_header_stream,
    pbd_to_spark,
    prune_message_desc,
    scan_record_splits,
)
from bamboo_spark.sources._stream import (
    TARGET_RECORDS_PER_SPLIT,
    ChunkedReader,
    expand_paths,
    map_ranges,
    open_source,
    plan_ranges,
    range_rows,
    records_to_batch,
    resolve_source,
)


def _decode_ranges(
    batches: Iterator[Any], root: MessageDesc, schema: T.StructType, bc: Any = None
) -> Iterator[Any]:
    """The PBD decode kernel (``mapInArrow``) over ``(source, start,
    end)`` range rows: open the source (a path, or the broadcast buffer
    ``bc``), parse its descriptor header, reject a file whose wire
    classes differ from the reader descriptor ``root``, and decode the
    records in [start, end) with ``root`` — one Arrow batch per split of
    ``TARGET_RECORDS_PER_SPLIT`` records. Protobuf resolution is by
    field number: writer-only fields wire-skip, reader-only fields
    default-fill, varint widenings (int32→int64) decode natively."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    for source, start, end in range_rows(batches):
        with open_source(source, None if bc is None else bc.value) as fh:
            reader = ChunkedReader(fh, error_cls=PbdDecodeError)
            file_root, body = parse_header_stream(reader)
            try:
                check_wire_compat(root, file_root)
            except PbdDecodeError as e:
                raise PbdDecodeError("PBD file %s: %s" % (source, e)) from e
            reader.skip(max(start - body, 0))
            for _, _, _, messages in scan_record_splits(
                reader, TARGET_RECORDS_PER_SPLIT, end, payloads=True
            ):
                records = [decode_message(m, root) for m in messages]
                yield records_to_batch(records, arrow_schema, True, PbdDecodeError)


def _decode(
    spark: SparkSession,
    rows: list,
    root: MessageDesc,
    fltr: ColumnFilter,
    has_filter: bool,
    bc: Any = None,
) -> Dataset:
    """Range rows → Dataset under the (clusion-pruned) descriptor."""
    if has_filter:
        implicit_root = fltr.include.explicit or fltr.include.is_nothing()
        root = prune_message_desc(root, fltr, implicit_root)
    schema = pbd_to_spark(root)
    kernel = functools.partial(_decode_ranges, root=root, schema=schema, bc=bc)
    return Dataset(map_ranges(spark, rows, kernel, schema))


def from_pbd(
    source: Union[bytes, io.IOBase, str, Any],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
) -> Dataset:
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()

    # conflict validation first (raises ClusionError before any Spark job)
    fltr = ColumnFilter.parse(include, exclude)

    path, data = resolve_source(source, spark)
    # bounded-memory metadata pass: header + varint boundary walk in
    # O(buffer) chunks, record payloads seek-skipped (reference
    # analogue: the 64 KiB buffered stream, bind.cpp:131-168)
    with open_source(path, data) as fh:
        reader = ChunkedReader(fh, error_cls=PbdDecodeError)
        root, _body = parse_header_stream(reader)
        splits = list(scan_record_splits(reader, TARGET_RECORDS_PER_SPLIT))
    ranges = plan_ranges(splits, spark.sparkContext.defaultParallelism)
    bc = None if data is None or not ranges else spark.sparkContext.broadcast(data)
    rows = [(path, start, end) for start, end in ranges]
    return _decode(
        spark, rows, root, fltr, include is not None or exclude is not None, bc
    )


def read_pbd(
    paths: Union[str, list],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
) -> Dataset:
    """Distributed MULTI-FILE PBD read — the many-files scale path.

    One decode task per file; each task opens its file, parses the
    descriptor header, checks it against the reader descriptor, and
    wire-decodes one record split at a time with the clusion-pruned
    descriptor — NO file bytes ever pass through the driver (it reads
    only the first file's header to fix the reader descriptor and the
    output schema). This is how a 100 TB PBD dataset (thousands of
    container files on a DFS) parallelizes; for one huge file use
    ``from_pbd``, which splits a single record stream by byte ranges.
    """
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    files = expand_paths(paths, "read_pbd")
    fltr = ColumnFilter.parse(include, exclude)

    with open(files[0], "rb") as fh:
        root, _ = parse_header_stream(ChunkedReader(fh, error_cls=PbdDecodeError))
    return _decode(
        spark,
        [(f, 0, None) for f in files],
        root,
        fltr,
        include is not None or exclude is not None,
    )
