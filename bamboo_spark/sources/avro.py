"""``from_avro`` / ``read_avro_py`` — Avro container files → Dataset.

A pure-Python Avro container decoder (null/deflate/snappy codecs; see
``_avro_py``) with one range-decode path for every kind of input
(``_stream`` describes the plumbing):

* ``from_avro`` takes one source (bytes, a stream or a path). The
  driver reads the header and hops block headers with payloads
  seek-skipped, then cuts the block sequence into contiguous ranges,
  one per decode task.
* ``read_avro_py`` takes many files: one range per file, so no file
  bytes pass through the driver beyond the headers it reads to fix the
  reader schema.

Both run the one decode kernel ``_decode_ranges`` inside ``mapInArrow``:
it re-reads each file's header, resolves that writer schema against
the reader schema, and emits one Arrow batch per block, so a task holds
one block at a time and never a whole file.

Read-time ``include``/``exclude`` follow the reference's pushdown
semantics (avro_direct.cpp:107-166): pruned at decode time — excluded
fields are walked but never materialized (``_avro_py._skip_value``) and
the output schema is pruned with the exact rule the Catalyst nested
projection uses (projection.prune_schema), so the decoded rows and the
declared schema select the same columns.
"""

from __future__ import annotations

import functools
import io
import json
from typing import Any, Iterator, Optional, Union

from pyspark.sql import SparkSession, types as T

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.dataset import Dataset
from bamboo_spark.projection import prune_schema
from bamboo_spark.sources._avro_py import (
    AvroDecodeError,
    avro_to_spark,
    decode_block,
    decode_block_resolved,
    merge_avro_schemas,
    scan_blocks_stream,
    scan_header_stream,
)
from bamboo_spark.sources._stream import (
    ChunkedReader,
    expand_paths,
    map_ranges,
    open_source,
    plan_ranges,
    range_rows,
    records_to_batch,
    resolve_source,
)
from bamboo_spark.sources.obj import DEFAULT_COLUMN


def _decode_ranges(
    batches: Iterator[Any],
    reader_schema: Any,
    out_schema: T.StructType,
    record_root: bool,
    fltr: Optional[ColumnFilter],
    implicit_root: bool,
    bc: Any = None,
) -> Iterator[Any]:
    """The Avro decode kernel (``mapInArrow``) over ``(source, start,
    end)`` range rows: open the source (a path, or the broadcast buffer
    ``bc``), parse its header, decode the blocks in [start, end) under
    ``reader_schema`` — plain when the file's writer schema equals it,
    resolved otherwise — and yield one Arrow batch per block."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)
    reader_key = json.dumps(reader_schema, sort_keys=True)
    for source, start, end in range_rows(batches):
        with open_source(source, None if bc is None else bc.value) as fh:
            reader = ChunkedReader(fh, error_cls=AvroDecodeError)
            writer_schema, codec, sync, body = scan_header_stream(reader)
            same = json.dumps(writer_schema, sort_keys=True) == reader_key
            reader.skip(max(start - body, 0))
            for _, _, n, payload in scan_blocks_stream(
                reader, sync, end, payloads=True
            ):
                if not n:
                    continue
                if same:
                    records = decode_block(
                        payload, n, codec, writer_schema, fltr, implicit_root
                    )
                else:
                    # evolved file: promotions, default fill, writer-only
                    # wire-skip
                    records = decode_block_resolved(
                        payload, n, codec, writer_schema, reader_schema,
                        fltr, implicit_root,
                    )
                yield records_to_batch(
                    records, arrow_schema, record_root, AvroDecodeError
                )


def _scan_file_header(path: str):
    """Header-only metadata read: magic + meta map + sync, via bounded
    chunked reads — block payloads are never touched."""
    with open(path, "rb") as fh:
        return scan_header_stream(ChunkedReader(fh, error_cls=AvroDecodeError))


def _decode(
    spark: SparkSession,
    rows: list,
    reader_schema: Any,
    fltr: ColumnFilter,
    include: Any,
    exclude: Any,
    bc: Any = None,
) -> Dataset:
    """Range rows → Dataset under ``reader_schema`` with the clusions
    pruned at decode time."""
    has_filter = include is not None or exclude is not None
    implicit_root = fltr.include.explicit or fltr.include.is_nothing()
    dtype = avro_to_spark(reader_schema)
    record_root = isinstance(dtype, T.StructType)
    if record_root:
        out_schema = prune_schema(dtype, fltr, implicit_root) if has_filter else dtype
    else:
        out_schema = T.StructType([T.StructField(DEFAULT_COLUMN, dtype, True)])
    kernel = functools.partial(
        _decode_ranges,
        reader_schema=reader_schema,
        out_schema=out_schema,
        record_root=record_root,
        fltr=fltr if (record_root and has_filter) else None,
        implicit_root=implicit_root,
        bc=bc,
    )
    ds = Dataset(map_ranges(spark, rows, kernel, out_schema))
    if has_filter and not record_root:
        ds = ds.select_columns(include, exclude)
    return ds


def from_avro(
    source: Union[bytes, io.IOBase, str, Any],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
    reader_schema: Any = None,
) -> Dataset:
    """Decode one Avro container stream (reference core.py:36-38).

    ``reader_schema`` (Avro schema JSON) decodes the file under an
    explicit READER schema instead of the file's writer schema, with
    spec resolution rules (field matching by name, default fill,
    numeric promotions, enum fallback) — the reference's reader-vs-
    writer resolution surface (avro_direct.cpp:107-166) for one file.
    """
    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()

    # conflict validation first (raises ClusionError before any Spark job)
    fltr = ColumnFilter.parse(include, exclude)

    path, data = resolve_source(source, spark)
    # bounded-memory metadata pass: header + block-header hops in
    # O(buffer) chunks, payloads seek-skipped
    with open_source(path, data) as fh:
        reader = ChunkedReader(fh, error_cls=AvroDecodeError)
        writer_schema, _codec, sync, _body = scan_header_stream(reader)
        blocks = list(scan_blocks_stream(reader, sync))
    ranges = plan_ranges(blocks, spark.sparkContext.defaultParallelism)
    bc = None if data is None or not ranges else spark.sparkContext.broadcast(data)
    return _decode(
        spark,
        [(path, start, end) for start, end in ranges],
        writer_schema if reader_schema is None else reader_schema,
        fltr,
        include,
        exclude,
        bc,
    )


# above this many files the driver-side header sweep for schema merging
# moves into a Spark job (headers are metadata-sized; payloads untouched)
_MERGE_DRIVER_MAX_FILES = 64


def read_avro_py(
    paths: Union[str, list],
    include: Any = None,
    exclude: Any = None,
    spark: Optional[SparkSession] = None,
    merge_schemas: bool = True,
) -> Dataset:
    """Distributed MULTI-FILE Avro read — the many-files scale path.
    One decode task per file; each task parses its own header and walks
    its blocks, decoding one block at a time with the clusion-pruned
    reader — no file bytes pass through the driver (the driver reads
    only per-file *headers*, and only their metadata maps at that). For
    one huge file use ``from_avro``, which splits by blocks.

    Schema evolution (Avro spec "Schema Resolution"; reference analogue
    avro_direct.cpp:107-166): with ``merge_schemas=True`` (default) the
    per-file writer schemas are union-merged into one reader schema
    (added fields default-fill or become nullable, numerics widen along
    int→long→float→double, enum symbol sets union) and every file's
    blocks decode against it — old files fill defaults for new fields,
    new files wire-skip nothing the reader wants. With
    ``merge_schemas=False`` the first file's schema is the reader schema
    and other files resolve against it (writer-only fields wire-skip).
    The header sweep runs on the driver below %d files and as a Spark
    metadata job above (schema JSONs, not file bytes, are collected).
    """ % _MERGE_DRIVER_MAX_FILES
    from functools import reduce

    if spark is None:
        from bamboo_spark.session import get_spark

        spark = get_spark()
    files = expand_paths(paths, "read_avro_py")
    # conflict validation first (raises ClusionError before any Spark job)
    fltr = ColumnFilter.parse(include, exclude)

    avro_schema = _scan_file_header(files[0])[0]
    if merge_schemas and len(files) > 1:
        if len(files) <= _MERGE_DRIVER_MAX_FILES:
            uniq = {}
            for p in files:
                s = _scan_file_header(p)[0]
                uniq.setdefault(json.dumps(s, sort_keys=True), s)
        else:
            schema_df = spark.createDataFrame(
                [(f,) for f in files],
                T.StructType([T.StructField("path", T.StringType())]),
            ).repartition(min(len(files), 256))

            def _headers(batches):
                import pyarrow as pa

                for batch in batches:
                    out = []
                    for p in batch.column(0).to_pylist():
                        s = _scan_file_header(p)[0]
                        out.append(json.dumps(s, sort_keys=True))
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(out)], names=["schema_json"]
                    )

            # distinct() BEFORE collect: 100k files usually hold a
            # handful of schema versions — only those reach the driver
            keys = set(
                r.schema_json
                for r in schema_df.mapInArrow(_headers, "schema_json string")
                .distinct()
                .collect()
            )
            uniq = {k: json.loads(k) for k in sorted(keys)}
        avro_schema = reduce(merge_avro_schemas, uniq.values())
    return _decode(
        spark, [(f, 0, None) for f in files], avro_schema, fltr, include, exclude
    )
