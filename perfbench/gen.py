"""Seeded input generators and the answers each workload must reproduce.

Everything here is pure Python (no Spark): the expected values are
derived from the generated records by hand-written rules, never by
running the code under test.
"""

from __future__ import annotations

import json
import os
import random
from typing import Dict, List

# Rates of missing repetition in the nested orders. Each list can be
# null, empty or populated; flatten's INNER join drops a parent whose
# list is null or empty and its OUTER join keeps it as one row.
NULL_ITEMS, EMPTY_ITEMS = 0.04, 0.04
NULL_ATTRS, EMPTY_ATTRS = 0.08, 0.08
NULL_TAGS, EMPTY_TAGS = 0.10, 0.10
NULL_TIER, NULL_PRICE, NULL_VALUE = 0.30, 0.10, 0.20

ORDER_AVRO_SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "order_id", "type": "long"},
        {
            "name": "customer",
            "type": {
                "type": "record",
                "name": "Customer",
                "fields": [
                    {"name": "name", "type": "string"},
                    {"name": "tier", "type": ["null", "string"]},
                ],
            },
        },
        {
            "name": "items",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "Item",
                        "fields": [
                            {"name": "sku", "type": "string"},
                            {"name": "qty", "type": "long"},
                            {"name": "price", "type": ["null", "double"]},
                            {
                                "name": "attrs",
                                "type": [
                                    "null",
                                    {
                                        "type": "array",
                                        "items": {
                                            "type": "record",
                                            "name": "Attr",
                                            "fields": [
                                                {"name": "k", "type": "string"},
                                                {"name": "v", "type": ["null", "string"]},
                                            ],
                                        },
                                    },
                                ],
                            },
                        ],
                    },
                },
            ],
        },
        {"name": "tags", "type": ["null", {"type": "array", "items": "string"}]},
    ],
}


def _maybe_list(rng: random.Random, p_null: float, p_empty: float, make, lo: int, hi: int):
    u = rng.random()
    if u < p_null:
        return None
    if u < p_null + p_empty:
        return []
    return [make() for _ in range(rng.randint(lo, hi))]


def orders(seed: int, n: int, first_id: int = 0) -> List[dict]:
    """``n`` nested order documents: ``items[].attrs[]`` and ``tags[]``."""
    rng = random.Random(seed)

    def attr():
        return {
            "k": "a%d" % rng.randrange(12),
            "v": None if rng.random() < NULL_VALUE else "x%d" % rng.randrange(1000),
        }

    def item():
        return {
            "sku": "sku-%d" % rng.randrange(5000),
            "qty": rng.randint(1, 9),
            "price": None if rng.random() < NULL_PRICE else rng.randrange(100, 100000) / 100.0,
            "attrs": _maybe_list(rng, NULL_ATTRS, EMPTY_ATTRS, attr, 1, 3),
        }

    docs = []
    for i in range(n):
        docs.append(
            {
                "order_id": first_id + i,
                "customer": {
                    "name": "c%d" % rng.randrange(20000),
                    "tier": None if rng.random() < NULL_TIER else rng.choice(["gold", "silver", "bronze"]),
                },
                "items": _maybe_list(rng, NULL_ITEMS, EMPTY_ITEMS, item, 1, 4),
                "tags": _maybe_list(
                    rng, NULL_TAGS, EMPTY_TAGS, lambda: "t%d" % rng.randrange(40), 1, 3
                ),
            }
        )
    return docs


def order_expectations(docs: List[dict]) -> Dict[str, int]:
    """Row counts and ``qty`` sums of the flattens the workload runs.

    INNER explodes ``items`` then ``attrs`` and drops any row whose list
    is null or empty; OUTER keeps such a row once with nulls below it.
    """
    inner_rows = inner_qty = outer_rows = outer_qty = tag_rows = 0
    for d in docs:
        items = d["items"] or []
        if not items:
            outer_rows += 1
        for it in items:
            n_attrs = len(it["attrs"] or [])
            inner_rows += n_attrs
            inner_qty += it["qty"] * n_attrs
            outer_rows += max(1, n_attrs)
            outer_qty += it["qty"] * max(1, n_attrs)
        tag_rows += max(1, len(d["tags"] or []))
    return {
        "docs": len(docs),
        "inner_rows": inner_rows,
        "inner_qty": inner_qty,
        "outer_rows": outer_rows,
        "outer_qty": outer_qty,
        "tag_outer_rows": tag_rows,
    }


def _arrow_order_schema():
    import pyarrow as pa

    attr = pa.struct([("k", pa.string()), ("v", pa.string())])
    item = pa.struct(
        [("sku", pa.string()), ("qty", pa.int64()), ("price", pa.float64()), ("attrs", pa.list_(attr))]
    )
    return pa.schema(
        [
            ("order_id", pa.int64()),
            ("customer", pa.struct([("name", pa.string()), ("tier", pa.string())])),
            ("items", pa.list_(item)),
            ("tags", pa.list_(pa.string())),
        ]
    )


def write_orders(docs: List[dict], out_dir: str, files: int) -> Dict[str, str]:
    """Write ``docs`` as deflate Avro containers, JSON lines and Parquet,
    ``files`` files per format (one read task per file). Returns the
    glob of each format."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bamboo_spark.sources._avro_py import write_container

    paths = {}
    for fmt in ("avro", "json", "parquet"):
        os.makedirs(os.path.join(out_dir, fmt), exist_ok=True)
        paths[fmt] = os.path.join(out_dir, fmt, "part-*." + fmt)
    schema = _arrow_order_schema()
    step = -(-len(docs) // files)
    for i in range(files):
        chunk = docs[i * step : (i + 1) * step]
        stem = "part-%03d." % i
        write_container(
            os.path.join(out_dir, "avro", stem + "avro"), ORDER_AVRO_SCHEMA, chunk, codec="deflate"
        )
        with open(os.path.join(out_dir, "json", stem + "json"), "w") as fh:
            fh.writelines(json.dumps(d) + "\n" for d in chunk)
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=schema), os.path.join(out_dir, "parquet", stem + "parquet")
        )
    return paths


def keyed_batches(seed: int, base: int, appends: int, append_rows: int, merge_rows: int) -> dict:
    """Keyed ``(k, v)`` batches for one table lifecycle pass. Keys are
    distinct across the base and the appends; the merge source mixes
    keys already in the table with new ones. The lookups are three keys
    in the table and one that never is. ``v`` stays positive, so SQL
    ``%`` and Python ``%`` agree."""
    rng = random.Random(seed)
    n_keys = base + appends * append_rows + merge_rows
    fresh = rng.sample(range(1, 50 * n_keys), n_keys)

    def rows(keys):
        return [(k, rng.randrange(1, 1_000_000)) for k in keys]

    pos = 0

    def take(n):
        nonlocal pos
        out = fresh[pos : pos + n]
        pos += n
        return out

    base_rows = rows(take(base))
    append_batches = [rows(take(append_rows)) for _ in range(appends)]
    written = [k for k, _ in base_rows] + [k for b in append_batches for k, _ in b]
    half = merge_rows // 2
    merge_src = rows(rng.sample(written, half) + take(merge_rows - half))
    lookups = [rng.choice(written) for _ in range(3)] + [-rng.randrange(1, 1000)]
    return {
        "base": base_rows,
        "appends": append_batches,
        "merge": merge_src,
        "lookups": lookups,
    }


def apply_merge(table: Dict[int, int], src) -> None:
    """The predicate MERGE of ``queries/table_q.py``: a matched row is
    deleted when ``s.v % 7 == 0``, else gets ``v := s.v + t.v`` when
    ``s.v`` is even; an unmatched source row is inserted when ``s.v`` is
    odd."""
    for k, sv in src:
        if k in table:
            if sv % 7 == 0:
                del table[k]
            elif sv % 2 == 0:
                table[k] = sv + table[k]
        elif sv % 2 == 1:
            table[k] = sv
