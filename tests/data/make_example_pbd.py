"""Regenerate ``tests/data/example.pbd``, the PBD golden file of FIXTURES.md F7.

The reference library's own golden bytes (its
``python/bamboo_tests/data/example.pbd``) are not shipped with this
repository, so this file is a reconstruction of them from the F7
description: one proto2 record of ``package t; message Example``

    a  int32 = 13            m  M {b int32 = 23; c int32 = 33}
    d  float = -1.3          e  enum E {A, B, C} = B
    f  repeated double = [2.3, 3.3]
    s  string = "test"       sd string (absent: default "")
    de enum DE {DE1, DE2} (absent: default DE1)
    rm repeated R {b int32} = [{b: 11}, {b: 22}]

The descriptor block is written with the test-side encoder in
``tests/test_pbd.py`` and the record with ``_pbd_py.write_pbd_records``.
Run from the repository root::

    python tests/data/make_example_pbd.py
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from bamboo_spark.sources._pbd_py import parse_header, write_pbd_records  # noqa: E402
from tests.test_pbd import _container, _field_desc, _ld, _message_desc, _tag, _varint  # noqa: E402

OUT = os.path.join(ROOT, "tests", "data", "example.pbd")

INT32, FLOAT, DOUBLE, STRING, MESSAGE, ENUM = 5, 2, 1, 9, 11, 14
REPEATED = 3


def _enum_desc(name, symbols):
    out = _ld(1, name.encode())
    for number, symbol in symbols:
        out += _ld(2, _ld(1, symbol.encode()) + _tag(2, 0) + _varint(number))
    return out


def main():
    nested = [
        _message_desc("M", [_field_desc("b", 1, INT32), _field_desc("c", 2, INT32)]),
        _message_desc("R", [_field_desc("b", 1, INT32)]),
    ]
    desc = _message_desc(
        "Example",
        [
            _field_desc("a", 1, INT32),
            _field_desc("m", 2, MESSAGE, type_name=".t.Example.M"),
            _field_desc("d", 3, FLOAT),
            _field_desc("e", 4, ENUM, type_name=".t.Example.E"),
            _field_desc("f", 5, DOUBLE, label=REPEATED),
            _field_desc("s", 6, STRING),
            _field_desc("sd", 7, STRING),
            _field_desc("de", 8, ENUM, type_name=".t.Example.DE"),
            _field_desc("rm", 9, MESSAGE, label=REPEATED, type_name=".t.Example.R"),
        ],
        nested=nested,
    )
    desc += _ld(4, _enum_desc("E", [(0, "A"), (1, "B"), (2, "C")]))
    desc += _ld(4, _enum_desc("DE", [(1, "DE1"), (2, "DE2")]))
    header = _container([desc], "t.Example", [])
    root, _ = parse_header(header)
    record = {
        "a": 13,
        "m": {"b": 23, "c": 33},
        "d": -1.3,
        "e": "B",
        "f": [2.3, 3.3],
        "s": "test",
        "rm": [{"b": 11}, {"b": 22}],
    }
    write_pbd_records(OUT, header, root, [record])
    return OUT


if __name__ == "__main__":
    print(main())
