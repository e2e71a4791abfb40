"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests start Spark (about a minute in all); the rest are pure
Python.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import Op  # noqa: E402
from workloads import canonical_hash  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(tmp_path, *args):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_generators_are_deterministic():
    assert gen.orders(5, 200) == gen.orders(5, 200)
    assert gen.orders(5, 200) != gen.orders(6, 200)
    assert gen.keyed_batches(5, 100, 2, 10, 20) == gen.keyed_batches(5, 100, 2, 10, 20)
    assert gen.keyed_batches(5, 100, 2, 10, 20) != gen.keyed_batches(6, 100, 2, 10, 20)


def test_keyed_batches_keep_keys_distinct():
    b = gen.keyed_batches(3, 500, 3, 50, 80)
    written = [k for k, _ in b["base"]] + [k for batch in b["appends"] for k, _ in batch]
    assert len(set(written)) == len(written)
    merge_keys = [k for k, _ in b["merge"]]
    assert len(set(merge_keys)) == len(merge_keys)
    assert 0 < len(set(merge_keys) & set(written)) < len(merge_keys)


def test_order_expectations_follow_flatten_join_rules():
    docs = [
        {"items": [{"qty": 2, "attrs": [{}, {}]}, {"qty": 3, "attrs": []}, {"qty": 5, "attrs": None}],
         "tags": ["a", "b"]},
        {"items": [], "tags": ["a"]},
        {"items": None, "tags": None},
        {"items": [{"qty": 7, "attrs": [{}]}], "tags": []},
    ]
    assert gen.order_expectations(docs) == {
        "docs": 4,
        "inner_rows": 3,  # 2 attrs of the first item, 1 of the last
        "inner_qty": 2 * 2 + 7,
        "outer_rows": 2 + 1 + 1 + 1 + 1 + 1,  # empty and null lists keep one row
        "outer_qty": 2 * 2 + 3 + 5 + 7,
        "tag_outer_rows": 2 + 1 + 1 + 1,
    }


def test_apply_merge_clause_order():
    table = {1: 10, 2: 20, 3: 30}
    # 14: delete (multiple of 7, checked first); 4: update; 5: no match-update
    gen.apply_merge(table, [(1, 14), (2, 4), (3, 5), (8, 9), (9, 6)])
    assert table == {2: 24, 3: 30, 8: 9}


def test_checker_flags_a_corrupted_result():
    pdf = pd.DataFrame({"b": [1.5, 2.0, None], "a": ["x", "y", "z"], "n": [3, 4, 5]})
    same = pdf.iloc[::-1][["n", "a", "b"]].reset_index(drop=True)
    assert canonical_hash(pdf) == canonical_hash(same)
    # integral floats equal integers: engines differ in nullable int types
    assert canonical_hash(pdf.assign(n=[3.0, 4.0, 5.0])) == canonical_hash(pdf)
    bad = pdf.copy()
    bad.loc[1, "b"] = 2.5
    assert canonical_hash(bad) != canonical_hash(pdf)
    assert canonical_hash(pdf.iloc[:2]) != canonical_hash(pdf)
    assert canonical_hash(pdf.rename(columns={"n": "m"})) != canonical_hash(pdf)


def test_gap_is_wall_time_outside_the_union_of_jobs():
    op = Op(0, "x")
    op.start, op.end = 100.0, 110.0
    op.job_intervals = [(101.0, 103.0), (102.0, 104.0), (108.0, 112.0)]
    assert op.gap_s == pytest.approx(10.0 - 3.0 - 2.0)


def test_spec_names_are_unique_and_workloads_exist():
    from workloads import WORKLOADS

    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nested_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize(
    "workload,trace", [("nested_ingest", "0"), ("table_commits", "1")]
)
def test_smoke_run_prints_every_metric(tmp_path, workload, trace):
    code, lines = _run(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "0", "--trace", trace)
    assert code == 0, lines
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert not glob.glob(os.path.join(ROOT, ".perfbench_run", workload + "-*"))
