"""The staged-commit path every data-writing publish flavor shares:
per-flavor Spark job counts stay pinned, the merge's delete-vector
sidecar can never be cited as a data file whichever way its build
interleaves with the data write, branch appends honour CHECK
constraints, and an unreadable manifest raises instead of reading as
"no table"."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    delete_publish,
    fsck_table,
    read_published,
    replace_partitions_publish,
    vacuum,
)


def _kvp(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 4).cast("string").alias("p"),
    )


def _jobs(spark, name, fn):
    """Jobs the scheduler hands out while ``fn`` runs: every id in the
    range, tagged with this call's group or not — the merge sidecar
    build runs on a second driver thread whose jobs carry no group."""
    sc = spark.sparkContext
    next_id = sc._jsc.sc().dagScheduler().nextJobId
    group = "publish-job-pin-" + name
    sc.setJobGroup(group, name)
    try:
        first = int(next_id())
        fn()
        last = int(next_id())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tagged = set(sc.statusTracker().getJobIdsForGroup(group))
    assert tagged and tagged <= set(range(first, last)), (name, tagged)
    return last - first


# Jobs each call below launched on the commit before the publish
# flavors shared one staging path. A refactor may lower them; raising
# one is a regression this test must catch.
_PINNED_JOBS = {
    "atomic_publish": 2,
    "append_publish": 2,
    "merge_into": 16,
    "delete_publish_dv": 9,
    "compact": 5,
    "replace_partitions_publish": 2,
    "append_branch": 2,
}


def test_publish_job_counts_pinned(spark, tmp_path):
    t = str(tmp_path / "t")
    src = spark.createDataFrame(
        [(1, 7, "1"), (2, 0, "2"), (77, 770, "1")],
        "k long, v long, p string",
    )
    calls = {
        "atomic_publish": lambda: atomic_publish(
            _kvp(spark, 0, 40), t, partition_by="p"
        ),
        "append_publish": lambda: append_publish(_kvp(spark, 40, 50), t),
        "merge_into": lambda: P.merge_into(
            src, t, "k",
            when_matched_update={"v": "s.v"},
            when_matched_delete_condition="s.v = 0",
        ),
        "delete_publish_dv": lambda: delete_publish(
            spark, t, "k = 5", delete_vectors=True
        ),
        "compact": lambda: compact(spark, t),
        "replace_partitions_publish": lambda: replace_partitions_publish(
            _kvp(spark, 0, 40).where("p = '3'"), t, values=["3"]
        ),
        "append_branch": lambda: P.append_branch(
            _kvp(spark, 100, 104), t, "b"
        ),
    }
    got = {}
    for name, call in calls.items():
        if name == "append_branch":
            P.create_branch(t, "b", spark=spark)
        got[name] = _jobs(spark, name, call)
    over = {k: (got[k], n) for k, n in _PINNED_JOBS.items() if got[k] > n}
    assert not over, "jobs (now, pinned) rose: %s; all: %s" % (over, got)
    rows = {r.k: r.v for r in read_published(spark, t).collect()}
    assert rows[1] == 7 and 77 in rows
    # merged away 2, dv-deleted 5, partition 3 replaced without 43, 47
    assert not {2, 5, 43, 47} & set(rows) and len(rows) == 47


def _data_refs_only(t, spark):
    """Every cited file is a data file of its version dir: no path
    component below ``_v<N>`` is hidden (``_dvp``, ``_temporary``)."""
    files = P.live_files(t, spark=spark)
    assert files
    for f in files:
        parts = f.split("/")
        assert parts[-1].startswith("part-") and parts[-1].endswith(".parquet"), f
        assert not [c for c in parts[1:] if c[:1] in "_."], f


@pytest.mark.parametrize("order", ["sidecar_before_scan", "sidecar_dir_first"])
def test_merge_sidecar_never_cited_as_data(spark, tmp_path, monkeypatch, order):
    """The merge builds its delete-vector sidecar (``<vdir>/_dvp``) on a
    second driver thread while the data write runs into the same staged
    dir. ``sidecar_before_scan``: the sidecar is complete before the
    data files are listed, so a scan that walked the whole dir would
    cite ``_dvp/part-*.parquet`` as data. ``sidecar_dir_first``: the
    sidecar dir exists before the data write starts, which an
    error-if-exists data write would refuse."""
    t = str(tmp_path / "t")
    atomic_publish(_kvp(spark, 0, 20).coalesce(1), t)
    done = threading.Event()
    real_build = P._dv_build

    def build(*a, **kw):
        try:
            return real_build(*a, **kw)
        finally:
            done.set()

    monkeypatch.setattr(P, "_dv_build", build)
    if order == "sidecar_before_scan":
        real_scan = P._scan_written

        def scan(fs, vdir, vname):
            assert done.wait(120)
            assert os.path.isdir(os.path.join(vdir, P._DVP))
            return real_scan(fs, vdir, vname)

        monkeypatch.setattr(P, "_scan_written", scan)
    else:
        real_rebalance = P._pt_rebalance

        def rebalance(df, parts):
            assert done.wait(120)
            return real_rebalance(df, parts)

        monkeypatch.setattr(P, "_pt_rebalance", rebalance)
    src = spark.createDataFrame([(3, 1, "3"), (50, 2, "2")], "k long, v long, p string")
    v = P.merge_into(src, t, "k", when_matched_update={"v": "s.v"})
    monkeypatch.undo()
    assert v == 2 and done.is_set()
    _data_refs_only(t, spark)
    rows = {r.k: r.v for r in read_published(spark, t).collect()}
    assert len(rows) == 21 and rows[3] == 1 and rows[50] == 2
    vacuum(t, keep=1, spark=spark)
    rep = fsck_table(t, spark=spark)
    assert rep["ok"] and not rep["orphan_dirs"] and not rep["stray_claims"], rep
    assert read_published(spark, t).count() == 21


def test_append_branch_enforces_check_constraints(spark, tmp_path):
    t = str(tmp_path / "t")
    atomic_publish(_kvp(spark, 0, 10), t)
    P.add_constraint(t, "v_nonneg", "v >= 0", spark=spark)
    P.create_branch(t, "b", spark=spark)
    bad = spark.createDataFrame([(90, -1, "2")], "k long, v long, p string")
    with pytest.raises(ValueError, match="v_nonneg"):
        P.append_branch(bad, t, "b")
    assert read_published(spark, t, ref="b").where("v < 0").count() == 0
    assert P.append_branch(_kvp(spark, 10, 12), t, "b") == 1
    P.fast_forward_branch(t, "b", spark=spark)
    got = read_published(spark, t)
    assert got.count() == 12 and got.where("v < 0").count() == 0
    names = os.listdir(t)
    assert not [n for n in names if n.endswith(".claim")], names


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
@pytest.mark.parametrize("backend", ["posix", "hadoop-file-uri"])
def test_unreadable_manifest_raises_not_absent(spark, tmp_path, backend, damage):
    """Only a missing manifest means "no table". A truncated or
    undecodable one raises a typed error, so the next write cannot
    commit "version 1" over the table's history."""
    local = str(tmp_path / "t")
    t = "file://" + local if backend == "hadoop-file-uri" else local
    for i in range(3):
        append_publish(_kvp(spark, 10 * i, 10 * i + 10), t)
    path = os.path.join(local, P._MANIFEST)
    with open(path, "rb") as fh:
        intact = fh.read()
    bad = intact[: len(intact) // 2] if damage == "truncated" else b"\xff\xfe{"
    with open(path, "wb") as fh:
        fh.write(bad)
    with pytest.raises(P.UnreadableManifestError):
        P.current_version(t, spark)
    with pytest.raises(P.UnreadableManifestError):
        append_publish(_kvp(spark, 90, 95), t)
    with pytest.raises(P.UnreadableManifestError):
        atomic_publish(_kvp(spark, 90, 95), t)
    with open(path, "wb") as fh:
        fh.write(intact)
    assert P.current_version(t, spark) == 3
    for v in (1, 2, 3):
        assert read_published(spark, t, version=v).count() == 10 * v
    missing = str(tmp_path / "absent")
    missing = "file://" + missing if backend == "hadoop-file-uri" else missing
    assert P.current_version(missing, spark) == 0
