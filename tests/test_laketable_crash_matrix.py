"""Crash-point fault matrix: kill a writer at EVERY durable-state step
boundary of commit / stage / publish / keyed-rewrite / compact /
expire (the ``fault_hook`` seam in laketable.py) and assert the table

1. stays READABLE at a consistent snapshot (never partial),
2. is RECOVERABLE — the documented repair (retry, ``recover_head``,
   re-running the operation) brings it fully current, and
3. never loses a commit that passed its commit point (the manifest
   put) nor surfaces one that didn't.

The commit matrix runs on both metadata stores with one expectation
table: the manifest put lands the whole manifest on each, so a crash
leaves the same state on each."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import (
    CommitConflict,
    LakeTable,
    compact,
    orphan_files,
)
from financial_data_pipeline_spark.sources.metastore import (
    MemoryObjectMetaStore,
)

# fs=None is the POSIX default; the memory store has object-store
# semantics (conditional puts, no rename)
_STORES = [
    pytest.param(lambda: None, id="posix"),
    pytest.param(MemoryObjectMetaStore, id="objectstore"),
]


class _Killed(RuntimeError):
    """The simulated writer death."""


def _arm(table: LakeTable, point: str) -> None:
    def hook(p: str) -> None:
        if p == point:
            raise _Killed(point)

    table.fault_hook = hook


def _batch(spark, lo, hi, tag):
    return (
        spark.range(lo * 100, hi * 100)
        .select(
            (F.col("id") / 100).cast("int").alias("day"),
            F.col("id").alias("value"),
            F.lit(tag).alias("tag"),
        )
        .repartition(2)
    )


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])


# (fault point, did the crashed commit pass its commit point?)
_COMMIT_POINTS = [
    ("commit:post_write_files", False),
    ("advance:pre_create", False),
    ("advance:post_create", True),  # complete manifest, HEAD lags
    ("advance:pre_head", True),
    ("advance:post_head", True),  # fully landed, death after success
]


@pytest.mark.parametrize("point,committed", _COMMIT_POINTS)
@pytest.mark.parametrize("mk_store", _STORES)
def test_commit_crash_matrix(spark, tmp_path, mk_store, point, committed):
    table = LakeTable(
        spark, str(tmp_path / "tbl"), stat_cols=["day"], fs=mk_store()
    )
    table.commit(_batch(spark, 0, 1, "base"))  # v1
    _arm(table, point)
    with pytest.raises(_Killed):
        table.commit(_batch(spark, 1, 2, "crashed"))
    table.fault_hook = None

    # 1. readable at a consistent snapshot: either pre- or post-commit
    assert table.read().count() in (100, 200)

    # 2. recovery per window
    if committed and point != "advance:post_head":
        # manifest put = COMMITTED; HEAD lags → writers conflict until
        # recover_head repairs the pointer (never silently drops the
        # committed batch)
        assert table.read().count() == 100  # still the old view
        with pytest.raises(CommitConflict):
            table.commit(_batch(spark, 2, 3, "next"))
        assert table.recover_head() == 2
        assert table.read().count() == 200  # the crashed commit IS there
        table.commit(_batch(spark, 2, 3, "next"))
        assert table.read().count() == 300
    elif point == "advance:post_head":
        assert table.read().count() == 200
        table.commit(_batch(spark, 2, 3, "next"))
        assert table.read().count() == 300
    else:
        # nothing durable in the metadata plane; at most orphan data
        # files
        assert table.read().count() == 100
        assert table.snapshots() == [1]
        table.commit(_batch(spark, 2, 3, "next"))
        assert table.read().count() == 200
        if point == "commit:post_write_files":
            orphans = orphan_files(table)
            assert orphans  # the crashed writer's files, reclaimable
            for p in orphans:
                assert p not in set(table.pruned_files())

    # 3. recover_head is idempotent / a no-op once current
    head = table.head_version()
    assert table.recover_head() == head


def test_stage_crash_leaves_only_orphans(spark, table):
    table.commit(_batch(spark, 0, 1, "base"))
    _arm(table, "stage:post_write_files")
    with pytest.raises(_Killed):
        table.stage(_batch(spark, 1, 2, "crashed"))
    table.fault_hook = None
    assert table.read().count() == 100
    assert table.snapshots() == [1]  # no staged snapshot materialized
    assert orphan_files(table)
    # the operation simply re-runs
    v = table.stage(_batch(spark, 1, 2, "retry"))
    table.publish(v)
    assert table.read().count() == 200


@pytest.mark.parametrize(
    "point,flipped",
    [
        ("publish:pre_flip", False),
        ("publish:post_flip", True),
        ("publish:pre_head", True),
    ],
)
def test_publish_crash_matrix(spark, table, point, flipped):
    table.commit(_batch(spark, 0, 1, "base"))  # v1
    v = table.stage(_batch(spark, 1, 2, "staged"))  # v2
    _arm(table, point)
    with pytest.raises(_Killed):
        table.publish(v)
    table.fault_hook = None
    assert table.read().count() == 100  # HEAD untouched either way
    if not flipped:
        # still staged: the publish re-runs cleanly
        assert table._load_snapshot(v).staged
        table.publish(v)
    else:
        # flipped = committed; HEAD lags → conflict until repaired
        assert not table._load_snapshot(v).staged
        with pytest.raises(CommitConflict):
            table.commit(_batch(spark, 2, 3, "next"))
        assert table.recover_head() == v
    assert table.read().count() == 200
    table.commit(_batch(spark, 2, 3, "next"))
    assert table.read().count() == 300


def test_rewrite_crash_leaves_only_orphans(spark, table):
    """delete()/merge() dying after writing survivor files but before
    the manifest: old snapshot fully intact, retry completes."""
    table.commit(_batch(spark, 0, 2, "base"))
    _arm(table, "rewrite:post_write_files")
    keys = _batch(spark, 1, 2, "x").select("day", "value")
    with pytest.raises(_Killed):
        table.delete(keys, key_cols=["day", "value"])
    table.fault_hook = None
    assert table.read().count() == 200  # nothing deleted yet
    assert orphan_files(table)
    table.delete(keys, key_cols=["day", "value"])
    assert table.read().count() == 100
    assert table.read().filter(F.col("day") == 1).count() == 0


def test_compact_crash_leaves_only_orphans(spark, table):
    table.commit(_batch(spark, 0, 1, "a"))
    table.commit(_batch(spark, 1, 2, "b"))
    _arm(table, "compact:post_write_files")
    with pytest.raises(_Killed):
        compact(table, small_file_rows=10_000)
    table.fault_hook = None
    assert table.read().count() == 200
    assert orphan_files(table)
    v = compact(table, small_file_rows=10_000)
    assert table.read(version=v).count() == 200


@pytest.mark.parametrize(
    "point",
    [
        "expire:mid_data_delete",
        "expire:pre_manifest_delete",
        "expire:post_manifest_delete",
    ],
)
def test_expire_crash_matrix(spark, table, point):
    """expire_snapshots dying mid-reclaim: HEAD's files are never in
    the delete set, so the live table stays fully readable; a re-run
    finishes the job (idempotent — missing files/manifests skip)."""
    table.commit(_batch(spark, 0, 2, "a"))  # v1 (2 files, dead below)
    table.commit(_batch(spark, 5, 6, "fresh"), mode="overwrite")  # v2
    _arm(table, point)
    with pytest.raises(_Killed):
        table.expire_snapshots(keep_last=1)
    table.fault_hook = None
    # live view intact despite the half-done reclaim
    assert table.read().count() == 100
    assert {r.tag for r in table.read().select("tag").distinct().collect()} == {
        "fresh"
    }
    # re-run completes the reclaim
    table.expire_snapshots(keep_last=1)
    assert table.snapshots() == [2]
    assert table.read().count() == 100
    for p in table.pruned_files():
        assert os.path.exists(p)
    # v1's data files are gone (both reclaim halves eventually ran)
    assert not orphan_files(table)
