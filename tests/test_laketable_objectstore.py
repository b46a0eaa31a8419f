"""The lake commit protocol on OBJECT-STORE semantics.

Round 8's verdict named the lake's POSIX coupling as the last
un-retired 100 TB design risk: production lakes live on S3/GCS/ABFS,
which have conditional puts and atomic whole-object PUTs but NO rename
and NO create-then-fill. The ``MetaStore`` seam (sources/metastore.py)
extracts the protocol's six primitives; this file runs the protocol
against ``MemoryObjectMetaStore`` — in-memory, but with the store's
semantics (conditional put as the commit point, atomic overwrite PUTs
for HEAD and flag flips, no temp files).

Covers: the conditional put under racing threads (on both stores),
WAP stage/publish, rollback + time travel, expire/vacuum, the OCC
multi-writer race (threads — one store instance, like one bucket) and
a torn-HEAD reader probe. The commit crash matrix runs on both stores
in test_laketable_crash_matrix.py. The multiprocess leg stays
POSIX-only (an in-memory store cannot span processes; a real bucket is
the multi-process store)."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import (
    CommitConflict,
    LakeTable,
)
from financial_data_pipeline_spark.sources.metastore import (
    MemoryObjectMetaStore,
    PosixMetaStore,
)


class _Killed(RuntimeError):
    pass


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
def store():
    return MemoryObjectMetaStore()


@pytest.fixture()
def table(spark, tmp_path, store):
    return LakeTable(
        spark, str(tmp_path / "tbl"), stat_cols=["day"], fs=store
    )


# ---------------------------------------------------------------------------
# store-semantics unit checks
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "mk_store",
    [
        pytest.param(PosixMetaStore, id="posix"),
        pytest.param(MemoryObjectMetaStore, id="objectstore"),
    ],
)
def test_put_if_absent_is_atomic_under_threads(tmp_path, mk_store):
    """16 threads race one conditional put: exactly one wins, the
    object holds that winner's COMPLETE payload, and no temp file is
    left beside it."""
    store = mk_store()
    mdir = str(tmp_path / "_manifests")
    store.makedirs(mdir)
    path = os.path.join(mdir, "v000001.json")
    payloads = [f"w{i}:" + "x" * 65536 for i in range(16)]
    start = threading.Barrier(len(payloads))
    wins = []

    def race(i):
        start.wait()
        if store.put_if_absent(path, payloads[i]):
            wins.append(i)

    threads = [
        threading.Thread(target=race, args=(i,)) for i in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(wins) == 1  # exactly one conditional put succeeds
    assert store.get(path) == payloads[wins[0]]
    assert store.list_names(mdir) == ["v000001.json"]  # no .tmp. left


# ---------------------------------------------------------------------------
# protocol lifecycle on the store
# ---------------------------------------------------------------------------


def test_wap_stage_publish_on_objectstore(spark, table):
    table.commit(_batch(spark, 0, 1, "base"))
    v = table.stage(_batch(spark, 1, 2, "wap"))
    assert table.read().count() == 100  # staged = invisible
    table.publish(v)
    assert table.read().count() == 200


def test_publish_crash_between_flip_and_head(spark, table):
    table.commit(_batch(spark, 0, 1, "base"))
    v = table.stage(_batch(spark, 1, 2, "wap"))
    _arm(table, "publish:pre_head")
    with pytest.raises(_Killed):
        table.publish(v)
    table.fault_hook = None
    # flipped but HEAD lags — recover_head promotes it
    assert table.recover_head() == v
    assert table.read().count() == 200


def test_rollback_time_travel_expire_on_objectstore(spark, table):
    table.commit(_batch(spark, 0, 1, "a"))
    table.commit(_batch(spark, 1, 2, "b"))
    table.commit(_batch(spark, 2, 3, "c"))
    assert table.read(version=1).count() == 100  # time travel
    table.rollback(2)
    assert table.read().count() == 200
    table.commit(_batch(spark, 3, 4, "d"))  # branches past detached v3
    assert table.read().count() == 300
    deleted = table.expire_snapshots(keep_last=2)
    assert isinstance(deleted, list)
    assert table.read().count() == 300  # head intact after vacuum


def test_conflict_and_retry_on_objectstore(spark, tmp_path, store):
    root = str(tmp_path / "tbl")
    t1 = LakeTable(spark, root, stat_cols=["day"], fs=store)
    t2 = LakeTable(spark, root, stat_cols=["day"], fs=store)
    t1.commit(_batch(spark, 0, 1, "base"))
    # t2 derives from v1; t1 commits v2 first; t2's commit must conflict
    base = t2.head_version()
    carried = t2._load_snapshot(base).files
    t1.commit(_batch(spark, 1, 2, "t1"))
    files = t2._write_files(_batch(spark, 2, 3, "t2"))
    with pytest.raises(CommitConflict):
        t2._advance("append", carried + files, base=base)
    # retry: re-read HEAD, re-derive the carried set (the documented
    # recipe), succeed against the new base
    base = t2.head_version()
    t2._advance(
        "append", t2._load_snapshot(base).files + files, base=base
    )
    assert t1.read().count() == 300


# ---------------------------------------------------------------------------
# OCC + torn-head probes (threads — one store, like one bucket)
# ---------------------------------------------------------------------------


def test_occ_race_objectstore(spark, tmp_path, store):
    """4 writer threads x 3 commits each with retry-on-conflict: the
    table converges to exactly 12 consecutive committed versions and
    the union of all rows — the occ_probe invariant, on the store."""
    root = str(tmp_path / "tbl")
    n_writers, n_commits = 4, 3
    errors = []

    def writer(w):
        t = LakeTable(spark, root, stat_cols=["day"], fs=store)
        for c in range(n_commits):
            df = _batch(spark, w * 10 + c, w * 10 + c + 1, f"w{w}c{c}")
            files = t._write_files(df)
            while True:  # retry: re-read HEAD, re-derive carried set
                base = t.head_version()
                carried = (
                    t._load_snapshot(base).files if base > 0 else []
                )
                try:
                    t._advance("append", carried + files, base=base)
                    break
                except CommitConflict:
                    continue
                except Exception as exc:  # pragma: no cover
                    errors.append(repr(exc))
                    return

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    reader = LakeTable(spark, root, stat_cols=["day"], fs=store)
    total = n_writers * n_commits
    assert reader.snapshots() == list(range(1, total + 1))
    assert reader.head_version() == total
    assert reader.read().count() == total * 100  # zero lost rows


def test_no_torn_head_reads_objectstore(spark, tmp_path, store):
    """Readers hammer head_version() while a writer commits — every
    read returns a valid monotonic version, never a decode error (the
    r8 torn-HEAD bug class, now pinned on the store's atomic PUT)."""
    root = str(tmp_path / "tbl")
    t = LakeTable(spark, root, stat_cols=["day"], fs=store)
    t.commit(_batch(spark, 0, 1, "base"))
    stop = threading.Event()
    bad = []
    seen = []

    def reader():
        r = LakeTable(spark, root, stat_cols=["day"], fs=store)
        while not stop.is_set():
            try:
                seen.append(r.head_version())
            except Exception as exc:  # torn read
                bad.append(repr(exc))

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for th in threads:
        th.start()
    for c in range(1, 6):
        t.commit(_batch(spark, c, c + 1, f"c{c}"))
    stop.set()
    for th in threads:
        th.join()
    assert not bad
    assert seen and all(1 <= v <= 6 for v in seen)


def test_posix_store_is_default(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    assert isinstance(t.fs, PosixMetaStore)
