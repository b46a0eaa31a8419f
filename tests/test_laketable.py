"""LakeTable: snapshot isolation, time travel, rollback, and
stats-based file skipping on plain parquet."""

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import LakeTable


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])


def _batch(spark, day_lo, day_hi, tag):
    return (
        spark.range(day_lo * 100, day_hi * 100)
        .select(
            (F.col("id") / 100).cast("int").alias("day"),
            F.col("id").alias("value"),
            F.lit(tag).alias("tag"),
        )
        .repartition(2)
    )


def test_append_commits_accumulate_and_time_travel(spark, table):
    v1 = table.commit(_batch(spark, 0, 2, "a"), mode="append")
    v2 = table.commit(_batch(spark, 2, 4, "b"), mode="append")
    assert (v1, v2) == (1, 2)
    assert table.read(version=1).count() == 200
    assert table.read().count() == 400  # HEAD sees both commits
    tags = {r.tag for r in table.read(version=1).select("tag").distinct().collect()}
    assert tags == {"a"}


def test_overwrite_redefines_visibility_keeps_history(spark, table):
    table.commit(_batch(spark, 0, 2, "a"), mode="append")
    table.commit(_batch(spark, 5, 6, "fresh"), mode="overwrite")
    assert table.read().count() == 100
    assert {r.tag for r in table.read().select("tag").distinct().collect()} == {
        "fresh"
    }
    # old snapshot still fully readable (no data deleted)
    assert table.read(version=1).count() == 200


def test_rollback_is_metadata_only(spark, table):
    table.commit(_batch(spark, 0, 2, "a"))
    table.commit(_batch(spark, 2, 4, "b"))
    table.rollback(1)
    assert table.head_version() == 1
    assert table.read().count() == 200
    # committing after rollback forks from the rolled-back head
    table.commit(_batch(spark, 9, 10, "c"))
    assert table.read().count() == 300
    with pytest.raises(ValueError):
        table.rollback(99)


def test_stats_pruning_skips_files_and_is_a_superset(spark, table):
    # three commits with disjoint day ranges -> disjoint file stats
    table.commit(_batch(spark, 0, 2, "a"))
    table.commit(_batch(spark, 2, 4, "b"))
    table.commit(_batch(spark, 4, 6, "c"))
    all_files = table.pruned_files()
    hit = table.pruned_files(pred_col="day", lo=4, hi=5)
    assert len(hit) < len(all_files)
    # pruned read + exact filter == full read + exact filter
    pruned = (
        table.read(pred_col="day", lo=4, hi=5)
        .filter((F.col("day") >= 4) & (F.col("day") <= 5))
        .count()
    )
    full = (
        table.read().filter((F.col("day") >= 4) & (F.col("day") <= 5)).count()
    )
    assert pruned == full == 200


def test_commit_rejects_unknown_mode(spark, table):
    with pytest.raises(ValueError):
        table.commit(_batch(spark, 0, 1, "x"), mode="merge")


def test_merge_upserts_and_prunes_untouched_files(spark, table):
    table.commit(_batch(spark, 0, 2, "a"))   # days 0-1
    table.commit(_batch(spark, 4, 6, "b"))   # days 4-5 (disjoint)
    before = {f for f in table.pruned_files()}
    # update only day 5 rows: the day-0/1 files must carry over untouched
    updates = _batch(spark, 5, 6, "patched")
    v = table.merge(updates, key_cols=["day", "value"])
    assert v == 3
    after = table._load_snapshot(v).files
    carried = {f.path for f in after} & before
    assert carried  # at least the day-0/1 files were NOT rewritten
    out = table.read()
    # 200 (days 0-1) + 100 (day-4 survivors) + 100 (patched day 5)
    assert out.count() == 400
    tags = {
        r.tag
        for r in out.filter(F.col("day") == 5).select("tag").distinct().collect()
    }
    assert tags == {"patched"}
    # pre-merge snapshot still shows the old rows (time travel)
    old_tags = {
        r.tag
        for r in table.read(version=2)
        .filter(F.col("day") == 5)
        .select("tag")
        .distinct()
        .collect()
    }
    assert old_tags == {"b"}


def test_merge_inserts_new_keys(spark, table):
    table.commit(_batch(spark, 0, 1, "a"))
    table.merge(_batch(spark, 9, 10, "new"), key_cols=["day", "value"])
    assert table.read().count() == 200


def test_merge_requires_stat_key(spark, table):
    table.commit(_batch(spark, 0, 1, "a"))
    with pytest.raises(ValueError):
        table.merge(_batch(spark, 0, 1, "x"), key_cols=["value"])


def test_expire_snapshots_reclaims_only_dead_files(spark, table):
    import os

    table.commit(_batch(spark, 0, 2, "a"))
    table.commit(_batch(spark, 5, 6, "fresh"), mode="overwrite")
    all_v1 = table.pruned_files(version=1)
    deleted = table.expire_snapshots(keep_last=1)
    # v1's files are dead (overwrite), so they are reclaimed
    assert set(deleted) == set(all_v1)
    assert table.snapshots() == [2]
    assert table.read().count() == 100
    for p in table.pruned_files():
        assert os.path.exists(p)


def test_expire_leaves_only_live_parts_and_metadata(spark, table):
    """commit → merge → expire(keep_last=1): what stays under the table
    root is HEAD's parts, each one's checksum sidecar, and the manifest
    dir — no commit marker, no orphaned sidecar, no emptied commit dir."""
    import os

    table.commit(_batch(spark, 0, 2, "a"))  # both files hold days 0-1
    table.merge(_batch(spark, 1, 2, "patched"), key_cols=["day", "value"])
    assert table.expire_snapshots(keep_last=1)
    live = set(table.pruned_files())
    allowed = live | {
        os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
        for p in live
    }
    dirs = set()
    for dirpath, dirnames, filenames in os.walk(table.root):
        dirnames[:] = [d for d in dirnames if d != "_manifests"]
        if dirpath != table.root:
            dirs.add(dirpath)
        for fn in filenames:
            assert os.path.join(dirpath, fn) in allowed, fn
    assert dirs == {os.path.dirname(p) for p in live}
    assert table.read().count() == 200


def test_delete_removes_keys_and_prunes_untouched(spark, table):
    table.commit(_batch(spark, 0, 2, "a"))   # days 0-1
    table.commit(_batch(spark, 4, 6, "b"))   # days 4-5
    before = set(table.pruned_files())
    keys = _batch(spark, 5, 6, "x").select("day", "value")
    v = table.delete(keys, key_cols=["day", "value"])
    out = table.read()
    assert out.count() == 300
    assert out.filter(F.col("day") == 5).count() == 0
    # day-0/1 files carried over untouched
    assert set(f.path for f in table._load_snapshot(v).files) & before
    # compliance purge: delete + expire removes the bytes
    deleted = table.expire_snapshots(keep_last=1)
    assert deleted  # the rewritten-away files are reclaimed
    assert table.read().count() == 300


def test_delete_missing_keys_is_noop_snapshot(spark, table):
    table.commit(_batch(spark, 0, 1, "a"))
    v = table.delete(
        _batch(spark, 50, 51, "zz").select("day", "value"),
        key_cols=["day", "value"],
    )
    assert table.read(version=v).count() == 100


def test_added_files_manifest_diff(spark, table):
    v1 = table.commit(_batch(spark, 0, 1, "a"))
    v2 = table.commit(_batch(spark, 1, 2, "b"))
    delta = table.added_files(since_version=v1, to_version=v2)
    assert delta
    assert set(delta) == set(table.pruned_files(version=v2)) - set(
        table.pruned_files(version=v1)
    )
    # reading just the delta yields exactly the new rows
    assert spark.read.parquet(*delta).count() == 100


def test_compact_merges_small_files_content_identical(spark, tmp_path):
    from financial_data_pipeline_spark.sources.laketable import (
        LakeTable,
        compact,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    # five tiny commits -> five+ small files (streaming-append shape)
    for b in range(5):
        table.commit(
            spark.range(b * 10, b * 10 + 10).selectExpr(
                "id", "id * 2 AS v"
            ),
            mode="append",
        )
    before = table._load_snapshot(table.head_version())
    v_before = table.head_version()

    v = compact(table, small_file_rows=1_000, sort_col="id")
    assert v == v_before + 1
    after = table._load_snapshot(v)
    assert len(after.files) < len(before.files)
    # content identical
    a = sorted(map(tuple, table.read().collect()))
    b = sorted(map(tuple, table.read(version=v_before).collect()))
    assert a == b and len(a) == 50
    # clustered rewrite tightens stats: file ranges are disjoint
    ranges = sorted(tuple(fs.stats["id"]) for fs in after.files)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # time travel still sees the pre-compaction layout
    assert len(before.files) == len(
        table._load_snapshot(v_before).files
    )


def test_compact_noop_below_two_small_files(spark, tmp_path):
    from financial_data_pipeline_spark.sources.laketable import (
        LakeTable,
        compact,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.commit(spark.range(100).selectExpr("id", "id AS v"))
    head = table.head_version()
    assert compact(table, small_file_rows=1) == head


def test_additive_schema_evolution_reads_merged(spark, tmp_path):
    from financial_data_pipeline_spark.sources.laketable import LakeTable

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.commit(spark.range(3).selectExpr("id", "id * 1.0 AS a"))
    table.commit(
        spark.range(10, 13).selectExpr("id", "id * 1.0 AS a", "'x' AS b")
    )
    merged = table.read(merge_schema=True)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r.id: r.b for r in merged.collect()}
    assert rows[0] is None and rows[10] == "x" and len(rows) == 6
    # default read (no merge) still works on the homogeneous prefix
    assert table.read(version=1).columns == ["id", "a"]


def test_table_changes_tracks_merge_and_delete(spark, tmp_path):
    from financial_data_pipeline_spark.sources.laketable import (
        LakeTable,
        table_changes,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    # CAST, not "id * 1.0": a 1.0 literal is decimal(2,1), so the
    # product would commit v as decimal(23,1) and the double-typed
    # merge below would now (correctly) be rejected
    v1 = table.commit(
        spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    )
    upd = spark.createDataFrame([(2, 99.0), (7, 7.0)], "id long, v double")
    v2 = table.merge(upd, ["id"])
    changes = {(r.id, r.v, r._change_type)
               for r in table_changes(table, v1, v2).collect()}
    assert changes == {
        (2, 2.0, "delete"), (2, 99.0, "insert"), (7, 7.0, "insert")
    }

    keys = spark.createDataFrame([(0,)], "id long")
    v3 = table.delete(keys, ["id"])
    ch2 = {(r.id, r._change_type)
           for r in table_changes(table, v2, v3).collect()}
    assert ch2 == {(0, "delete")}
    # full-interval CDF nets out the intermediate churn
    full = {(r.id, r.v, r._change_type)
            for r in table_changes(table, v1, v3).collect()}
    assert (0, 0.0, "delete") in full and (2, 99.0, "insert") in full


def test_read_as_of_timestamp(spark, tmp_path):
    import time as _time

    from financial_data_pipeline_spark.sources.laketable import (
        LakeTable,
        read_as_of,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.commit(spark.range(3).selectExpr("id"))
    t_mid = _time.time()
    _time.sleep(0.05)
    table.commit(spark.range(10, 13).selectExpr("id"))
    assert read_as_of(table, t_mid).count() == 3
    assert read_as_of(table, _time.time()).count() == 6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_as_of(table, 0.0)


def test_history_and_orphan_files(spark, tmp_path):
    import os

    from financial_data_pipeline_spark.sources.laketable import (
        LakeTable,
        history,
        orphan_files,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.commit(spark.range(5).selectExpr("id"))
    table.commit(spark.range(5, 8).selectExpr("id"), app_meta={"job": "x"})
    h = history(table)
    assert [e["version"] for e in h] == [2, 1]
    assert h[0]["n_rows"] == 8 and h[1]["n_rows"] == 5
    assert h[0]["app_meta"] == {"job": "x"}

    assert orphan_files(table) == []
    # simulate a crashed write: files land, no manifest
    debris = tmp_path / "lake" / "commit-deadbeef"
    spark.range(2).write.parquet(str(debris))
    orphans = orphan_files(table)
    assert orphans and all("commit-deadbeef" in p for p in orphans)
    # the debris is invisible to reads
    assert table.read().count() == 8


def test_commit_rejects_column_type_change(spark, tmp_path):
    import pytest as _pytest

    from financial_data_pipeline_spark.sources.laketable import LakeTable

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.commit(spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS v"))
    drifted = spark.createDataFrame([(9, "oops")], "id long, v string")
    with _pytest.raises(TypeError, match="type change"):
        table.commit(drifted)
    with _pytest.raises(TypeError, match="type change"):
        table.merge(drifted, ["id"])
    # additive evolution still allowed
    table.commit(
        spark.range(3).selectExpr(
            "id", "CAST(id AS DOUBLE) AS v", "id AS extra"
        )
    )


def test_check_constraints_gate_commit_and_merge(spark, tmp_path):
    import pytest as _pytest

    from financial_data_pipeline_spark.sources.laketable import (
        ConstraintViolation,
        LakeTable,
    )

    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    table.add_constraint("v_positive", "v > 0")
    table.add_constraint("id_not_null", "id IS NOT NULL")
    ok = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id long, v double")
    v1 = table.commit(ok)
    assert v1 == 1

    bad = spark.createDataFrame([(3, -1.0), (4, 5.0)], "id long, v double")
    with _pytest.raises(ConstraintViolation, match="v_positive \\(1 rows\\)"):
        table.commit(bad)
    with _pytest.raises(ConstraintViolation, match="v_positive"):
        table.merge(bad, ["id"])
    # rejected writes leave HEAD and visible rows untouched
    assert table.head_version() == 1
    assert table.read().count() == 2

    # NULL predicate result counts as a violation (unknown != pass)
    nullv = spark.createDataFrame([(5, None)], "id long, v double")
    with _pytest.raises(ConstraintViolation, match="v_positive"):
        table.commit(nullv)

    # dropping the constraint unblocks; persistence survives reopen
    reopened = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    assert set(reopened.constraints()) == {"v_positive", "id_not_null"}
    reopened.drop_constraint("v_positive")
    assert reopened.commit(bad) == 2
    assert reopened.read().count() == 4


def test_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing to the same version: exactly one wins; the
    loser raises CommitConflict, leaves HEAD at the winner's version,
    and its data files surface as orphans (reclaimable) — then a
    retry against the new HEAD succeeds."""
    import pytest as _pytest

    from financial_data_pipeline_spark.sources.laketable import (
        CommitConflict,
        LakeTable,
        orphan_files,
    )

    root = str(tmp_path / "lake")
    w1 = LakeTable(spark, root, stat_cols=["id"])
    w2 = LakeTable(spark, root, stat_cols=["id"])
    w1.commit(spark.range(3).selectExpr("id", "id * 2 AS v"))

    # REAL race, no monkeypatching: w2 derives its commit (reads head,
    # lands data files, computes carried set) BEFORE w1 commits; w1
    # lands v2 in the window; w2's attempt to finish against its stale
    # base must raise, not silently build a snapshot missing w1's rows
    df1 = spark.range(3, 6).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(6, 9).selectExpr("id", "id * 2 AS v")
    base2 = w2.head_version()
    carried2 = w2._load_snapshot(base2).files
    files2 = w2._write_files(df2)
    assert w1.commit(df1) == 2  # winner lands while w2 is mid-derive
    with _pytest.raises(CommitConflict, match="stale"):
        w2._advance("append", carried2 + files2, base=base2)

    assert w2.head_version() == 2
    assert w2.read().count() == 6  # winner's rows only — nothing lost
    lost = orphan_files(w2)
    assert len(lost) > 0  # loser's files are reclaimable orphans

    # retry against the fresh head succeeds as v3 and keeps BOTH
    # writers' rows — the lost-update scenario is impossible
    assert w2.commit(df2) == 3
    assert w2.read().count() == 9


def test_rollback_detaches_future_and_allows_commit(spark, tmp_path):
    """Rollback must not wedge the table: the bypassed newer snapshot
    becomes DETACHED history (still time-travelable), a post-rollback
    commit derives cleanly from the rolled-back head, and version
    numbers never collide with the detached suffix."""
    from financial_data_pipeline_spark.sources.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    t.commit(spark.range(2).selectExpr("id", "id AS v"))         # v1
    t.commit(spark.range(2, 4).selectExpr("id", "id AS v"))      # v2
    t.commit(spark.range(4, 6).selectExpr("id", "id AS v"))      # v3
    t.rollback(2)
    assert t.head_version() == 2
    # detached v3 is not a conflict for a writer based on v2...
    v = t.commit(spark.range(6, 8).selectExpr("id", "id AS v"))
    assert v == 4  # ...and its version number is never reused
    assert t.read().count() == 6  # v1+v2 rows + the new commit
    assert t.read(version=3).count() == 6  # detached v3 still readable


def test_publish_makes_staged_version_conflictable(spark, tmp_path):
    """publish() is the commit point of a WAP branch: before publish a
    staged snapshot conflicts with nobody; after publish a writer whose
    base predates it must get CommitConflict (its derivation is stale),
    exactly as if the snapshot had been a plain commit."""
    import pytest as _pytest

    from financial_data_pipeline_spark.sources.laketable import (
        CommitConflict,
        LakeTable,
    )

    t = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    t.commit(spark.range(2).selectExpr("id", "id AS v"))  # v1
    staged = t.stage(spark.range(2, 4).selectExpr("id", "id AS v"))  # v2

    # a writer based on v1 is NOT conflicted by the un-published stage
    base = t.head_version()
    assert base == 1
    files = t._write_files(spark.range(4, 6).selectExpr("id", "id AS v"))
    v3 = t._advance("append", t._load_snapshot(base).files + files, base=base)
    assert v3 == 3

    # the stage→publish window is OCC-protected too: v3 committed past
    # the stage's base (v1), so a plain publish is a lost update and
    # must conflict, not silently detach v3 (Iceberg stale-WAP rule)
    with _pytest.raises(CommitConflict, match="stale"):
        t.publish(staged)
    assert t.head_version() == 3  # the concurrent commit survives

    # force=True is the explicit rollback spelling: v2 goes live, v3
    # becomes detached (time-travelable) history
    t.publish(staged, force=True)
    assert t.head_version() == staged
    assert t.read(version=3).count() == 4  # detached, still readable

    # after publish, the staged version is committed history: a writer
    # still deriving from v1 must conflict
    stale_files = t._write_files(
        spark.range(6, 8).selectExpr("id", "id AS v")
    )
    with _pytest.raises(CommitConflict):
        t._advance(
            "append", t._load_snapshot(1).files + stale_files, base=1
        )


def test_write_audit_publish_flow(spark, tmp_path):
    """stage() lands a full constraint-checked snapshot invisible to
    readers; audit reads the staged version; publish() is the O(1)
    HEAD move; abandoned stages surface as expirable history."""
    import pytest as _pytest

    from financial_data_pipeline_spark.sources.laketable import (
        ConstraintViolation,
        LakeTable,
    )

    t = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])
    t.add_constraint("v_pos", "v > 0")
    t.commit(spark.createDataFrame([(1, 1.0)], "id long, v double"))

    staged = t.stage(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    assert staged == 2
    assert t.head_version() == 1          # invisible until publish
    assert t.read().count() == 1
    # the auditor reads the EXACT staged bytes
    assert t.read(version=staged).count() == 2

    # constraints gate the stage itself - bad data never lands
    with _pytest.raises(ConstraintViolation):
        t.stage(spark.createDataFrame([(3, -1.0)], "id long, v double"))

    t.publish(staged)
    assert t.head_version() == 2
    assert t.read().count() == 2

    # abandoned stage: never published, next commit versions past it
    t.stage(spark.createDataFrame([(4, 4.0)], "id long, v double"))
    v = t.commit(spark.createDataFrame([(5, 5.0)], "id long, v double"))
    assert v == 4 and t.head_version() == 4
    assert t.read().count() == 3          # abandoned rows never visible


def test_bloom_file_index_point_lookup(spark, tmp_path):
    """bloom_cols adds a per-file bitmap: point lookups on scattered
    high-cardinality keys prune to ~one file where range stats keep
    everything; absent keys prune to (almost) nothing; results stay
    supersets (filter still applies)."""
    from financial_data_pipeline_spark.sources.laketable import LakeTable

    t = LakeTable(
        spark, str(tmp_path / "lake"), stat_cols=["id"], bloom_cols=["id"]
    )
    # hash-distributed ids: every file's [min, max] spans ~the whole
    # domain, so RANGE pruning is useless by construction
    df = spark.range(400).selectExpr("id * 7919 % 4001 AS id", "id AS v")
    t.commit(df.repartition(4))
    all_files = t.pruned_files()
    assert len(all_files) == 4

    present = 7919 % 4001  # id of row 1
    # range pruning is near-useless here (hash-scattered ids make the
    # per-file [min, max] spans overlap almost everywhere)...
    range_kept = t.pruned_files(pred_col="id", lo=present, hi=present)
    assert len(range_kept) >= 3
    # ...bloom pruning cuts to the file(s) actually containing it
    kept = t.pruned_files(eq=("id", present))
    assert 1 <= len(kept) < len(range_kept)
    got = t.read(eq=("id", present)).filter(f"id = {present}").collect()
    assert len(got) == 1 and got[0].v == 1

    absent = 4000  # not hit by i*7919 % 4001 for i < 400? verify below
    hit_ids = {(i * 7919) % 4001 for i in range(400)}
    assert absent not in hit_ids
    kept_absent = t.pruned_files(eq=("id", absent))
    assert len(kept_absent) <= 1  # at most an unlucky false positive
    assert t.read(eq=("id", absent)).filter(f"id = {absent}").count() == 0


def test_bloom_index_tolerates_nulls(spark, tmp_path):
    """NULL values in a bloom-indexed column must not crash the commit
    (nulls contribute no bits — they can never be probed via eq=), and
    probes for real values still work alongside them."""
    from financial_data_pipeline_spark.sources.laketable import LakeTable

    t = LakeTable(
        spark,
        str(tmp_path / "lake"),
        stat_cols=["id"],
        bloom_cols=["name"],
    )
    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "gamma"), (4, None)],
        "id long, name string",
    )
    v = t.commit(df)  # must not raise
    assert v == 1
    assert t.read().count() == 4
    got = t.read(eq=("name", "alpha")).filter("name = 'alpha'").collect()
    assert len(got) == 1 and got[0].id == 1
    # an all-NULL commit builds an empty bitmap that prunes everything
    t.commit(spark.createDataFrame([(5, None)], "id long, name string"))
    assert t.read(eq=("name", "zeta")).filter("name = 'zeta'").count() == 0


def test_tags_pin_versions_and_survive_rollback(spark, table):
    """Named refs: tag HEAD, tag an explicit version, read(ref=),
    re-tag moves the pointer, tags survive a rollback past them,
    dangling/staged targets are rejected."""
    v1 = table.commit(_batch(spark, 0, 2, "a"))
    table.tag("release-1")  # defaults to HEAD
    v2 = table.commit(_batch(spark, 2, 4, "b"))
    table.tag("release-2", v2)

    assert table.tags() == {"release-1": v1, "release-2": v2}
    assert table.read(ref="release-1").count() == 200
    assert table.read(ref="release-2").count() == 400

    # re-tag moves the pointer
    table.tag("release-1", v2)
    assert table.resolve_ref("release-1") == v2

    # rollback past the tag: the tagged snapshot stays readable by ref
    table.tag("release-1", v1)
    table.rollback(v1)
    assert table.read(ref="release-2").count() == 400

    # guard rails
    with pytest.raises(ValueError):
        table.tag("dangling", 999)
    with pytest.raises(ValueError):
        table.read(ref="nope")
    with pytest.raises(ValueError):
        table.read(version=v1, ref="release-1")

    staged = table.stage(_batch(spark, 4, 5, "c"))
    with pytest.raises(ValueError):
        table.tag("unpublished", staged)

    table.drop_tag("release-2")
    assert "release-2" not in table.tags()


def test_tagged_snapshot_survives_expiry(spark, table):
    """expire_snapshots keeps every tagged version (Iceberg tag
    retention): the tag's manifest and data files survive a vacuum
    that would otherwise reclaim them, so read(ref=) never dangles;
    dropping the tag makes the snapshot expirable again."""
    import os

    v1 = table.commit(_batch(spark, 0, 2, "a"))
    table.tag("pinned", v1)
    table.commit(_batch(spark, 5, 6, "fresh"), mode="overwrite")  # v2
    table.commit(_batch(spark, 7, 8, "newer"), mode="overwrite")  # v3

    deleted = table.expire_snapshots(keep_last=1)
    # v2 (untagged, not HEAD) is reclaimed; tagged v1 survives intact
    assert table.snapshots() == [v1, 3]
    assert table.read(ref="pinned").count() == 200
    for p in table.pruned_files(version=v1):
        assert os.path.exists(p)
    assert all(p not in set(table.pruned_files(version=v1)) for p in deleted)

    # untag → the snapshot becomes ordinary expirable history
    table.drop_tag("pinned")
    table.expire_snapshots(keep_last=1)
    assert table.snapshots() == [3]


def test_staged_snapshot_survives_expiry(spark, table):
    """An in-flight WAP stage must not be destroyed by a concurrent
    retention run: expire_snapshots keeps staged snapshots by default
    (their publish would otherwise fail with 'unknown version' AND the
    data files would already be gone); keep_staged=False is the
    explicit reclaim spelling for abandoned stages."""
    import os

    table.commit(_batch(spark, 0, 2, "a"))            # v1
    staged = table.stage(_batch(spark, 2, 4, "wap"))  # v2, staged
    table.commit(_batch(spark, 5, 6, "c"))            # v3, HEAD

    table.expire_snapshots(keep_last=1)
    # the stage slipped out of the keep window but survives anyway
    assert staged in table.snapshots()
    for p in table.pruned_files(version=staged):
        assert os.path.exists(p)
    # ...and its publish still completes (rollback spelling: v3 passed it)
    table.publish(staged, force=True)
    assert table.head_version() == staged

    # an ABANDONED stage is reclaimed explicitly
    table.commit(_batch(spark, 7, 8, "d"), mode="overwrite")
    abandoned = table.stage(_batch(spark, 8, 9, "junk"))
    table.commit(_batch(spark, 9, 10, "e"), mode="overwrite")
    table.expire_snapshots(keep_last=1, keep_staged=False)
    assert abandoned not in table.snapshots()


def test_commit_racing_publish_aborts_not_detaches(spark, tmp_path):
    """The commit-vs-publish race the OCC docstring promises to close:
    a publish() landing between a commit's staleness scan and its HEAD
    move must NOT be silently detached — the commit's post-create
    re-check sees the flipped stage, marks itself aborted (HEAD
    untouched), and raises CommitConflict; a retry then succeeds
    against the published HEAD."""
    from financial_data_pipeline_spark.sources.laketable import (
        CommitConflict,
        LakeTable,
    )

    root = str(tmp_path / "lake")
    t = LakeTable(spark, root, stat_cols=["day"])
    t.commit(_batch(spark, 0, 2, "a"))                # v1
    staged = t.stage(_batch(spark, 2, 4, "wap"))      # v2 (base 1)

    publisher = LakeTable(spark, root, stat_cols=["day"])
    real = LakeTable._committed_past
    calls = {"n": 0}

    def race(base, exclude=None):
        # first call = the commit's PRE-create scan: let it pass, then
        # land the publish inside the scan->create window
        calls["n"] += 1
        if calls["n"] == 1:
            out = real(t, base, exclude)
            publisher.publish(staged)
            return out
        return real(t, base, exclude)

    t._committed_past = race
    with pytest.raises(CommitConflict, match="aborted"):
        t.commit(_batch(spark, 5, 6, "racer"))
    del t._committed_past

    # the published stage won; the racer aborted instead of detaching it
    assert t.head_version() == staged
    assert not t._detached()
    aborted = [v for v in t.snapshots() if t._load_snapshot(v).aborted]
    assert len(aborted) == 1
    assert {r.tag for r in t.read().select("tag").distinct().collect()} == {
        "a",
        "wap",
    }
    # aborted commits are dead: not publishable, and a retry versions past
    with pytest.raises(ValueError, match="aborted"):
        t.publish(aborted[0])
    v_retry = t.commit(_batch(spark, 5, 6, "racer"))
    assert v_retry > aborted[0]
    assert t.read().filter("tag = 'racer'").count() == 100


def test_publish_racing_commit_unflips_and_raises(spark, tmp_path):
    """The mirror half: a commit landing between publish's staleness
    scan and its staged-flag flip must not have its HEAD overwritten —
    publish's post-flip re-check un-flips the stage and raises, the
    concurrent commit survives, and the stage stays re-publishable
    (force) or re-stageable."""
    from financial_data_pipeline_spark.sources.laketable import (
        CommitConflict,
        LakeTable,
    )

    root = str(tmp_path / "lake")
    t = LakeTable(spark, root, stat_cols=["day"])
    t.commit(_batch(spark, 0, 2, "a"))                # v1
    staged = t.stage(_batch(spark, 2, 4, "wap"))      # v2 (base 1)

    committer = LakeTable(spark, root, stat_cols=["day"])
    real = LakeTable._committed_past
    calls = {"n": 0}

    def race(base, exclude=None):
        # first call = publish's PRE-flip scan: let it pass, then land
        # a full concurrent commit inside the scan->flip window
        calls["n"] += 1
        if calls["n"] == 1:
            out = real(t, base, exclude)
            committer.commit(_batch(spark, 5, 6, "racer"))
            return out
        return real(t, base, exclude)

    t._committed_past = race
    with pytest.raises(CommitConflict, match="publish window"):
        t.publish(staged)
    del t._committed_past

    # the commit survives as HEAD; the stage is back to staged
    assert t.head_version() == 3
    assert t.read().filter("tag = 'racer'").count() == 100
    assert t._load_snapshot(staged).staged
    # plain retry now sees the commit via the ordinary pre-check...
    with pytest.raises(CommitConflict, match="stale"):
        t.publish(staged)
    # ...and force remains the explicit rollback spelling
    t.publish(staged, force=True)
    assert t.head_version() == staged


def test_empty_manifest_is_not_history(spark, table):
    """An empty version manifest, as a writer of the older
    create-then-dump protocol left it when it died between the two
    steps, is not history: the next commit lands past it with no wait,
    and the vacuum removes it whatever ``keep_last`` says."""
    import os

    table.commit(_batch(spark, 0, 2, "a"))  # v1
    empty = table._snapshot_path(2)
    open(empty, "x").close()

    v = table.commit(_batch(spark, 2, 3, "b"))
    assert v == 3  # numbered PAST the empty file, never overwriting it
    assert table.read().count() == 300
    assert table.recover_head() == 3

    table.expire_snapshots(keep_last=10)
    assert not os.path.exists(empty)
    assert table.snapshots() == [1, 3]
    assert table.read().count() == 300
    assert all(os.path.exists(p) for p in table.pruned_files())


def test_delete_mixed_null_and_range_keys_prunes_and_purges(spark, tmp_path):
    """A key frame MIXING a null key with non-null keys: min/max skip
    the null, so range pruning alone would CARRY a range-disjoint file
    that holds null-keyed rows — its rows would dodge the eqNullSafe
    anti-join and survive the compliance purge. The per-file null-count
    stat must force exactly the null-bearing files to be rewritten,
    while null-free range-disjoint files still prune."""
    table = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    table.commit(_batch(spark, 0, 2, "a"))  # file set A: days 0-1, no nulls
    # file set B: day 8 rows PLUS null-day rows, range disjoint from the
    # delete's non-null key (day 5)
    with_null = spark.createDataFrame(
        [(8, 800, "b"), (8, 801, "b"), (None, 900, "b"), (None, 901, "b")],
        "day int, value long, tag string",
    ).coalesce(1)
    table.commit(with_null)
    table.commit(_batch(spark, 5, 6, "c"))  # file set C: day 5
    before = set(table.pruned_files())
    keys = spark.createDataFrame(
        [(5, 500), (None, 900)], "day int, value long"
    )
    v = table.delete(keys, key_cols=["day", "value"])
    out = table.read()
    # both the non-null and the NULL-keyed row are gone
    assert out.filter((F.col("day") == 5) & (F.col("value") == 500)).count() == 0
    assert out.filter(F.col("day").isNull() & (F.col("value") == 900)).count() == 0
    # unmatched rows survive, including the OTHER null-day row
    assert out.filter(F.col("day").isNull()).count() == 1
    assert out.count() == 200 + 3 + 99  # 304 committed, 2 deleted
    # the null-free, range-disjoint day-0/1 files were CARRIED
    after = {f.path for f in table._load_snapshot(v).files}
    day01 = set(table.pruned_files(version=1))
    assert day01 <= after and day01 <= before
    # the null-bearing file was REWRITTEN even though its day range
    # [8, 8] is disjoint from the non-null key range [5, 5]
    nullfile = set(table.pruned_files(version=2)) - day01
    assert nullfile and not (nullfile & after)


def test_delete_all_null_keys_still_prunes_null_free_files(spark, tmp_path):
    """An ALL-null key frame (lo/hi both None) must rewrite only files
    that can hold null-keyed rows — files whose null count is 0 carry."""
    table = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    table.commit(_batch(spark, 0, 2, "a"))
    table.commit(
        spark.createDataFrame(
            [(None, 900, "b")], "day int, value long, tag string"
        ).coalesce(1)
    )
    keys = spark.createDataFrame([(None, 900)], "day int, value long")
    v = table.delete(keys, key_cols=["day", "value"])
    assert table.read().filter(F.col("day").isNull()).count() == 0
    assert table.read().count() == 200
    after = {f.path for f in table._load_snapshot(v).files}
    assert set(table.pruned_files(version=1)) <= after  # carried


def test_delete_null_keys_conservative_without_null_stats(spark, tmp_path):
    """Old manifests predate the __nulls_ stat: with the count unknown,
    a null key must force every non-empty file to be rewritten (the
    conservative polarity) — correctness over pruning."""
    import json as _json

    table = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    table.commit(_batch(spark, 0, 2, "a"))
    table.commit(
        spark.createDataFrame(
            [(None, 900, "b")], "day int, value long, tag string"
        ).coalesce(1)
    )
    # simulate a pre-upgrade manifest: strip the null-count stats
    head = table.head_version()
    path = table._snapshot_path(head)
    with open(path) as f:
        d = _json.load(f)
    for fs in d["files"]:
        fs["stats"] = {
            k: s for k, s in fs["stats"].items() if not k.startswith("__nulls_")
        }
    with open(path, "w") as f:
        _json.dump(d, f)
    keys = spark.createDataFrame([(None, 900)], "day int, value long")
    v = table.delete(keys, key_cols=["day", "value"])
    assert table.read().filter(F.col("day").isNull()).count() == 0
    # every file was rewritten (nothing carried): unknown nulls → touched
    after = {f.path for f in table._load_snapshot(v).files}
    assert not (after & set(table.pruned_files(version=head)))


def test_delete_empty_keys_is_metadata_only(spark, table):
    """An EMPTY key frame nets a metadata-only advance: every file
    carries byte-identical (no silent full-table rewrite), the version
    still advances so the caller observes the delete happened."""
    table.commit(_batch(spark, 0, 2, "a"))
    before = set(table.pruned_files())
    head = table.head_version()
    v = table.delete(
        _batch(spark, 50, 51, "zz").select("day", "value").limit(0),
        key_cols=["day", "value"],
    )
    assert v == head + 1
    assert set(table.pruned_files()) == before  # same paths — no rewrite
    assert table.read().count() == 200


def test_commit_survives_vacuum_of_its_base(spark, tmp_path, monkeypatch):
    """A vacuum that expires a writer's base snapshot while the writer's
    data job runs leaves an ordinary stale-base CommitConflict, not a
    missing-manifest error, and the retry commits every row."""
    from financial_data_pipeline_spark.sources.laketable import (
        CommitConflict,
        LakeTable,
    )

    root = str(tmp_path / "lake")
    w1 = LakeTable(spark, root, stat_cols=["id"])
    w2 = LakeTable(spark, root, stat_cols=["id"])
    rows = lambda lo: spark.range(lo, lo + 3).selectExpr("id", "id AS v")  # noqa: E731
    w1.commit(rows(0))  # v1: w2's base below
    write = w2._write_files

    def racing_write(df):
        out = write(df)
        w1.commit(rows(3))
        w1.commit(rows(6))
        w1.expire_snapshots(keep_last=1)  # deletes the v1 and v2 manifests
        return out

    monkeypatch.setattr(w2, "_write_files", racing_write)
    with pytest.raises(CommitConflict, match="stale"):
        w2.commit(rows(9))
    monkeypatch.undo()
    assert w2.commit(rows(9)) == 4
    assert w2.read().count() == 12
