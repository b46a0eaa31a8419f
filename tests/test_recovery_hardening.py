"""Round-6 self-review hardening: the three crash/concurrency holes the
review pass found in the new recovery machinery.

1. ``recover_head`` must advance along the BASE CHAIN only — a crashed
   commit that lost a publish race (its recorded base below the
   published head) must never be promoted, or the published snapshot's
   files silently vanish from the live view.
2. ``recover_head`` must repair a HEAD pointing at a missing
   manifest (a ``rollback`` racing ``expire_snapshots``, which reads
   HEAD once before it deletes) by falling back to the newest readable
   committed snapshot.
3. ``refresh_rollup``'s watermark must be monotone under racing
   refreshers: a slow refresher landing after a fast one must not drag
   the mark backwards (regressed marks force redundant recompute and,
   after a source vacuum, a spurious full rebuild).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import LakeTable
from financial_data_pipeline_spark.sources import rollup as rollup_mod
from financial_data_pipeline_spark.sources.rollup import (
    WATERMARK_KEY,
    refresh_rollup,
)


def _batch(spark, lo, hi, tag="t"):
    return spark.range(lo, hi).select(
        (F.col("id") % 7).cast("int").alias("day"),
        F.col("id").alias("value"),
        F.lit(tag).alias("tag"),
    )


def _orphan_manifest(
    table: LakeTable, version: int, base: int, donor: int | None = None
) -> None:
    """Hand-craft the artifact of the one race the manifest put cannot
    arbitrate: a committed-looking manifest whose recorded base
    predates the current head (its writer passed the pre-create staleness check
    before a concurrent publish landed, then died before the
    post-create re-check could mark it aborted). ``donor`` names the
    snapshot to copy the file list from when ``base`` itself is not a
    readable snapshot (the lost-head bridge scenario)."""
    donor = table._load_snapshot(
        donor if donor is not None else (base if base > 0 else 1)
    )
    with open(table._snapshot_path(version), "w") as f:
        json.dump(
            {
                "version": version,
                "ts": 0.0,
                "mode": "append",
                "files": [vars(fs) for fs in donor.files],
                "app_meta": {},
                "staged": False,
                "base": base,
            },
            f,
        )


def test_recover_head_skips_orphan_off_the_base_chain(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    t.commit(_batch(spark, 0, 50, "a"))  # v1
    t.commit(_batch(spark, 50, 80, "b"))  # v2 (head)
    rows_before = t.read().count()

    # crashed commit derived from v1 — does NOT know about v2
    _orphan_manifest(t, 3, base=1)
    assert t.recover_head() == 2, "orphan off the chain must not win"
    assert t.head_version() == 2
    assert t.read().count() == rows_before  # v2's rows still live

    # a chained crashed commit (base == head) IS promoted, and the
    # chain continues through it
    _orphan_manifest(t, 4, base=2)
    assert t.recover_head() == 4
    assert t.head_version() == 4


def test_recover_head_repairs_unreadable_head_manifest(spark, tmp_path):
    """HEAD names a version whose manifest is gone: a ``rollback`` to
    v3 raced an ``expire_snapshots`` that read HEAD before the rollback
    and then deleted v3. Recovery falls back to the newest readable
    committed snapshot."""
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    t.commit(_batch(spark, 0, 50, "a"))  # v1
    t.commit(_batch(spark, 50, 80, "b"))  # v2
    # simulate: HEAD rolled to v3, then the vacuum deleted v3
    with open(t._head_path(), "w") as f:
        json.dump({"version": 3}, f)
    assert t.recover_head() == 2, "fall back to newest readable commit"
    assert t.read().count() == 80


def _key_of(df):
    return df  # day already present


def _agg(df):
    return df.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


def _run_stale_refresher(src, tgt, monkeypatch, stale_src_head, stale_wm):
    """Replay a slow refresher that froze its bookkeeping reads at
    (wm=stale_wm, src_head=stale_src_head) before a faster racer
    landed. Only those two reads are frozen — table_changes, the
    pinned source read, and the gap-safety check all run for real,
    exactly as in the live interleaving."""
    monkeypatch.setattr(src, "head_version", lambda: stale_src_head)
    monkeypatch.setattr(
        tgt, "app_meta", lambda: {WATERMARK_KEY: stale_wm}
    )
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    monkeypatch.undo()


def _rollup_state(tgt):
    return {
        (r["day"], r["n"], r["total"]) for r in tgt.read().collect()
    }


def test_refresh_regressed_mark_on_clobber_then_heals(
    spark, tmp_path, monkeypatch
):
    """The permanent-staleness race (round-6 ADVICE, high): a slow
    refresher pinned at src_head=2 lands AFTER a fast racer refreshed
    through 3, clobbering the racer's fresher rows for overlapping
    keys. Bumping the mark to 3 would declare (2,3] refreshed and the
    staleness would never heal. The fix keeps the regressed mark (the
    gap's dirty keys intersect ours), so the NEXT refresh re-covers
    (2, head] and converges to the from-scratch state."""
    src = LakeTable(spark, str(tmp_path / "src"), stat_cols=["day"])
    tgt = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])

    src.commit(_batch(spark, 0, 40, "a"))  # src v1
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # wm = 1
    src.commit(_batch(spark, 40, 60, "b"))  # src v2 — days overlap v3's
    src.commit(_batch(spark, 60, 70, "c"))  # src v3

    # fast racer B: refreshed through src v3 → wm = 3, data fresh
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 3
    fresh = _rollup_state(tgt)

    # slow racer A lands: its pinned read@2 overwrites overlapping
    # keys with source@2 data — the mark must REGRESS to 2 (bumping
    # to 3 would hide the staleness forever)
    _run_stale_refresher(src, tgt, monkeypatch, stale_src_head=2, stale_wm=1)
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 2, (
        "gap keys intersect the rewrite — the mark must stay regressed "
        "so the next refresh heals the clobbered keys"
    )
    assert _rollup_state(tgt) != fresh, (
        "precondition: A really did clobber B's fresher rows (otherwise "
        "this test no longer exercises the race)"
    )

    # the regressed mark self-heals: one ordinary refresh re-covers
    # (2, head] and restores the from-scratch state
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 3
    assert _rollup_state(tgt) == fresh
    assert _rollup_state(tgt) == {
        (r["day"], r["n"], r["total"])
        for r in _agg(_key_of(src.read())).collect()
    }


def test_refresh_bumps_mark_when_gap_keys_disjoint(
    spark, tmp_path, monkeypatch
):
    """Same race, safe ordering: the keys changed in (src_head,
    base_wm] are DISJOINT from the slow refresher's rewrite, so its
    source@2 recompute equals source@3 for every key it touched — the
    monotonicity bump to 3 is provably safe and must happen (a
    regressed mark here is pure redundant recompute)."""
    src = LakeTable(spark, str(tmp_path / "src"), stat_cols=["day"])
    tgt = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])

    def days(lo, hi, day_mod, tag):
        return spark.range(lo, hi).select(
            (F.col("id") % day_mod).cast("int").alias("day"),
            F.col("id").alias("value"),
            F.lit(tag).alias("tag"),
        )

    src.commit(days(0, 40, 4, "a"))  # v1: days 0..3
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # wm = 1
    src.commit(days(40, 60, 2, "b"))  # v2: days 0,1
    src.commit(  # v3: days 8,9 only — disjoint from v2's
        spark.range(60, 70).select(
            (F.col("id") % 2 + 8).cast("int").alias("day"),
            F.col("id").alias("value"),
            F.lit("c").alias("tag"),
        )
    )

    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # B: wm = 3
    fresh = _rollup_state(tgt)

    _run_stale_refresher(src, tgt, monkeypatch, stale_src_head=2, stale_wm=1)
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 3, (
        "disjoint gap keys — the monotonicity bump is safe and expected"
    )
    assert _rollup_state(tgt) == fresh, (
        "nothing was clobbered: days 0,1 agree between source@2 and @3"
    )


def test_refresh_watermark_monotone_on_metadata_only_path(
    spark, tmp_path, monkeypatch
):
    """Same race, empty-CDF branch: the metadata-only advance must also
    take max(src_head, current mark)."""
    src = LakeTable(spark, str(tmp_path / "src"), stat_cols=["day"])
    tgt = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])

    def key_of(df):
        return df

    def agg(df):
        return df.groupBy("day").agg(F.count(F.lit(1)).alias("n"))

    src.commit(_batch(spark, 0, 40, "a"))
    refresh_rollup(src, tgt, key_of, agg, ["day"])
    src.commit(_batch(spark, 40, 60, "b"))
    src.commit(_batch(spark, 60, 70, "c"))
    refresh_rollup(src, tgt, key_of, agg, ["day"])  # wm = 3

    empty = _batch(spark, 0, 0).withColumn(
        "_change_type", F.lit("insert")
    ).withColumn("_change_copies", F.lit(1))
    monkeypatch.setattr(src, "head_version", lambda: 2)
    monkeypatch.setattr(tgt, "app_meta", lambda: {WATERMARK_KEY: 1})
    monkeypatch.setattr(rollup_mod, "table_changes", lambda *_a, **_k: empty)
    refresh_rollup(src, tgt, key_of, agg, ["day"])

    monkeypatch.undo()
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 3


def test_recover_head_bridges_through_reclaimed_head(spark, tmp_path):
    """The wedge (round-6 ADVICE, medium): HEAD names v3, whose
    manifest a vacuum deleted after a ``rollback`` to v3 raced it (the
    vacuum reads HEAD once, before it deletes), and a snapshot
    committed with base == that lost head (v4 — its writer put its
    manifest, then died before moving HEAD). The fallback must promote
    THROUGH the gap to v4, not fall back below it: moving HEAD to v2
    would leave committed v4 permanently conflicting every future
    commit via the staleness check."""
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    t.commit(_batch(spark, 0, 50, "a"))  # v1
    t.commit(_batch(spark, 50, 80, "b"))  # v2
    # v3: the lost head — manifest deleted after HEAD moved
    with open(t._head_path(), "w") as f:
        json.dump({"version": 3}, f)
    # v4: committed with base == 3, writer died before moving HEAD
    _orphan_manifest(t, 4, base=3, donor=2)

    assert t.recover_head() == 4, "must bridge the reclaimed-head gap"
    assert t.head_version() == 4
    t.read().count()  # table readable
    # and the table is NOT wedged: a fresh commit succeeds
    v = t.commit(_batch(spark, 80, 90, "c"))
    assert v == 5

    # control: an orphan whose base is BELOW the lost head is still
    # skipped (the publish-race safety recover_head exists to protect)
    t2 = LakeTable(spark, str(tmp_path / "tbl2"), stat_cols=["day"])
    t2.commit(_batch(spark, 0, 50, "a"))  # v1
    t2.commit(_batch(spark, 50, 80, "b"))  # v2
    with open(t2._head_path(), "w") as f:
        json.dump({"version": 3}, f)
    _orphan_manifest(t2, 4, base=1)  # base below the lost head
    assert t2.recover_head() == 2, "off-chain orphan must not win"


def _gap_counters():
    return dict(rollup_mod.GAP_REPAIR_COUNTERS)


def _gap_delta(before):
    return {
        k: rollup_mod.GAP_REPAIR_COUNTERS[k] - before[k]
        for k in before
        if rollup_mod.GAP_REPAIR_COUNTERS[k] != before[k]
    }


def test_gap_safety_fallback_counter_on_forced_vacuum_race(
    spark, tmp_path, monkeypatch
):
    """Round-8 verdict item 4: the deliberately-broad gap-safety except
    is correct but was silent. Force the vacuum race — table_changes
    succeeds for the refresh interval but raises when the repair
    evaluates the GAP interval — and assert the fallback counter
    increments (and the mark stays regressed, the always-safe state)."""
    src = LakeTable(spark, str(tmp_path / "src"), stat_cols=["day"])
    tgt = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])

    src.commit(_batch(spark, 0, 40, "a"))  # v1
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # wm = 1
    src.commit(_batch(spark, 40, 60, "b"))  # v2
    src.commit(_batch(spark, 60, 70, "c"))  # v3
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # fast racer: wm = 3

    real_changes = rollup_mod.table_changes

    def vacuumed_gap(table, lo, hi):
        if (lo, hi) == (2, 3):  # the gap interval (src_head, base_wm]
            raise FileNotFoundError("snapshot 3 reclaimed by vacuum")
        return real_changes(table, lo, hi)

    monkeypatch.setattr(rollup_mod, "table_changes", vacuumed_gap)
    monkeypatch.setattr(src, "head_version", lambda: 2)
    monkeypatch.setattr(tgt, "app_meta", lambda: {WATERMARK_KEY: 1})
    before = _gap_counters()
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    monkeypatch.undo()

    assert _gap_delta(before) == {"fallback_unprovable": 1}
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 2, (
        "unprovable safety must keep the self-healing regressed mark"
    )
    # and it heals on the next ordinary refresh
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 3


def test_gap_counters_on_happy_and_race_paths(spark, tmp_path, monkeypatch):
    """The counters classify every repair outcome: an ordinary refresh
    touches none of them; the overlap race increments
    regressed_overlap; the disjoint race increments bumped."""
    src = LakeTable(spark, str(tmp_path / "src"), stat_cols=["day"])
    tgt = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])
    src.commit(_batch(spark, 0, 40, "a"))
    before = _gap_counters()
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    src.commit(_batch(spark, 40, 60, "b"))
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    assert _gap_delta(before) == {}, "happy path must not count"

    # overlap race (same interleaving as the clobber test)
    src.commit(_batch(spark, 60, 70, "c"))
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])
    before = _gap_counters()
    _run_stale_refresher(src, tgt, monkeypatch, stale_src_head=2, stale_wm=1)
    assert _gap_delta(before) == {"regressed_overlap": 1}
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # heal

    # disjoint race → bumped (days 8,9 in the gap, days 0..6 rewritten)
    src.commit(
        spark.range(70, 80).select(
            (F.col("id") % 2 + 8).cast("int").alias("day"),
            F.col("id").alias("value"),
            F.lit("d").alias("tag"),
        )
    )  # v4: days 8,9 only
    refresh_rollup(src, tgt, _key_of, _agg, ["day"])  # wm = 4
    before = _gap_counters()
    _run_stale_refresher(src, tgt, monkeypatch, stale_src_head=3, stale_wm=2)
    assert _gap_delta(before) == {"bumped": 1}
    assert int(tgt.app_meta()[WATERMARK_KEY]) == 4
