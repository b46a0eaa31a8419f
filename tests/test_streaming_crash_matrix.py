"""Streaming crash matrix: kill the foreachBatch writer in every death
window between the lake commit and the checkpoint commit, restart the
query from the same checkpoint, and assert exactly-once table state
(no duplicate, no loss) against the batch twin — the streaming mirror
of ``test_laketable_crash_matrix.py``.

Windows (fault points fire once, then the writer "dies" — the
streaming query fails and is restarted):

- ``lake_sink:pre_commit``     — neither lake nor checkpoint committed;
                                  restart re-delivers and commits once.
- ``advance:post_create``      — manifest complete, HEAD not moved.
- ``advance:pre_head``         — same window, later instant.
                                  Both: restart conflicts against the
                                  orphan; ``recover_head`` promotes it
                                  (its app_meta carries the batch id),
                                  after which the replay is skipped.
- ``lake_sink:post_commit``    — lake committed, checkpoint not;
                                  restart re-delivers, the batch ledger
                                  skips the replay.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_pipeline_spark.sources.laketable import LakeTable
from financial_data_pipeline_spark.sources.rollup import refresh_rollup
from financial_data_pipeline_spark.streaming.dedup_stream import (
    dedup_ingest_writer,
)
from financial_data_pipeline_spark.streaming.lake_sink import (
    last_committed_batch,
    stream_to_lake,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


class _Killed(RuntimeError):
    pass


def _rows(start, n):
    t0 = dt.datetime(2025, 1, 1)
    return [
        (start + i, t0 + dt.timedelta(minutes=start + i), float(start + i))
        for i in range(n)
    ]


def _stream(spark, src_glob):
    return spark.readStream.schema(SCHEMA).parquet(src_glob)


def _kill_once_at(point: str):
    """A fault hook that raises the first time ``point`` fires."""
    state = {"armed": True}

    def hook(p):
        if p == point and state["armed"]:
            state["armed"] = False
            raise _Killed(point)

    return hook


CRASH_POINTS = [
    "lake_sink:pre_commit",
    "advance:post_create",
    "advance:pre_head",
    "lake_sink:post_commit",
]


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_lake_sink_exactly_once_across_crash(spark, tmp_path, point):
    """Kill the ingest at ``point`` mid-batch, restart, and assert the
    table equals the batch twin — every input row exactly once."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    table = LakeTable(spark, str(tmp_path / "lake"), stat_cols=["id"])

    # batch 0 lands cleanly (baseline)
    spark.createDataFrame(_rows(0, 5), SCHEMA).write.parquet(str(src / "b1"))
    stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")
    assert table.read().count() == 5

    # batch 1: the writer dies at the parameterized point
    spark.createDataFrame(_rows(100, 3), SCHEMA).write.parquet(str(src / "b2"))
    table.fault_hook = _kill_once_at(point)
    with pytest.raises(Exception):  # StreamingQueryException wraps _Killed
        stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")
    table.fault_hook = None

    # restart from the same checkpoint; recovery per death window:
    if point in ("advance:post_create", "advance:pre_head"):
        # manifest committed but HEAD not moved: the replay conflicts
        # against the orphan until recover_head promotes it — after
        # which the promoted snapshot's ledger makes the replay a no-op
        # (foreachBatch wraps CommitConflict in StreamingQueryException,
        # so match by message)
        with pytest.raises(Exception, match="stale|committed concurrently"):
            stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")
        table.recover_head()
        assert last_committed_batch(table, "q1") >= 1
        stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")
    else:
        stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")

    # exactly-once: every input row present, none duplicated
    got = [r.id for r in table.read().select("id").collect()]
    assert sorted(got) == sorted(set(got)), "duplicated rows after replay"
    assert set(got) == set(range(5)) | {100, 101, 102}, "lost rows"

    # and the pipeline is healthy going forward
    spark.createDataFrame(_rows(200, 2), SCHEMA).write.parquet(str(src / "b3"))
    stream_to_lake(_stream(spark, str(src / "*")), table, ckpt, "q1")
    assert table.read().count() == 10


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _docs(ids_texts):
    t0 = dt.datetime(2025, 1, 1)
    return [
        (i, s, t0 + dt.timedelta(minutes=i)) for i, s in ids_texts
    ]


def test_dedup_ingest_exactly_once_across_crash(spark, tmp_path):
    """The unbounded-history dedup ingest (anti-join each micro-batch
    against the lake-side hash table, commit survivors + ledger in one
    manifest): kill between lake commit and checkpoint commit, restart,
    assert the table equals the batch twin — one row per distinct
    content hash, no re-admitted duplicate, no lost novel doc."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    table = LakeTable(spark, str(tmp_path / "docs_lake"), stat_cols=["doc_id"])

    def ingest():
        (
            spark.readStream.schema(DOC_SCHEMA)
            .parquet(str(src / "*"))
            .writeStream.foreachBatch(dedup_ingest_writer(table, "ingest"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(
        _docs([(0, "alpha"), (1, "beta"), (2, "alpha")]), DOC_SCHEMA
    ).write.parquet(str(src / "b1"))
    ingest()
    assert table.read().count() == 2  # in-batch dup collapsed

    # batch 2 carries one replay-dup ("beta"), one in-batch dup pair
    # ("gamma" twice) and one novel doc; the writer dies post-commit
    spark.createDataFrame(
        _docs([(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")]),
        DOC_SCHEMA,
    ).write.parquet(str(src / "b2"))
    table.fault_hook = _kill_once_at("lake_sink:post_commit")
    with pytest.raises(Exception):
        ingest()
    table.fault_hook = None
    ingest()  # replay: ledger skips, nothing re-admitted

    got = {(r.doc_id, r.text) for r in table.read().collect()}
    assert got == {(0, "alpha"), (1, "beta"), (11, "gamma"), (13, "delta")}
    hashes = [r.content_hash for r in table.read().collect()]
    assert sorted(hashes) == sorted(set(hashes)), "duplicate hash re-admitted"


def test_rollup_refresh_correct_after_ingest_crash(spark, tmp_path):
    """The rollup side of the matrix: a source ingest killed after its
    lake commit (pre-checkpoint) is healed by restart + recover_head;
    the incremental refresh over the healed history must then equal a
    from-scratch rebuild."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    source = LakeTable(spark, str(tmp_path / "bars"), stat_cols=["id"])
    target = LakeTable(spark, str(tmp_path / "agg"), stat_cols=["day"])

    def key_of(df):
        return df.withColumn("day", (F.col("id") % 7).cast("int"))

    def agg(df):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )

    spark.createDataFrame(_rows(0, 60), SCHEMA).write.parquet(str(src / "b1"))
    stream_to_lake(_stream(spark, str(src / "*")), source, ckpt, "bars")
    refresh_rollup(source, target, key_of, agg, ["day"])

    spark.createDataFrame(_rows(60, 30), SCHEMA).write.parquet(str(src / "b2"))
    source.fault_hook = _kill_once_at("advance:pre_head")
    with pytest.raises(Exception):
        stream_to_lake(_stream(spark, str(src / "*")), source, ckpt, "bars")
    source.fault_hook = None
    with pytest.raises(Exception, match="stale|committed concurrently"):
        stream_to_lake(_stream(spark, str(src / "*")), source, ckpt, "bars")
    source.recover_head()
    stream_to_lake(_stream(spark, str(src / "*")), source, ckpt, "bars")

    refresh_rollup(source, target, key_of, agg, ["day"])
    expect = {
        (r["day"], r["n"], r["total"])
        for r in agg(key_of(source.read())).collect()
    }
    got = {(r["day"], r["n"], r["total"]) for r in target.read().collect()}
    assert got == expect
    assert source.read().count() == 90  # exactly-once into the source
