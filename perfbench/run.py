"""Benchmark of the Spark financial time-series engine's front doors.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ohlcv_etl --seed 1 --seconds 15 --trace 0

Each workload is a closed loop with one client: one driver thread on
``local[<cores>]`` issues the next operation ("op") only after the
previous one returns. The inputs are generated from ``--seed`` before
the clock starts and reach the program only as parquet files. An
untimed warm-up of the same ops (one pass, three for the short lake
cycles) runs first and counts into ``setup_s``. Whole passes then run
until ``--seconds`` of op time is spent; each op's output is checked
outside its timing.

Workloads:

- ``ohlcv_etl``: ``plans.pipeline.run_pipeline`` over 1-minute bars with
  planted anomalies; one op is one symbol (clean, z-score, resample to
  15m/1h/1d, chronological split, parquet sinks, metadata store,
  validation report).
- ``lake_upsert``: a ``LakeTable`` keyed on (timestamp, symbol), created
  from a bulk history during set-up. One op is one micro-batch cycle:
  merge new bars that carry late corrections, refresh an hourly rollup
  through ``sources.rollup.refresh_rollup``, then pruned range reads
  and one time-travel read. At the end the table and the rollup are
  checked against a model.

With ``--trace 0`` the last line of standard output is a JSON object
with the end-to-end metrics; with ``--trace 1`` the package's public
entry points are wrapped in spans (see ``spans.py``) and the line holds
the per-layer metrics instead. Readable detail goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import spans

PACKAGE = "financial_data_pipeline_spark"
LOG4J_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")
DRIVER_MEMORY = "1g"

#: metric -> unit; the end-to-end set is printed with ``--trace 0``, the
#: per-layer set (per-op means unless named otherwise) with ``--trace 1``
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "stored_bytes_per_input_row": "B",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "py4j.calls": "count",
    "py4j.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.action_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.core_busy_frac": "ratio",
    "spark.cached_rdds_after": "count",
    "spark.jvm_error_lines": "count",
    "operators.resample.build_s": "s",
    "operators.resample.build_jobs": "count",
    "operators.cleaning.build_jobs": "count",
    "operators.normalize.build_jobs": "count",
    "operators.splitter.build_jobs": "count",
    "plans.pipeline.jobs_per_symbol": "count",
    "plans.report.validation_report_jobs": "count",
    "metadata.compute_jobs": "count",
    "sources.sinks.bytes_written": "B",
    "sources.sinks.files_written": "count",
    "sources.laketable.files_rewritten": "count",
    "sources.laketable.files_carried": "count",
    "sources.laketable.files_read_per_read": "count",
    "sources.laketable.bytes_written": "B",
    "sources.rollup.jobs": "count",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}
UNITS = END_TO_END | PER_LAYER


def du(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Op:
    """One timed call. ``run()`` is timed; ``check(result)`` is not and
    returns whether the output is right."""

    def __init__(self, kind: str, run, check) -> None:
        self.kind, self.run, self.check = kind, run, check


# -- ohlcv_etl ----------------------------------------------------------


class OhlcvEtl:
    MAIN_OP = "symbol"
    WARMUP_PASSES = 1
    N_SYMBOLS = 1
    N_BARS = 360  # six hours of 1-minute bars per symbol
    COUNTERS = (
        "duplicates_removed",
        "initial_nans",
        "negative_rows",
        "invalid_ohlc",
        "time_gaps",
    )

    def __init__(self, seed: int, work: str) -> None:
        table, self.truth = gen.ohlcv_bars(seed, self.N_SYMBOLS, self.N_BARS)
        self.main_op_rows = table.num_rows / self.N_SYMBOLS
        self.path = os.path.join(work, "input", "bars.parquet")
        os.makedirs(os.path.dirname(self.path))
        pq.write_table(table, self.path)
        self.out = os.path.join(work, "out")

    def start(self, spark) -> None:
        from pyspark.sql import functions as F

        from financial_data_pipeline_spark.plans import pipeline

        raw = spark.read.parquet(self.path)
        self.sources = {s: raw.filter(F.col("symbol") == s) for s in self.truth}
        self.config = pipeline.PipelineConfig(
            symbols=list(self.truth),
            interval="1m",
            normalize_method="zscore",
            resample_to=["15m", "1h", "1d"],
            split_method="chronological",
            output_dir=self.out,
            include_report=True,
        )
        self.spark = spark

    def ops(self):
        from financial_data_pipeline_spark.plans import pipeline

        for sym, src in self.sources.items():
            yield Op(
                "symbol",
                lambda sym=sym, src=src: pipeline.run_pipeline(
                    self.spark, self.config, {sym: src}
                ),
                lambda res, sym=sym: self.check(sym, res),
            )

    def check(self, sym: str, res: dict) -> bool:
        r, want = res[sym], self.truth[sym]
        if "error" in r:
            print(f"{sym}: {r['error'][:300]}", file=sys.stderr)
            return False
        got = {k: r["validation_report"][k] for k in self.COUNTERS}
        ds = r["datasets"]
        ok = (
            got == {k: want[k] for k in self.COUNTERS}
            and ds["full"] == ds["train"] + ds["test"]
            and ds["full"] == want["full"]
        )
        if not ok:
            print(f"{sym}: report {got} datasets {ds} want {want}", file=sys.stderr)
        return ok

    def finish(self) -> None:
        """No end state to check: every op is checked on its own."""

    def stored_bytes_per_row(self) -> float:
        """Bytes under the sink directory, one version per symbol since
        sinks overwrite, per input row."""
        return du(self.out)[0] / sum(t["rows"] for t in self.truth.values())


# -- lake_upsert --------------------------------------------------------


def _iso(us: int) -> str:
    return np.datetime64(us, "us").astype("datetime64[s]").item().isoformat()


class LakeUpsert:
    MAIN_OP = "cycle"
    WARMUP_PASSES = 3
    N_SYMBOLS = 4
    HISTORY_BARS = 2 * 1440
    BATCH_BARS = 30
    N_BATCHES = 40  # more than any run consumes
    HISTORY_FILES = 8
    READS = 4  # pruned range reads after each batch
    READ_MINUTES = 90
    KEY = ["timestamp", "symbol"]
    ROLLUP_KEY = ["bucket", "symbol"]

    def __init__(self, seed: int, work: str) -> None:
        history, batches, _ = gen.lake_batches(
            seed, self.N_SYMBOLS, self.HISTORY_BARS, self.BATCH_BARS, self.N_BATCHES
        )
        self.tables = [history, *batches]
        self.work = work
        inp = os.path.join(work, "input")
        os.makedirs(inp)
        self.paths = [os.path.join(inp, f"part{i}.parquet") for i in range(len(self.tables))]
        for t, p in zip(self.tables, self.paths):
            pq.write_table(t, p)
        self.rows = [t.num_rows for t in self.tables]
        self.main_op_rows = sum(self.rows[1:]) / self.N_BATCHES

        # expected answers: a last-writer-wins model after each commit
        rng = np.random.default_rng(seed + 1)
        state: dict = {}
        self.want_rows, self.want_reads = [], []
        for t in self.tables:
            self._apply(state, t)
            self.want_rows.append(len(state))
            keys = np.fromiter((k for k, _ in state), np.int64, len(state))
            close = np.fromiter(state.values(), float, len(state))
            reads = []
            for _ in range(self.READS):
                minutes = (keys.max() - keys.min()) // gen.MINUTE_US
                lo = int(keys.min() + rng.integers(0, minutes) * gen.MINUTE_US)
                hi = lo + self.READ_MINUTES * gen.MINUTE_US
                m = (keys >= lo) & (keys <= hi)
                reads.append((_iso(lo), _iso(hi), int(m.sum()), float(close[m].sum())))
            self.want_reads.append(reads)
        self.phase: dict[str, list[float]] = {}

    @staticmethod
    def _apply(state: dict, t: pa.Table) -> None:
        ts = t.column("timestamp").cast(pa.int64()).to_numpy()
        for k, s, c in zip(ts, t.column("symbol").to_pylist(), t.column("close").to_numpy()):
            state[(int(k), s)] = float(c)

    def start(self, spark) -> None:
        """Create the table from the bulk history and its hourly rollup."""
        from financial_data_pipeline_spark.sources import laketable, rollup

        self.spark = spark
        self.root = os.path.join(self.work, "lake")
        self.src = laketable.LakeTable(
            spark, os.path.join(self.root, "bars"), stat_cols=["timestamp"]
        )
        self.dst = laketable.LakeTable(
            spark, os.path.join(self.root, "rollup_1h"), stat_cols=["bucket"]
        )
        # the history lands clustered by time, as an archive would be, so
        # range reads and merges can skip files
        history = spark.read.parquet(self.paths[0])
        self.src.commit(history.repartitionByRange(self.HISTORY_FILES, "timestamp"))
        rollup.refresh_rollup(self.src, self.dst, self.key_of, self.agg, self.ROLLUP_KEY)
        self.batch = 0  # batches merged so far
        self.stored = None

    @staticmethod
    def key_of(df):
        from financial_data_pipeline_spark.operators import resample

        return df.withColumn("bucket", resample.bucket_col("timestamp", "1h"))

    @staticmethod
    def agg(df):
        from pyspark.sql import functions as F

        return df.groupBy("bucket", "symbol").agg(
            F.min_by("open", "timestamp").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "timestamp").alias("close"),
            F.sum("volume").alias("volume"),
            F.count("*").alias("bars"),
            F.sum("close").alias("close_sum"),
        )

    def _timed(self, phase: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.phase.setdefault(phase, []).append(time.perf_counter() - t0)
        return out

    def ops(self):
        """One pass is one micro-batch cycle on the same, growing table."""
        from financial_data_pipeline_spark.sources import rollup

        self.batch += 1
        i, src = self.batch, self.src
        if i >= len(self.tables):
            raise RuntimeError("the run outlasted the generated micro-batches")

        def cycle():
            self._timed("merge", src.merge, self.spark.read.parquet(self.paths[i]), self.KEY)
            self._timed(
                "refresh",
                rollup.refresh_rollup, src, self.dst, self.key_of, self.agg, self.ROLLUP_KEY,
            )
            got = self.reads(i)
            prev = self._timed(
                "time_travel", lambda: src.read(version=src.head_version() - 1).count()
            )
            return got, prev

        def check(res) -> bool:
            got, prev = res
            ok = all(
                g[0] == w[2] and abs(g[1] - w[3]) <= 1e-6 * max(1.0, abs(w[3]))
                for g, w in zip(got, self.want_reads[i])
            ) and prev == self.want_rows[i - 1]
            if not ok:
                print(f"batch {i}: reads {got} want {self.want_reads[i]}, "
                      f"previous version {prev} want {self.want_rows[i - 1]}", file=sys.stderr)
            if i == self.WARMUP_PASSES:
                self.stored = du(self.root)[0] / sum(self.rows[: i + 1])
            return ok

        yield Op("cycle", cycle, check)

    def reads(self, i: int) -> list[tuple[int, float]]:
        from pyspark.sql import functions as F

        out = []
        for lo, hi, _, _ in self.want_reads[i]:
            df = self._timed("read", self.src.read, pred_col="timestamp", lo=lo, hi=hi)
            ts = F.col("timestamp")
            row = (
                df.filter((ts >= F.lit(lo).cast("timestamp")) & (ts <= F.lit(hi).cast("timestamp")))
                .agg(F.count("*").alias("n"), F.sum("close").alias("s"))
                .collect()[0]
            )
            out.append((row["n"], row["s"] or 0.0))
        return out

    def finish(self) -> bool:
        """The table equals the last-writer-wins model and the rollup a
        one-shot group-by of it."""
        from pyspark.sql import functions as F

        state: dict = {}
        for t in self.tables[: self.batch + 1]:
            self._apply(state, t)
        model = pd.DataFrame({
            "bucket": [k // 3_600_000_000 for k, _ in state],
            "symbol": [s for _, s in state],
            "close": list(state.values()),
        })
        want = model.groupby(["bucket", "symbol"]).close.agg(["count", "sum"]).sort_index()
        row = self.src.read().agg(
            F.count("*").alias("n"), F.count_distinct(*self.KEY).alias("keys")
        ).collect()[0]
        roll = (
            self.dst.read()
            .select(
                (F.unix_micros("bucket") / 3_600_000_000).cast("long").alias("bucket"),
                "symbol",
                F.col("bars").alias("count"),
                F.col("close_sum").alias("sum"),
            )
            .toPandas()
            .set_index(["bucket", "symbol"])
            .sort_index()
        )
        ok = (
            row["n"] == row["keys"] == len(state)
            and roll.index.equals(want.index)
            and (roll["count"].to_numpy() == want["count"].to_numpy()).all()
            and np.allclose(roll["sum"].to_numpy(), want["sum"].to_numpy(), rtol=1e-9)
        )
        if not ok:
            print(f"final: rows {row['n']} keys {row['keys']} want {len(state)}; "
                  f"rollup {len(roll)} groups want {len(want)}", file=sys.stderr)
        return ok

    def stored_bytes_per_row(self) -> float:
        """Lake bytes on disk, old versions included, per input row, taken
        when the warm-up batches are in."""
        return self.stored


WORKLOADS = {"ohlcv_etl": OhlcvEtl, "lake_upsert": LakeUpsert}


# -- tracing ------------------------------------------------------------

OPERATOR_MODULES = ("cleaning", "normalize", "resample", "splitter")


def install_tracer(tracer: spans.Tracer) -> None:
    """Wrap the public entry points of each layer the workloads reach."""
    import financial_data_pipeline_spark.metadata as metadata
    import financial_data_pipeline_spark.session as session
    from financial_data_pipeline_spark.operators import (
        cleaning,
        normalize,
        resample,
        splitter,
    )
    from financial_data_pipeline_spark.plans import pipeline, report
    from financial_data_pipeline_spark.sources import laketable, rollup, sinks

    def sink_size(span, args, kwargs, out):
        span.attrs["bytes"], span.attrs["files"] = du(args[1])

    def lake_files(table, version):
        return set(table.pruned_files(version))

    def lake_write(span, args, kwargs, out):
        table, new = args[0], out
        after = lake_files(table, new)
        before = lake_files(table, new - 1) if new > 1 else set()
        span.attrs["carried"] = len(after & before)
        span.attrs["rewritten"] = len(before - after)
        span.attrs["bytes"] = sum(
            os.path.getsize(p.removeprefix("file:")) for p in after - before
        )

    def lake_read(span, args, kwargs, out):
        if kwargs.get("pred_col") is not None:
            span.attrs["files_read"] = len(
                args[0].pruned_files(
                    kwargs.get("version"), kwargs["pred_col"], kwargs.get("lo"), kwargs.get("hi")
                )
            )

    tracer.install(session, "get_spark", "session.get_spark")
    tracer.install(pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
    tracer.install(report, "validation_report", "plans.report.validation_report")
    tracer.install(cleaning, "clean_ohlcv", "operators.cleaning.clean_ohlcv")
    tracer.install(normalize, "normalize", "operators.normalize.normalize")
    tracer.install(resample, "resample_ohlcv", "operators.resample.resample_ohlcv")
    tracer.install(resample, "bucket_col", "operators.resample.bucket_col")
    tracer.install(splitter, "chronological_split", "operators.splitter.chronological_split")
    tracer.install(sinks, "write_parquet", "sources.sinks.write_parquet", sink_size)
    tracer.install(laketable.LakeTable, "commit", "sources.laketable.commit", lake_write)
    tracer.install(laketable.LakeTable, "merge", "sources.laketable.merge", lake_write)
    tracer.install(laketable.LakeTable, "read", "sources.laketable.read", lake_read)
    tracer.install(rollup, "refresh_rollup", "sources.rollup.refresh_rollup")
    tracer.install(metadata, "compute_metadata", "metadata.compute_metadata")
    tracer.install(metadata.MetadataStore, "save", "metadata.save")


class EngineCounters:
    """Per-op deltas of Spark's status store, read from the driver JVM
    after the listener bus has drained (stages and jobs are listed
    newest first)."""

    FIELDS = (
        ("numTasks", "tasks"),
        ("numFailedTasks", "failed_tasks"),
        ("executorRunTime", "executor_run_ms"),
        ("executorCpuTime", "executor_cpu_ns"),
        ("inputBytes", "input_bytes"),
        ("outputBytes", "output_bytes"),
        ("shuffleReadBytes", "shuffle_read_bytes"),
        ("shuffleWriteBytes", "shuffle_write_bytes"),
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jvm, self.gw, self.sc = sc._jvm, sc._gateway, sc._jsc.sc()
        self.store = self.sc.statusStore()
        self.last_stage = self.last_job = -1
        self.delta()

    def jobs_started(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def delta(self) -> dict[str, float]:
        self.sc.listenerBus().waitUntilEmpty(30_000)
        out = {"jobs": 0, "stages": 0, "action_s": 0.0}
        out.update({name: 0 for _, name in self.FIELDS})
        stages = self.store.stageList(
            self.jvm.java.util.ArrayList(),
            False,
            False,
            self.gw.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        top = self.last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.last_stage:
                break
            top = max(top, sid)
            if st.status().toString() in ("COMPLETE", "FAILED"):
                out["stages"] += 1
                for getter, name in self.FIELDS:
                    out[name] += getattr(st, getter)()
        self.last_stage = top
        jobs = self.store.jobsList(None)
        top = self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            top = max(top, jid)
            out["jobs"] += 1
            if j.completionTime().isDefined():
                out["action_s"] += (
                    j.completionTime().get().getTime() - j.submissionTime().get().getTime()
                ) / 1000
        self.last_job = top
        out["cached_rdds_after"] = self.sc.getPersistentRDDs().size()
        return out


def catalyst_ms(spark, frames: list) -> dict[str, float]:
    """Analysis, optimization and planning time of the DataFrames the
    traced entry points returned, each re-planned once from its logical
    plan in a fresh query execution (a long-lived one's tracker spans
    from the first to the last time a phase ran, not their sum)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    jss = spark._jsparkSession
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    seen = set()
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.hashCode() in seen:
            continue
        seen.add(plan.hashCode())
        qe = dataset.ofRows(jss, plan).queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for name in out:
            if phases.contains(name):
                out[name] += phases.apply(name).durationMs()
    return out


def frames_in(value) -> list:
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [v for v in value if isinstance(v, DataFrame)]
    return []


# -- measurement --------------------------------------------------------


def run_ops(workload, seconds: float, hooks=None) -> dict:
    """Closed loop over whole passes of the workload's ops, at least one,
    until ``seconds`` of op time is spent, so every run covers the same
    mix of ops. ``hooks.begin()`` and ``hooks.end(op, t0, t1)`` run
    around each op, outside its timing."""
    lat: dict[str, list[float]] = {}
    attempted = failed = 0
    spent = 0.0
    while True:
        for op in workload.ops():
            if hooks is not None:
                hooks.begin()
            t0 = time.perf_counter()
            try:
                out, ok = op.run(), True
            except Exception:  # an op that raises counts as failed
                traceback.print_exc()
                ok = False
            t1 = time.perf_counter()
            if hooks is not None:
                hooks.end(op, t0, t1)
            if ok:
                try:
                    ok = bool(op.check(out))
                except Exception:
                    traceback.print_exc()
                    ok = False
            attempted += 1
            failed += not ok
            spent += t1 - t0
            lat.setdefault(op.kind, []).append(t1 - t0)
        if spent >= seconds:
            break
    return {"lat": lat, "attempted": attempted, "failed": failed, "spent": spent}


class Traced:
    """Per-op layer numbers for the traced run."""

    def __init__(self, spark, tracer: spans.Tracer, engine: EngineCounters) -> None:
        self.spark, self.tracer, self.engine = spark, tracer, engine
        self.frames: list = []
        self.per_op: list[dict] = []
        tracer.on_result = lambda out: self.frames.extend(frames_in(out))

    def begin(self) -> None:
        self.tracer.spans.clear()
        self.tracer.py4j_calls, self.tracer.py4j_s = 0, 0.0
        self.frames.clear()
        self.tracer.own(self.engine.delta)

    def end(self, op, t0: float, t1: float) -> None:
        tr = self.tracer
        top = [(s.start, s.end) for s in tr.spans if s.parent is None]
        rec = {
            "op_s": t1 - t0,
            "unattributed_s": (t1 - t0) - spans.covered(top),
            "py4j.calls": tr.py4j_calls,
            "py4j.s": tr.py4j_s,
            "spans": list(tr.spans),
            "self": spans.self_times(tr.spans),
        }
        rec["engine"] = tr.own(self.engine.delta)
        rec["catalyst"] = tr.own(catalyst_ms, self.spark, self.frames)
        self.per_op.append(rec)


def layer_metrics(per_op: list[dict], cores: int) -> tuple[dict, list[str]]:
    """Per-op means of the per-layer metrics, plus a readable span table."""
    n = len(per_op)

    def mean(f) -> float:
        return sum(f(r) for r in per_op) / n

    def span_sum(r, prefix: str, attr: str | None = None, outer: bool = True):
        total = 0
        byid = {s.sid: s for s in r["spans"]}
        for s in r["spans"]:
            if not s.name.startswith(prefix):
                continue
            if outer and s.parent is not None and byid[s.parent].name.startswith(prefix):
                continue
            if attr is None:
                total += s.end - s.start
            elif attr == "jobs":
                total += s.jobs
            else:
                total += s.attrs.get(attr, 0)
        return total

    def span_mean(name: str, attr: str) -> float:
        vals = [s.attrs[attr] for r in per_op for s in r["spans"] if s.name == name and attr in s.attrs]
        return sum(vals) / len(vals) if vals else 0

    op_s = mean(lambda r: r["op_s"])
    m = {
        "py4j.calls": mean(lambda r: r["py4j.calls"]),
        "py4j.s": mean(lambda r: r["py4j.s"]),
        "trace.unattributed_s": mean(lambda r: r["unattributed_s"]),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = mean(lambda r: r["catalyst"][phase])
    e = lambda key: mean(lambda r: r["engine"][key])  # noqa: E731
    m |= {
        "spark.jobs": e("jobs"),
        "spark.stages": e("stages"),
        "spark.tasks": e("tasks"),
        "spark.failed_tasks": e("failed_tasks"),
        "spark.action_s": e("action_s"),
        "spark.executor_run_s": e("executor_run_ms") / 1e3,
        "spark.executor_cpu_s": e("executor_cpu_ns") / 1e9,
        "spark.shuffle_read_bytes": e("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": e("shuffle_write_bytes"),
        "spark.input_bytes": e("input_bytes"),
        "spark.output_bytes": e("output_bytes"),
        "spark.core_busy_frac": e("executor_run_ms") / 1e3 / (op_s * cores),
        "spark.cached_rdds_after": per_op[-1]["engine"]["cached_rdds_after"],
    }
    m["operators.resample.build_s"] = mean(lambda r: span_sum(r, "operators.resample."))
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.build_jobs"] = mean(
            lambda r, mod=mod: span_sum(r, f"operators.{mod}.", "jobs")
        )
    m |= {
        "plans.pipeline.jobs_per_symbol": mean(lambda r: span_sum(r, "plans.pipeline.", "jobs")),
        "plans.report.validation_report_jobs": mean(lambda r: span_sum(r, "plans.report.", "jobs")),
        "metadata.compute_jobs": mean(lambda r: span_sum(r, "metadata.compute_metadata", "jobs")),
        "sources.sinks.bytes_written": mean(lambda r: span_sum(r, "sources.sinks.", "bytes")),
        "sources.sinks.files_written": mean(lambda r: span_sum(r, "sources.sinks.", "files")),
        "sources.laketable.files_rewritten": mean(
            lambda r: span_sum(r, "sources.laketable.merge", "rewritten")
        ),
        "sources.laketable.files_carried": mean(
            lambda r: span_sum(r, "sources.laketable.merge", "carried")
        ),
        "sources.laketable.files_read_per_read": span_mean("sources.laketable.read", "files_read"),
        "sources.laketable.bytes_written": mean(
            lambda r: span_sum(r, "sources.laketable.", "bytes", outer=False)
        ),
        "sources.rollup.jobs": mean(lambda r: span_sum(r, "sources.rollup.", "jobs")),
    }

    table: dict[str, list[float]] = {}
    for r in per_op:
        for s in r["spans"]:
            row = table.setdefault(s.name, [0, 0.0, 0.0, 0])
            row[0] += 1
            row[1] += s.end - s.start
            row[2] += r["self"][s.sid]
            row[3] += s.jobs
    lines = [f"{'span':44} {'calls/op':>9} {'incl s/op':>10} {'self s/op':>10} {'jobs/op':>8}"]
    for name, (calls, incl, self_s, jobs) in sorted(table.items()):
        lines.append(f"{name:44} {calls / n:9.2f} {incl / n:10.4f} {self_s / n:10.4f} {jobs / n:8.2f}")
    return m, lines


def write_spans(args, per_op: list[dict]) -> None:
    """Write the traced ops' spans to ``.perfbench_out/`` in the checkout."""
    out = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    doc = [
        {
            "op_s": r["op_s"],
            "unattributed_s": r["unattributed_s"],
            "spans": [
                {"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end, "jobs": s.jobs, **s.attrs}
                for s in r["spans"]
            ],
        }
        for r in per_op
    ]
    with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(doc, f)


# -- main ---------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args, work: str, cores: int) -> tuple[dict, list[str]]:
    """Set up, warm up and measure; returns (result, readable lines)."""
    import financial_data_pipeline_spark.session as session

    workload = WORKLOADS[args.workload](args.seed, work)
    tracer = spans.Tracer() if args.trace else None
    if tracer is not None:
        install_tracer(tracer)
    local = os.path.join(work, "local")
    os.makedirs(local)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so peak RSS tracks use and not GC resizing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }
    # every JVM started from here (the launcher too) keeps its temp files
    # in the work dir and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    lines = []
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    try:
        workload.start(spark)
        if tracer is not None:
            tracer.enabled = False
        for _ in range(workload.WARMUP_PASSES):
            for op in workload.ops():
                op.check(op.run())
        setup_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        if tracer is None:
            res = run_ops(workload, args.seconds)
            main = res["lat"][workload.MAIN_OP]
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(main),
                "rows_per_s": workload.main_op_rows / statistics.median(main),
                "stored_bytes_per_input_row": workload.stored_bytes_per_row(),
                "peak_rss_mb": peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid),
            }
        else:
            (get_spark,) = [s for s in tracer.spans if s.name == "session.get_spark"]
            engine = EngineCounters(spark)
            tracer.jobs = engine.jobs_started
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
            traced = Traced(spark, tracer, engine)
            # untraced and traced passes alternate, so the overhead is not
            # confounded with the JVM still warming up
            runs = {False: [], True: []}
            while min(sum(r["spent"] for r in v) for v in runs.values()) < args.seconds / 2:
                for on in (False, True):
                    tracer.enabled = on
                    runs[on].append(run_ops(workload, 0, traced if on else None))
            tracer.enabled = False
            metrics, table = layer_metrics(traced.per_op, cores)
            metrics["session.get_spark_s"] = get_spark.end - get_spark.start
            main = {
                on: [x for r in v for x in r["lat"][workload.MAIN_OP]] for on, v in runs.items()
            }
            metrics["trace.overhead_s"] = statistics.median(main[True]) - statistics.median(
                main[False]
            )
            lines += table
            write_spans(args, traced.per_op)
            res = {"lat": {}, "attempted": 0, "failed": 0}
            for r in runs[False] + runs[True]:
                res["attempted"] += r["attempted"]
                res["failed"] += r["failed"]
                for k, v in r["lat"].items():
                    res["lat"].setdefault(k, []).extend(v)
        final = workload.finish()  # an end-state check counts as one more op
        if final is not None:
            res["attempted"] += 1
            res["failed"] += not final
        lines.append(
            f"ops attempted {res['attempted']} failed {res['failed']}; "
            + "; ".join(
                f"{k}: n={len(v)} p50={statistics.median(v):.4f}s [{' '.join(f'{x:.2f}' for x in v)}]"
                for k, v in res["lat"].items()
            )
        )
        if hasattr(workload, "phase"):
            lines.append(
                "call p50: " + "; ".join(
                    f"{k} n={len(v)} {statistics.median(v):.4f}s" for k, v in workload.phase.items()
                )
            )
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: run from a checkout root holding {PACKAGE}/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    # The JVM inherits fd 2: route it (and Python's stderr) to a log so
    # its ERROR lines can be counted, then replay the tail on failure.
    log_path = os.path.join(work, "stderr.log")
    saved = os.dup(2)
    sys.stderr.flush()
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)
    result = lines = None
    try:
        result, lines = bench(args, work, cores)
    except Exception:
        traceback.print_exc()
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)
        with open(log_path, errors="replace") as f:
            log_lines = f.read().splitlines()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    errors = sum(bool(LOG4J_ERROR.match(x)) for x in log_lines)
    if result is None:
        print("\n".join(log_lines[-60:]), file=sys.stderr)
        return 1
    if args.trace:
        result["metrics"]["spark.jvm_error_lines"] = {"value": errors, "unit": "count"}
    for line in lines:
        print(line, file=sys.stderr)
    print(f"jvm ERROR lines: {errors}", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{name:40} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
