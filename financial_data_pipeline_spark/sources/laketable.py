"""Mini lake-table layer: snapshot manifests + file-stats data skipping.

The reference's durability story is whole-directory backups
(``backup_manager.py`` — copy, verify, restore). On a 100 TB lake you
cannot copy the table to get a recoverable version; the lakehouse
answer (Iceberg/Delta, public designs) is METADATA versioning:

- every commit writes an immutable parquet file set plus a tiny JSON
  *manifest* listing the files it added (with per-file, per-column
  min/max stats);
- a *snapshot* is the list of manifests visible at a version — time
  travel = read an old snapshot, rollback = point the head at it;
  nothing is ever copied or rewritten;
- readers prune FILES by intersecting query predicates with the
  manifest stats before Spark ever opens them — at 100 TB the files
  you don't read are the whole ballgame (this is file-level skipping
  on top of parquet's own row-group pruning, same two-tier design as
  Iceberg).

Scope: append/overwrite commits, JSON manifests under
``<root>/_manifests``, every metadata read and write going through the
six ``MetaStore`` primitives of ``sources/metastore.py``. Writer
concurrency is OPTIMISTIC. The commit point is ONE ``put_if_absent``
of the complete version manifest (Delta's putIfAbsent on the log; a
conditional put on object stores, a temp file hard-linked into place
on POSIX). Exactly one of two racing writers wins a version, and the
loser gets ``CommitConflict`` to re-derive and retry. A manifest is
never visible empty or partial, so an unreadable one is never a live
writer: readers skip it and ``expire_snapshots`` removes it. HEAD is a
pointer written after the commit point; ``recover_head`` repairs it
when a writer dies in between.

Verified guarantee (tests/test_laketable_multiprocess.py): two SEPARATE
OS processes, each its own JVM/SparkSession, racing N commits each with
retry-on-conflict converge to exactly N+N consecutive committed
versions with zero lost rows; the single-process race and the
stage→publish window are covered in tests/test_laketable.py, and the
crash matrix runs on both stores. A multi-engine catalog and full
conflict CLASSIFICATION (disjoint-file merges could auto-retry) stay
documented seams. Per-file stats come from the parquet footers on the
driver with no Spark job; a Spark job over the just-written files runs
only for Bloom columns or footers without exact statistics.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from financial_data_pipeline_spark.sources.metastore import PosixMetaStore

_MANIFEST_DIR = "_manifests"
_HEAD = "HEAD.json"


class ConstraintViolation(ValueError):
    """A commit/merge was rejected by a table CHECK constraint."""


class CommitConflict(RuntimeError):
    """Another writer committed the same version first. The losing
    writer's data files are already on disk but unreferenced (orphans,
    reclaimed by ``orphan_files`` + retention); retry by re-reading the
    new HEAD and re-deriving the commit (same recipe as Delta/Iceberg
    optimistic concurrency)."""


@dataclass
class FileStat:
    path: str
    rows: int
    stats: dict[str, list]  # col -> [min, max] (JSON-portable scalars)


@dataclass
class Snapshot:
    version: int
    ts: float
    mode: str  # "append" | "overwrite"
    files: list[FileStat] = field(default_factory=list)
    # App-level metadata committed ATOMICALLY with the snapshot (the
    # HEAD move is the commit point). Streaming sinks record their
    # last applied micro-batch id here, which is what makes replayed
    # foreachBatch deliveries idempotent (see streaming/lake_sink.py).
    app_meta: dict = field(default_factory=dict)
    # WAP snapshots are branches, not commits: they sit ABOVE head by
    # design and must not count as "someone committed past your base"
    # in the optimistic-concurrency staleness check.
    staged: bool = False
    # The version this snapshot was DERIVED from (carried files, merge
    # survivors). Recorded so publish() can re-run the staleness check
    # at publish time — a staged snapshot passes _advance's check when
    # written, but a concurrent commit between stage and publish makes
    # it stale again. Older manifests lack the field; version-1 is the
    # correct reconstruction for them (every writer derives from the
    # version directly below the one it claims).
    base: int = 0
    # A commit that won its version manifest but then observed a
    # concurrent publish() landing inside its create→HEAD window marks
    # ITSELF aborted instead of moving HEAD (see _advance's post-create
    # re-check). Aborted snapshots are not committed history: they
    # never trip the staleness check, are never detached, and are not
    # retained by expire_snapshots.
    aborted: bool = False


# File-schema memo (r10, guide §6.2 — declared schema beats
# re-inference; the lake-side twin of the adapters.load_table memo):
# every `spark.read.parquet` call runs a one-task schema-inference job
# (~0.1-0.2 s warm), and one lake lifecycle pays it a dozen times over
# files THIS process just wrote. Data files are immutable by design
# (uuid-named commit dirs, never rewritten in place), so `_write_files`
# seeds the memo with the written frame's schema and every internal
# read supplies it instead of re-inferring. METADATA only — the
# stand-in for the schema a real lakehouse stores in its table
# metadata; the data is still scanned fresh by every query. Entries
# are validated against (mtime_ns, size) so any out-of-band rewrite
# falls back to plain inference, as does any path set whose memoized
# schemas disagree (additive schema evolution keeps today's
# pick-a-footer inference behavior). Snapshot expiry evicts the files
# it deletes, and ``adapters.clear_table_memo`` clears it all.
_FILE_SCHEMA_MEMO: dict[str, tuple[int, int, "object"]] = {}


def _as_nullable(dt):
    """Normalize a written frame's schema to what parquet inference
    returns: every field nullable, no field metadata."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _memo_put(paths: list[str], schema) -> None:
    ns = _as_nullable(schema)
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            continue
        _FILE_SCHEMA_MEMO[p] = (st.st_mtime_ns, st.st_size, ns)


def _memo_schema(paths: list[str]):
    """The shared memoized StructType for ``paths``, or None when any
    file is unknown, changed on disk, or the schemas disagree — the
    caller then falls back to plain inference (exactly today's read)."""
    out = None
    for p in paths:
        ent = _FILE_SCHEMA_MEMO.get(p)
        if ent is None:
            return None
        try:
            st = os.stat(p)
        except OSError:
            return None
        if st.st_mtime_ns != ent[0] or st.st_size != ent[1]:
            del _FILE_SCHEMA_MEMO[p]
            return None
        if out is None:
            out = ent[2]
        elif out != ent[2]:
            return None
    return out


def _read_parquet(spark: SparkSession, paths: list[str], merge_schema: bool = False) -> DataFrame:
    """All internal lake parquet reads go through here: memo hit →
    declared-schema read (no inference job); miss → plain inference
    (and a single-file miss seeds the memo for later reads)."""
    if merge_schema:
        # explicit footer-merge semantics — never substituted
        return spark.read.option("mergeSchema", True).parquet(*paths)
    sch = _memo_schema(paths)
    if sch is not None:
        return spark.read.schema(sch).parquet(*paths)
    df = spark.read.parquet(*paths)
    if len(paths) == 1:
        # single-file inference IS that file's schema — safe to memo
        _memo_put(paths, df.schema)
    return df


def _mdir(root: str, fs=None) -> str:
    d = os.path.join(root, _MANIFEST_DIR)
    if fs is None:
        os.makedirs(d, exist_ok=True)
    else:
        fs.makedirs(d)
    return d


def _json_scalar(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _nullsafe_key_cond(left: "DataFrame", right: "DataFrame", cols: list[str]):
    """Null-safe conjunction over key columns for the keyed rewrites
    (merge/delete/refresh). Plain ``on=cols`` equality never matches a
    NULL key, so a null-keyed row would silently dodge every anti-join
    — surviving a delete, duplicating under a merge, going stale under
    a refresh. NULL is a real key value (groupBy keeps the null
    group); the rewrites must treat it as one."""
    cond = None
    for c in cols:
        e = left[c].eqNullSafe(right[c])
        cond = e if cond is None else cond & e
    return cond


#: parquet physical/logical types whose footer min/max are EXACT by the
#: format spec. Strings/binary are excluded (writers may truncate),
#: float/double are excluded (NaN handling differs: parquet writers
#: omit NaN from stats while Spark's max() propagates it), decimals and
#: nested paths are excluded (conversion subtleties). Anything outside
#: this set falls back to the Spark stats job.
_FOOTER_EXACT_PREFIXES = ("int", "date", "timestamp", "bool", "uint", "time")


def _footer_scalar(v):
    """Normalize a pyarrow footer statistic to the exact value the
    Spark stats job stores: tz-aware timestamps (isAdjustedToUTC
    parquet columns) become naive UTC wall clock — the session
    timezone, so manifest ISO strings must match byte-for-byte or
    string-order range pruning at equal boundaries would mis-prune."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _collected_scalar(v, dtype):
    """Manifest form of a bound collected from Spark. PySpark's
    ``collect`` returns TIMESTAMP values as naive DRIVER-LOCAL wall
    clock (``TimestampType.fromInternal`` uses the process timezone,
    whatever the session timezone); the manifest stores naive UTC, as
    the footer path does and as range bounds passed to ``read`` are
    meant (the session runs in UTC). Local strings would also break
    string order across a DST fall-back hour; ``astimezone`` honours
    the fold. TIMESTAMP_NTZ values are zone-free and pass through."""
    import datetime

    from pyspark.sql.types import TimestampType

    if v is not None and isinstance(dtype, TimestampType):
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return _json_scalar(v)


def _footer_stats(
    files: list[str], stat_cols: list[str]
) -> "list[FileStat] | None":
    """Driver-side stats from parquet footers — no Spark job (r10,
    guide §6: a lake lifecycle paid one single-purpose stats job per
    commit). Returns None (→ caller runs the Spark job, the exact
    pre-r10 path) unless EVERY stat column on EVERY file is a
    top-level column of a footer-exact type with complete statistics;
    the values produced are identical to the Spark job's by the
    parquet format contract (exact min/max + null counts for these
    types), pinned by test_footer_stats_match_spark_job."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    out = []
    for path in files:
        try:
            with pq.ParquetFile(path) as pf:  # one footer parse per file
                md, arrow_schema = pf.metadata, pf.schema_arrow
        except Exception:  # noqa: BLE001 — any read oddity → Spark job
            return None
        pq_schema = md.schema
        col_idx = {}
        for i in range(md.num_columns):
            col = pq_schema.column(i)
            # nested columns carry dotted paths — only top-level allowed
            col_idx[col.path] = i
        rows = md.num_rows
        stats: dict[str, list] = {}
        for c in stat_cols:
            i = col_idx.get(c)
            if i is None:
                return None
            try:
                at = str(arrow_schema.field(c).type)
            except KeyError:
                return None
            if not at.startswith(_FOOTER_EXACT_PREFIXES):
                return None
            mn = mx = None
            nulls = 0
            for rg in range(md.num_row_groups):
                cm = md.row_group(rg).column(i)
                st = cm.statistics
                if st is None or not st.has_null_count:
                    return None
                nulls += st.null_count
                n_non_null = cm.num_values - st.null_count
                if n_non_null <= 0:
                    continue  # all-null row group contributes no range
                if not st.has_min_max:
                    return None
                lo, hi = _footer_scalar(st.min), _footer_scalar(st.max)
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            stats[c] = [_json_scalar(mn), _json_scalar(mx)]
            stats[f"__nulls_{c}"] = int(nulls)
        out.append(FileStat(path=path, rows=rows, stats=stats))
    return out


def _remove_part(path: str) -> None:
    """Delete a data file with its Hadoop checksum sidecar (first, so
    a crash in between leaves the part for the next vacuum to find),
    then its commit dir once that holds nothing else."""
    d, name = os.path.split(path)
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(d, f".{name}.crc"))
    os.remove(path)
    with contextlib.suppress(OSError):  # not empty: other parts live
        os.rmdir(d)


def _collect_stats(
    spark: SparkSession,
    files: list[str],
    stat_cols: list[str],
    bloom_cols: list[str] | None = None,
) -> list[FileStat]:
    """Per-file row count + min/max per stat column (+ optional Bloom
    bitmap per bloom column). One distributed job over the new files
    only; each task reads one file's pages for just the stat columns
    (column pruning applies). The bloom build is the SAME md5 position
    math as the driver-side probe (``_bloom_positions``): k positions
    per distinct value, OR-folded into a fixed 1024-bit bitmap via
    bit_or of shifted longs — no engine-private hash anywhere."""
    from pyspark.sql import functions as F

    bloom_cols = list(bloom_cols or [])
    if not files:
        return []
    if not bloom_cols:
        # footer fast path (bloom bitmaps genuinely need a data scan)
        fast = _footer_stats(files, stat_cols)
        if fast is not None:
            return fast
    df = _read_parquet(spark, files).withColumn(
        "__file", F.input_file_name()
    )
    n_words = _BLOOM_BITS // 64
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        # per-file NULL count per stat column: min/max skip nulls, so
        # range pruning alone can never prove a file holds NO null-keyed
        # rows — the keyed rewrites (merge/delete/refresh) need this to
        # prune files when the key frame mixes null and non-null keys
        # (otherwise every file must be rewritten whenever any key is
        # null). Stored as __nulls_{c}; absent in old manifests → the
        # split treats the count as unknown (conservatively touched).
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
        )
    for c in bloom_cols:
        # per-row k positions (md5 of "col:k:value" — mirrors
        # _bloom_positions exactly). NULL values contribute no
        # positions (they can never be probed via eq= anyway), and the
        # bitmap is folded INSIDE the aggregate — a fixed 16-long
        # state per file per column (bit_or of per-row 64-bit words),
        # never a collected set of distinct position arrays whose
        # buffer would grow with column cardinality.
        pos = F.when(
            F.col(c).isNotNull(),
            F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{c}:{k}:"),
                                    F.col(c).cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _BLOOM_BITS
                    for k in range(_BLOOM_HASHES)
                ]
            ),
        )
        df = df.withColumn(f"__pos_{c}", pos)
        for w in range(n_words):
            word = F.expr(
                f"aggregate(__pos_{c}, 0L, (acc, p) -> "
                f"CASE WHEN CAST(p / 64 AS INT) = {w} "
                f"THEN acc | shiftleft(1L, CAST(p % 64 AS INT)) "
                f"ELSE acc END)"
            )
            aggs.append(F.bit_or(word).alias(f"__bloom_{c}_{w}"))
    types = {c: df.schema[c].dataType for c in stat_cols}
    rows = df.groupBy("__file").agg(*aggs).collect()
    out = []
    for r in rows:
        stats = {
            c: [
                _collected_scalar(r[f"__min_{c}"], types[c]),
                _collected_scalar(r[f"__max_{c}"], types[c]),
            ]
            for c in stat_cols
        }
        for c in stat_cols:
            stats[f"__nulls_{c}"] = int(r[f"__nulls_{c}"] or 0)
        for c in bloom_cols:
            bits = 0
            for w in range(n_words):
                word = r[f"__bloom_{c}_{w}"]
                if word is not None:
                    bits |= (word & 0xFFFFFFFFFFFFFFFF) << (64 * w)
            stats[f"__bloom_{c}"] = f"{bits:0{_BLOOM_BITS // 4}x}"
        path = r["__file"]
        if path.startswith("file:"):
            # input_file_name() yields file:///p — reduce to the OS
            # path (r10: the footer fast path records the raw listing
            # path, and the two spellings must agree or the same file
            # would carry two identities through manifest diffs)
            path = path[len("file:"):]
            while path.startswith("//"):
                path = path[1:]
        out.append(FileStat(path=path, rows=r["__rows"], stats=stats))
    # Zero-row part files never surface through input_file_name() —
    # record them anyway (rows=0, open stats) or they would be
    # unreferenced by every manifest and read as orphan debris.
    seen = {os.path.realpath(fs.path) for fs in out}
    for path in files:
        if os.path.realpath(path) not in seen:
            out.append(
                FileStat(
                    path=path,
                    rows=0,
                    stats={
                        **{c: [None, None] for c in stat_cols},
                        **{f"__nulls_{c}": 0 for c in stat_cols},
                    },
                )
            )
    return out


_BLOOM_BITS = 1024
_BLOOM_HASHES = 5


def _bloom_positions(value, seed_base: str) -> list[int]:
    """k bit positions for a value — md5-based so the SAME positions
    are computable driver-side (probe) and executor-side (build,
    ``md5()`` SQL) with no engine-private hash."""
    import hashlib

    out = []
    for k in range(_BLOOM_HASHES):
        h = hashlib.md5(f"{seed_base}:{k}:{value}".encode()).hexdigest()
        out.append(int(h[:15], 16) % _BLOOM_BITS)
    return out


def _bloom_contains(hex_bitmap: str, positions: list[int]) -> bool:
    bits = int(hex_bitmap, 16)
    return all((bits >> p) & 1 for p in positions)


class LakeTable:
    """Versioned parquet table with stats-based file skipping.

    ``commit(df, mode)`` writes data files + a manifest and advances
    HEAD; ``read(version=...)`` time-travels; ``rollback(version)``
    moves HEAD without touching data; ``read(pred_col, lo, hi)``
    prunes files whose [min, max] cannot intersect the range.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stat_cols: list[str],
        bloom_cols: list[str] | None = None,
        fs=None,
    ) -> None:
        self.spark = spark
        self.root = root
        self.stat_cols = stat_cols
        # metadata-store seam (sources/metastore.py): every read/write
        # of the tiny JSON commit metadata goes through these
        # primitives. Default is the POSIX impl; pass
        # MemoryObjectMetaStore (or a real object-store impl with
        # conditional puts) to run the SAME protocol on object-store
        # semantics — the crash matrix + OCC probe run on both. Data
        # files stay on whatever Hadoop FileSystem Spark writes to —
        # the seam covers the commit plane only.
        self.fs = fs if fs is not None else PosixMetaStore()
        # test-only fault-injection seam: the crash-matrix tests set
        # this to a callable that raises at a named step boundary
        # (e.g. "advance:post_create"), simulating a writer dying at
        # that exact point. Production leaves it None (zero overhead).
        self.fault_hook = None
        # equality-pruning companion to the min/max range stats: a
        # tiny per-file Bloom bitmap per listed column (the Delta
        # bloom-filter-index / Iceberg bloom idea). High-cardinality
        # keys whose values SCATTER across the range (order ids, user
        # ids, content hashes) range-prune terribly but bloom-prune
        # to ~one file.
        self.bloom_cols = list(bloom_cols or [])

    def _fault(self, point: str) -> None:
        """Crash-point boundary marker. Named points cover every
        durable-state transition of commit/stage/publish/rewrite/
        expire; ``tests/test_laketable_crash_matrix.py`` kills a writer
        at each one and asserts the table stays readable and
        recoverable. No-op unless ``fault_hook`` is set."""
        if self.fault_hook is not None:
            self.fault_hook(point)

    # -- metadata ----------------------------------------------------
    def _head_path(self) -> str:
        return os.path.join(_mdir(self.root, self.fs), _HEAD)

    def head_version(self) -> int:
        try:
            return json.loads(self.fs.get(self._head_path()))["version"]
        except FileNotFoundError:
            return 0

    def _write_head(self, version: int) -> None:
        """ATOMIC head update: dump to a uniquely-named temp file and
        ``os.replace`` over HEAD. An in-place truncate-and-write let a
        concurrent ``head_version()`` read a torn/empty file — found
        live by ``tools/occ_probe.py`` at 8 racing writers (a reader
        thread died on JSONDecodeError mid-commit). rename(2) is atomic
        on POSIX, so readers now see either the old or the new pointer,
        never a partial one."""
        self.fs.put_atomic(
            self._head_path(), json.dumps({"version": version})
        )

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(_mdir(self.root, self.fs), f"v{version:06d}.json")

    def _load_snapshot(self, version: int) -> Snapshot:
        d = json.loads(self.fs.get(self._snapshot_path(version)))
        return Snapshot(
            version=d["version"],
            ts=d["ts"],
            mode=d["mode"],
            files=[FileStat(**fs) for fs in d["files"]],
            app_meta=d.get("app_meta", {}),
            staged=d.get("staged", False),
            base=d.get("base", d["version"] - 1),
            aborted=d.get("aborted", False),
        )

    def _try_load_snapshot(self, version: int) -> "Snapshot | None":
        """The snapshot, or None when its manifest is gone (a
        concurrent vacuum won after the listing) or unreadable
        (corrupt, or the empty file an older build's crashed writer
        left) — neither is history."""
        try:
            return self._load_snapshot(version)
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None

    def _detached_path(self) -> str:
        return os.path.join(_mdir(self.root, self.fs), "detached.json")

    def _detached(self) -> set[int]:
        """Versions a rollback/older-publish branched PAST — still
        readable (time travel) but no longer part of the committed
        line, so they must not trip the OCC staleness check."""
        try:
            return set(json.loads(self.fs.get(self._detached_path())))
        except FileNotFoundError:
            return set()

    def _detach_above(self, version: int) -> None:
        """Record every committed snapshot newer than ``version`` as
        detached — called when HEAD moves BACKWARD (rollback / publish
        of an older version), which abandons that suffix of history."""
        # committed history above `version` — the same predicate (and
        # unreadable-manifest hardening) as the OCC staleness check
        newer = self._committed_past(version)
        if not newer:
            return
        detached = self._detached() | set(newer)
        self.fs.put_atomic(
            self._detached_path(), json.dumps(sorted(detached))
        )

    def snapshots(self) -> list[int]:
        return sorted(
            int(p[1:7])
            for p in self.fs.list_names(_mdir(self.root, self.fs))
            if p.startswith("v") and p.endswith(".json")
        )

    # -- write path --------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[FileStat]:
        """Land an immutable parquet file set and return its stats."""
        data_dir = os.path.join(self.root, f"commit-{uuid.uuid4().hex[:12]}")
        # the manifest is the commit point: no Hadoop _SUCCESS marker
        df.write.mode("error").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).parquet(data_dir)
        files = [
            os.path.join(data_dir, p)
            for p in os.listdir(data_dir)
            if p.endswith(".parquet")
        ]
        # the files ARE df written out — seed the schema memo so the
        # stats pass and every later read of them skip re-inference
        _memo_put(files, df.schema)
        return _collect_stats(
            self.spark, files, self.stat_cols, self.bloom_cols
        )

    def _advance(
        self,
        mode: str,
        files: list[FileStat],
        app_meta: dict | None = None,
        move_head: bool = True,
        base: int | None = None,
    ) -> int:
        """Write the snapshot manifest for the next version and move
        HEAD — the only mutation a commit does to table metadata.
        ``app_meta`` updates are merged over the BASE snapshot's map
        and ride the same manifest write, so they are atomic with the
        data they describe.

        ``base`` is the version the caller DERIVED the commit from
        (carried files, merge survivors) — captured once at the top of
        commit()/stage()/merge()/delete() so a concurrent commit in the
        derive window cannot be silently built over. Staleness check:
        any committed (non-staged, non-aborted, non-detached) snapshot
        newer than ``base`` means the derivation is stale →
        ``CommitConflict``. One ``put_if_absent`` of the complete
        version manifest then closes the remaining window where two
        writers pass the check off the same listing — exactly one
        creates v{N} (the putIfAbsent-on-log commit point Delta uses).

        Two plain commits can only race on that put (both target the
        same next version). A concurrent ``publish`` is the
        one writer that commits WITHOUT creating a version file (it
        flips an existing staged manifest), so the create alone cannot
        arbitrate against it: the staleness check is therefore RE-RUN
        after the create, and a publish that flipped inside the
        scan→create window makes this commit mark itself ``aborted``
        (never moving HEAD) and raise. publish() runs the mirror-image
        re-check after its flip — at most one of the two racers can
        pass both its checks (each re-check happens-after the other
        side's commit action), so either one wins or both abort and
        retry; HEAD is never overwritten to drop a committed snapshot.
        HEAD itself stays a convenience pointer written AFTER the real
        commit point and recomputable from the manifest listing."""
        if base is None:
            base = self.head_version()
        existing = self.snapshots()
        stale = self._committed_past(base)
        if stale:
            raise CommitConflict(
                f"base version {base} is stale: version(s) "
                f"{stale} were committed concurrently; re-read HEAD and "
                "re-derive the commit against the new snapshot"
            )
        # next version goes PAST the highest existing snapshot, not
        # just base+1: detached (rolled-back), staged (WAP) and aborted
        # snapshot files still exist for time travel and must never be
        # overwritten by a new commit's version number
        version = max(base, existing[-1] if existing else 0) + 1
        meta = dict(self._load_snapshot(base).app_meta) if base > 0 else {}
        meta.update(app_meta or {})
        payload = {
            "version": version,
            "ts": time.time(),
            "mode": mode,
            "files": [vars(fs) for fs in files],
            "app_meta": meta,
            "staged": not move_head,
            "base": base,
        }
        self._fault("advance:pre_create")
        if not self.fs.put_if_absent(
            self._snapshot_path(version), json.dumps(payload)
        ):
            raise CommitConflict(
                f"version {version} was committed concurrently; "
                "re-read HEAD and retry the commit against the new "
                "snapshot"
            )
        self._fault("advance:post_create")
        if move_head:
            # post-create re-check: a concurrent publish() flipping a
            # staged snapshot in the scan→create window is the one
            # commit put_if_absent cannot arbitrate against — if one
            # landed, abort THIS commit (flag the manifest, leave HEAD
            # alone) instead of overwriting the published HEAD
            late = self._committed_past(base, exclude=version)
            if late:
                self._set_snapshot_flag(version, "aborted", True)
                raise CommitConflict(
                    f"base version {base} went stale inside the commit "
                    f"window: version(s) {late} were published "
                    f"concurrently; commit {version} aborted — re-read "
                    "HEAD and retry against the new snapshot"
                )
            self._fault("advance:pre_head")
            self._write_head(version)
            self._fault("advance:post_head")
        return version

    def _committed_past(
        self, base: int, exclude: int | None = None
    ) -> list[int]:
        """Committed versions newer than ``base`` — the OCC staleness
        predicate shared by _advance (pre- and post-create) and
        publish (pre- and post-flip). Staged (WAP branches), aborted
        (lost publish races) and detached (rolled-back) snapshots are
        not committed history, and neither is an unreadable manifest:
        ``put_if_absent`` lands manifests whole, so one that does not
        parse is corrupt or a crashed older-build writer's empty file,
        never a commit in flight."""
        detached = self._detached()
        out = []
        for v in self.snapshots():
            if v <= base or v == exclude or v in detached:
                continue
            s = self._try_load_snapshot(v)
            if s is not None and not s.staged and not s.aborted:
                out.append(v)
        return out

    def _set_snapshot_flag(self, version: int, key: str, value) -> None:
        """Atomically rewrite one manifest field (write-temp +
        os.replace — readers see the old or the new manifest, never a
        partial one)."""
        path = self._snapshot_path(version)
        d = json.loads(self.fs.get(path))
        d[key] = value
        self.fs.put_atomic(path, json.dumps(d))

    def app_meta(self) -> dict:
        """The head snapshot's app-level metadata map."""
        head = self.head_version()
        return self._load_snapshot(head).app_meta if head > 0 else {}

    # -- CHECK constraints -------------------------------------------
    def _constraints_path(self) -> str:
        return os.path.join(_mdir(self.root, self.fs), "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Current named CHECK constraints: {name: SQL predicate}."""
        try:
            return json.loads(self.fs.get(self._constraints_path()))
        except FileNotFoundError:
            return {}

    def add_constraint(self, name: str, sql_predicate: str) -> None:
        """Register a named CHECK constraint (a SQL predicate every row
        of every FUTURE commit/merge must satisfy — the Delta
        ``ALTER TABLE ADD CONSTRAINT`` semantics). Persisted in table
        metadata, so enforcement survives sessions. Existing data is
        NOT rescanned — validate it explicitly first if required
        (same contract as Delta, which refuses instead; here the
        caller decides because a retroactive scan of a 100 TB table
        must be a deliberate act).

        NULL predicate results count as violations (unknown ≠ pass,
        matching ``expectations.expect_predicate``, deliberately
        STRICTER than SQL CHECK's null-passes rule).
        """
        cons = self.constraints()
        cons[name] = sql_predicate
        self.fs.put_atomic(self._constraints_path(), json.dumps(cons))

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        self.fs.put_atomic(self._constraints_path(), json.dumps(cons))

    def _enforce_constraints(self, df: DataFrame) -> None:
        """ONE aggregate pass counts violations for every registered
        constraint; any nonzero count rejects the write before a file
        lands. The extra scan of the incoming frame is the price of
        commit atomicity — cache the frame upstream if it is expensive
        to recompute."""
        from pyspark.sql import functions as F

        cons = self.constraints()
        if not cons:
            return
        row = df.agg(
            *[
                F.sum(
                    (~F.coalesce(F.expr(sql), F.lit(False))).cast("long")
                ).alias(name)
                for name, sql in cons.items()
            ]
        ).first()
        bad = {k: int(row[k] or 0) for k in cons if row[k]}
        if bad:
            raise ConstraintViolation(
                "commit rejected, CHECK constraint(s) violated: "
                + ", ".join(f"{k} ({v} rows)" for k, v in sorted(bad.items()))
            )

    def _check_schema_compat(self, df: DataFrame) -> None:
        """Reject TYPE changes against the live schema (one parquet
        footer read). Additive new columns are fine (``read(merge_
        schema=True)`` reconciles them); a changed column type would be
        accepted silently by the writer and then fail nondeterministically
        at read time — whichever file parquet schema inference samples
        first would win (seen as a flaky decimal-vs-double CDF read).
        Type evolution stays an explicit cast by the caller."""
        head = self.head_version()
        if head == 0:
            return
        files = self._load_snapshot(head).files
        if not files:
            return
        live = {
            f.name: f.dataType
            for f in _read_parquet(self.spark, [files[0].path]).schema.fields
        }
        clashes = [
            f"{f.name}: table={live[f.name].simpleString()} "
            f"incoming={f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name in live and f.dataType != live[f.name]
        ]
        if clashes:
            raise TypeError(
                "incompatible column type change (cast the incoming frame "
                "to the table schema first): " + "; ".join(clashes)
            )

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        app_meta: dict | None = None,
    ) -> int:
        """Write ``df`` as an immutable file set + manifest; returns the
        new version. ``overwrite`` only redefines VISIBILITY (the new
        snapshot lists only the new files) — old files stay on disk for
        time travel until ``expire_snapshots`` reclaims them."""
        return self._write_snapshot(df, mode, app_meta, move_head=True)

    def stage(
        self,
        df: DataFrame,
        mode: str = "append",
        app_meta: dict | None = None,
    ) -> int:
        """Write-audit-publish, step 1: land ``df`` as a REAL versioned
        snapshot — files written, constraints and schema checked, OCC
        version claimed — but leave HEAD where it is. Readers see
        nothing; auditors read the staged version explicitly
        (``read(version=v)``) and run whatever checks they like against
        the exact bytes that would go live. Returns the staged version.

        This is the Iceberg/WAP pattern with the branch collapsed to a
        version number: because publish is just the HEAD move and HEAD
        was always written AFTER the snapshot file (the commit point),
        ``stage`` is literally ``commit`` minus the pointer update.
        A staged-then-abandoned version is simply never published —
        it is reclaimed by ``expire_snapshots(keep_staged=False)``
        once no publish is pending (the default vacuum keeps staged
        snapshots so an in-flight WAP audit can't be destroyed by a
        concurrent retention run).
        """
        return self._write_snapshot(df, mode, app_meta, move_head=False)

    def _write_snapshot(
        self, df: DataFrame, mode: str, app_meta: dict | None, move_head: bool
    ) -> int:
        """The body commit and stage share; only the HEAD move differs."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if mode == "append":
            self._check_schema_compat(df)
        self._enforce_constraints(df)
        # capture the base ONCE: carried files and the claimed version
        # must derive from the same head, or a commit landing between
        # the two reads is silently built over (lost update)
        base = self.head_version()
        # carried files are read before the write job, while a
        # concurrent expire_snapshots cannot yet have deleted the base
        carried = (
            self._load_snapshot(base).files
            if mode == "append" and base > 0
            else []
        )
        new = self._write_files(df)
        self._fault(
            ("commit" if move_head else "stage") + ":post_write_files"
        )
        return self._advance(
            mode, carried + new, app_meta, move_head=move_head, base=base
        )

    def publish(self, version: int, force: bool = False) -> None:
        """Write-audit-publish, step 3: make a staged version visible.
        Publishing flips the snapshot's ``staged`` flag — from here on
        it is committed history and a concurrent writer deriving from
        an older base must see it as a conflict. Publishing a version
        older than HEAD is a rollback spelling (equally O(1 metadata))
        and detaches the bypassed suffix like :meth:`rollback`.

        OCC holds THROUGH the stage→publish window: a staged snapshot
        whose recorded base has been committed past (any non-staged,
        non-aborted, non-detached snapshot newer than the base, other
        than the staged target itself) raises ``CommitConflict``
        instead of silently detaching the concurrent commit — the same
        staleness rule ``_advance`` applies at write time, re-checked
        at the moment the stage goes live (Iceberg's stale-WAP-publish
        must rebase or fail). The flip of the ``staged`` flag is the
        commit point, and the staleness check is re-run AFTER it
        (un-flipping and raising on a late conflict); ``_advance``
        runs the mirror-image re-check after its manifest put, so a
        commit racing publish itself cannot be silently detached — at
        most one side passes both of its checks (each side's re-check
        happens-after the other's commit action; both may abort and
        retry). ``force=True`` is the explicit rollback spelling:
        publish anyway and detach the bypassed suffix."""
        if version not in self.snapshots():
            raise ValueError(f"unknown version {version}")
        snap_path = self._snapshot_path(version)
        d = json.loads(self.fs.get(snap_path))
        if d.get("aborted", False):
            raise ValueError(
                f"version {version} is an aborted commit, not publishable"
            )
        if d.get("staged", False):
            base = d.get("base", d["version"] - 1)
            if not force:  # force skips the (O(history) manifest) scan
                stale = self._committed_past(base, exclude=version)
                if stale:
                    raise CommitConflict(
                        f"staged version {version} (base {base}) is stale: "
                        f"version(s) {stale} were committed after it was "
                        "staged; re-stage against the new HEAD, or "
                        "publish(force=True) to roll back over them"
                    )
            d["staged"] = False
            flipped = json.dumps(d)
            self._fault("publish:pre_flip")
            self.fs.put_atomic(snap_path, flipped)
            self._fault("publish:post_flip")
            if not force:
                # post-flip re-check: a commit whose manifest put
                # landed inside the scan→flip window — un-flip (the
                # stage stays re-publishable) and surface the conflict
                late = self._committed_past(base, exclude=version)
                if late:
                    self._set_snapshot_flag(version, "staged", True)
                    raise CommitConflict(
                        f"staged version {version} (base {base}) went "
                        f"stale inside the publish window: version(s) "
                        f"{late} were committed concurrently; publish "
                        "rolled back — re-stage or retry"
                    )
        if version < self.head_version():
            self._detach_above(version)
        self._fault("publish:pre_head")
        self._write_head(version)

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        app_meta: dict | None = None,
    ) -> int:
        """Copy-on-write MERGE (upsert): rows in ``updates`` replace
        current rows with the same key; unmatched keys append.

        The 100 TB property: only files whose stats range can CONTAIN
        an incoming key are rewritten — every other file is carried
        into the new snapshot untouched (metadata only). That requires
        the first key column to be a stat column; with clustered
        writes (sorted / Z-ordered commits) the rewrite set stays
        proportional to the update, not the table. The rewrite itself
        is one anti-join of the touched files against the update keys,
        union, write — old files stay on disk for time travel.
        """
        k0 = key_cols[0]
        if k0 not in self.stat_cols:
            raise ValueError(
                f"merge needs key column {k0!r} in stat_cols for file pruning"
            )
        base = self.head_version()
        if base == 0:
            return self.commit(updates, mode="append", app_meta=app_meta)
        self._check_schema_compat(updates)
        self._enforce_constraints(updates)
        touched, carried = self._split_by_key_range(base, updates, k0)
        # duplicate keys do not change a left-anti join: no distinct
        return self._rewrite_keyed(
            updates.select(*key_cols),
            key_cols,
            updates,
            "merge",
            app_meta=app_meta,
            base=base,
            touched=touched,
            carried=carried,
        )

    def _split_by_key_range(
        self, version: int, keys: DataFrame, k0: str, bounds=None
    ) -> tuple[list[FileStat], list[FileStat]]:
        """(touched, carried): files that can / cannot hold a row
        matching the key frame on ``k0``. Bounds are normalized through
        ``_collected_scalar`` because manifest stats store dates and
        (UTC) timestamps as ISO-8601 strings (which compare correctly
        as strings) — merge/delete/refresh on a date key would
        otherwise compare str against datetime.

        The bounds aggregate computes min/max AND count AND has_null in
        one job, because min/max alone lie twice: (a) they SKIP nulls,
        so a key frame mixing a null key with non-null keys has real
        [lo, hi] bounds yet still matches null-keyed rows in files whose
        ranges are disjoint — those files must stay touched unless their
        per-file ``__nulls_{k0}`` stat proves they hold no null-keyed
        rows; (b) an EMPTY key frame also yields lo=None, and treating
        that like the all-null case would rewrite the whole table for a
        no-op — count=0 short-circuits to everything-carried instead
        (callers then advance metadata-only).

        Polarity throughout: a file we cannot PROVE cannot match must be
        REWRITTEN (touched), or a matching row in it silently dodges the
        merge/delete/refresh anti-join.

        ``bounds``: optional precomputed aggregate row with fields
        (lo, hi, cnt, has_null) over ``keys`` — callers that already
        ran the identical aggregate (refresh_rollup folds it into its
        emptiness probe) pass it to skip the extra job."""
        from pyspark.sql import functions as F

        # read the snapshot before the bounds job: a concurrent
        # expire_snapshots may delete it while that job runs
        files = self._load_snapshot(version).files
        raw = (
            bounds
            if bounds is not None
            else keys.agg(
                F.min(k0).alias("lo"),
                F.max(k0).alias("hi"),
                F.count(F.lit(1)).alias("cnt"),
                F.max(F.col(k0).isNull()).alias("has_null"),
            ).first()
        )
        if raw["cnt"] == 0:
            return [], list(files)  # no keys → nothing can match
        k_type = keys.schema[k0].dataType
        lo = _collected_scalar(raw["lo"], k_type)
        hi = _collected_scalar(raw["hi"], k_type)
        has_null = bool(raw["has_null"])
        touched, carried = [], []
        for fs in files:
            mn, mx = fs.stats[k0]
            nulls = fs.stats.get(f"__nulls_{k0}")  # None = old manifest
            # can this file hold a NULL-keyed row matching a null key?
            may_hold_null = fs.rows != 0 and (nulls is None or nulls > 0)
            null_hit = has_null and may_hold_null
            # can this file hold a non-null-keyed row in [lo, hi]?
            if lo is None or fs.rows == 0:
                range_hit = False  # no non-null keys / no rows at all
            elif mn is None or mx is None:
                # min/max unknown with rows present: all rows null-keyed
                # IF the null count proves it, else unknown → touched
                range_hit = not (nulls is not None and nulls == fs.rows)
            else:
                range_hit = mx >= lo and hi >= mn
            (touched if null_hit or range_hit else carried).append(fs)
        return touched, carried

    def delete(self, keys: DataFrame, key_cols: list[str]) -> int:
        """Copy-on-write DELETE by key (the right-to-be-forgotten
        primitive a training-data lake needs): rows matching ``keys``
        disappear from the NEW snapshot; only files whose stats range
        can contain a matching key are rewritten (anti-join), the rest
        carry over as metadata. NOTE: deleted rows remain readable via
        older snapshots until ``expire_snapshots`` reclaims them —
        a compliance purge is delete + expire."""
        k0 = key_cols[0]
        if k0 not in self.stat_cols:
            raise ValueError(
                f"delete needs key column {k0!r} in stat_cols for file pruning"
            )
        base = self.head_version()
        if base == 0:
            raise ValueError("delete on an empty table")
        # lazy-pin the key frame (r10, guide §5): it is consumed twice
        # inside _rewrite_keyed — the bounds aggregate (which
        # materializes this pin as its first action) and the rewrite's
        # anti-join — and unpinned the second consumer re-ran the whole
        # caller-side key derivation (for a purge that is a full source
        # scan + filter). Delete keys track the purge, not the table,
        # so the materialized frame is tiny at any scale.
        return self._rewrite_keyed(
            keys.select(*key_cols).distinct().localCheckpoint(eager=False),
            key_cols,
            None,
            "delete",
            base=base,
        )

    def _rewrite_keyed(
        self,
        anti_keys: DataFrame,
        key_cols: list[str],
        new_rows: "DataFrame | None",
        mode: str,
        app_meta: dict | None = None,
        base: int | None = None,
        touched: "list[FileStat] | None" = None,
        carried: "list[FileStat] | None" = None,
    ) -> int:
        """The ONE keyed copy-on-write rewrite merge/delete/refresh all
        share: files whose first-key range can intersect ``anti_keys``
        are re-read, rows matching a key (NULL-SAFE) are dropped,
        ``new_rows`` (if any) are appended, and everything lands as a
        single snapshot via the commit protocol. Callers may pass a
        precomputed (touched, carried) split to avoid re-running the
        bounds aggregate."""
        if base is None:
            base = self.head_version()
        if touched is None or carried is None:
            touched, carried = self._split_by_key_range(
                base, anti_keys, key_cols[0]
            )
        if touched:
            old = _read_parquet(self.spark, [fs.path for fs in touched])
            survivors = old.join(
                anti_keys,
                on=_nullsafe_key_cond(old, anti_keys, key_cols),
                how="left_anti",
            )
            combined = (
                survivors.unionByName(new_rows)
                if new_rows is not None
                else survivors
            )
        else:
            combined = new_rows
        new_files = (
            self._write_files(combined) if combined is not None else []
        )
        self._fault("rewrite:post_write_files")
        return self._advance(
            mode, carried + new_files, app_meta, base=base
        )

    def added_files(self, since_version: int, to_version: int | None = None) -> list[str]:
        """Manifest diff: data files present in ``to_version`` (default
        HEAD) but not in ``since_version`` — the exact input set an
        incremental consumer must process. O(manifest) metadata, no
        file listing, no scan."""
        to_v = self.head_version() if to_version is None else to_version
        base = (
            {fs.path for fs in self._load_snapshot(since_version).files}
            if since_version > 0
            else set()
        )
        return [
            fs.path
            for fs in self._load_snapshot(to_v).files
            if fs.path not in base
        ]

    def expire_snapshots(
        self, keep_last: int = 1, keep_staged: bool = True
    ) -> list[str]:
        """Retention: drop all but the newest ``keep_last`` snapshots
        (HEAD, every TAGGED snapshot, and — by default — every STAGED
        one are always kept: a tag is a durable named ref so
        ``read(ref=...)`` can never dangle after a vacuum, matching
        Iceberg tag retention, and a staged snapshot is an in-flight
        WAP branch whose audit/publish must not race the vacuum —
        expiring it would make the later ``publish`` fail AND destroy
        its data files) and DELETE data files referenced by no
        surviving snapshot — the vacuum step that reclaims storage
        once time-travel history is no longer needed. Abandoned stages
        are reclaimed explicitly with ``keep_staged=False`` once no
        publish is pending. Returns deleted paths.

        A manifest that vanished after the listing (a concurrent vacuum
        won) is skipped, and an unreadable one is not history (see
        ``_committed_past``): it is removed whatever ``keep_last`` says,
        and data files only it might name are left to orphan retention.
        The vacuum never aborts mid-run on either state."""
        versions = self.snapshots()
        snaps = {v: self._try_load_snapshot(v) for v in versions}
        keep = (
            set(versions[-keep_last:])
            | {self.head_version()}
            | set(self.tags().values())
        )
        if keep_staged:
            keep |= {
                v for v, s in snaps.items() if s is not None and s.staged
            }
        drop = [v for v in versions if v not in keep or snaps[v] is None]
        live = set()
        for v in keep:
            if snaps.get(v) is not None:
                live.update(fs.path for fs in snaps[v].files)
        deleted = []
        for v in drop:
            # data-plane delete: parquet files live on the real
            # filesystem Spark wrote them to (not the metadata seam)
            for fs in snaps[v].files if snaps[v] is not None else []:
                if fs.path not in live and os.path.exists(fs.path):
                    _remove_part(fs.path)
                    _FILE_SCHEMA_MEMO.pop(fs.path, None)
                    deleted.append(fs.path)
                    self._fault("expire:mid_data_delete")
            self._fault("expire:pre_manifest_delete")
            try:
                self.fs.remove(self._snapshot_path(v))
            except FileNotFoundError:
                pass  # concurrent vacuum won the race to reclaim it
            self._fault("expire:post_manifest_delete")
        return deleted

    def recover_head(self) -> int:
        """Crash repair: HEAD is a convenience pointer written AFTER
        the real commit point (the manifest put — see ``_advance``),
        so a writer dying between the two leaves a committed snapshot
        HEAD doesn't name. That snapshot is real history — later
        writers correctly see it in the staleness check and conflict —
        but nothing would ever move HEAD up to it, wedging the table.
        Advance HEAD along the BASE CHAIN to the newest committed
        (non-staged, non-aborted, non-detached, readable) snapshot
        reachable from the current head: a candidate is promoted only
        when its recorded ``base`` equals the head being repaired (then
        the next candidate must chain from IT, and so on). The chain
        check is what makes recovery safe against the one race the
        manifest put cannot arbitrate: a crashed commit that lost a
        publish race has ``base`` pointing BELOW the published head,
        and blindly promoting it would silently drop the published
        snapshot's files from the live view — such an orphan is skipped
        (later writers conflict against it via the staleness check
        until it is rolled back explicitly).

        If HEAD itself names a missing or unreadable manifest, fall
        back to the newest readable committed snapshot below it. A
        ``rollback`` racing ``expire_snapshots`` leaves that state: the
        vacuum reads HEAD once, before it deletes, so a rollback to a
        version it is dropping points HEAD at a manifest the vacuum
        then removes. Pointing at the last intact history is the only
        repair that leaves the table readable. A committed snapshot
        whose recorded ``base`` EQUALS the lost head (a writer that
        derived from it, put its manifest, then died before moving
        HEAD) is still chained history — it passed its own staleness
        checks against the lost version — so the chain walk bridges
        the gap and promotes it; skipping it would move HEAD backwards
        below a readable committed snapshot and wedge every future
        commit behind a CommitConflict against it.

        Safe to run any time: a no-op when HEAD is current and
        readable. Returns the (possibly repaired) head version. The
        crash-matrix test drives every writer death window through this
        recovery."""
        head = self.head_version()
        detached = self._detached()
        committed = []  # (version, base), ascending
        for v in self.snapshots():
            s = None if v in detached else self._try_load_snapshot(v)
            if s is not None and not s.staged and not s.aborted:
                committed.append((v, s.base))
        best = head
        lost = None
        if head > 0 and self._try_load_snapshot(head) is None:
            lost = head  # the vanished version — a chain bridge
            best = max((v for v, _ in committed if v < head), default=0)
        for v, base in committed:
            if v <= best:
                continue
            if base == best:
                best = v
            elif lost is not None and base == lost and v > lost:
                # bridge through the lost head: this snapshot committed
                # over the lost version (it passed staleness checks
                # against it), so it IS the chain's continuation.
                # Consume the bridge — at most one non-aborted snapshot
                # can legitimately chain from any one base (the second
                # racer's post-create re-check marks it aborted), and
                # the ascending walk picks the earliest claimant.
                best = v
                lost = None
        if best != head:
            self._write_head(best)
        return best

    def rollback(self, version: int) -> None:
        """Point HEAD at an existing snapshot — O(1 metadata write).
        Newer committed snapshots become DETACHED history: still
        readable via time travel, but no longer on the committed line,
        so a post-rollback writer deriving from the rolled-back HEAD
        is not spuriously conflicted by them (and a new commit claims
        a version number past them, never overwriting one)."""
        if version not in self.snapshots():
            raise ValueError(f"unknown version {version}")
        self._detach_above(version)
        self._write_head(version)

    # -- read path ---------------------------------------------------
    def pruned_files(
        self,
        version: int | None = None,
        pred_col: str | None = None,
        lo=None,
        hi=None,
        eq: "tuple | None" = None,
    ) -> list[str]:
        """The file list a read would open: snapshot files minus those
        whose [min, max] for ``pred_col`` provably misses [lo, hi],
        minus (when ``eq=(col, value)`` and ``col`` is bloom-indexed)
        those whose Bloom bitmap proves the value absent. Both prunes
        compose; both return a SUPERSET of matching files (bloom false
        positives keep a file, never drop one)."""
        v = self.head_version() if version is None else version
        files = self._load_snapshot(v).files
        if eq is not None:
            col, value = eq
            key = f"__bloom_{col}"
            pos = _bloom_positions(value, col)
            kept = []
            for f in files:
                bm = f.stats.get(key)
                # files without a bloom (pre-index commits, zero-row
                # parts) cannot be excluded — supersets stay correct
                if bm is None or _bloom_contains(bm, pos):
                    kept.append(f)
            files = kept
        if pred_col is None:
            return [f.path for f in files]
        keep = []
        for f in files:
            mn, mx = f.stats[pred_col]
            if lo is not None and mx is not None and mx < lo:
                continue
            if hi is not None and mn is not None and mn > hi:
                continue
            keep.append(f.path)
        return keep

    # -- named refs (tags) --------------------------------------------

    def _tags_path(self) -> str:
        return os.path.join(_mdir(self.root, self.fs), "tags.json")

    def tags(self) -> dict[str, int]:
        """Name → version refs (the Iceberg tag idea): durable,
        human-named pointers into history that survive rollbacks and
        snapshot expiry checks."""
        try:
            return {
                k: int(v)
                for k, v in json.loads(self.fs.get(self._tags_path())).items()
            }
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: current HEAD). A tag is
        one JSON map entry — re-tagging an existing name moves it
        (audit trail is git-like: the snapshot manifests themselves
        are immutable). Raises on unknown/staged versions so a tag can
        never dangle at creation time."""
        v = self.head_version() if version is None else version
        if v == 0 or v not in self.snapshots():
            raise ValueError(f"cannot tag unknown version {v}")
        if self._load_snapshot(v).staged:
            raise ValueError(f"cannot tag staged (unpublished) version {v}")
        tags = self.tags()
        tags[name] = v
        self.fs.put_atomic(self._tags_path(), json.dumps(tags))
        return v

    def drop_tag(self, name: str) -> None:
        tags = self.tags()
        tags.pop(name, None)
        self.fs.put_atomic(self._tags_path(), json.dumps(tags))

    def resolve_ref(self, ref: str) -> int:
        """Resolve a tag name to its version (ValueError if absent)."""
        tags = self.tags()
        if ref not in tags:
            raise ValueError(f"unknown tag {ref!r}")
        return tags[ref]

    def read(
        self,
        version: int | None = None,
        pred_col: str | None = None,
        lo=None,
        hi=None,
        merge_schema: bool = False,
        eq: "tuple | None" = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Snapshot read with optional stats pruning. The predicate is
        re-applied by the caller's own ``filter`` (pruning is a
        performance contract, not a filter): files are a SUPERSET of
        matching rows, exactly like Iceberg scan planning.

        ``merge_schema``: reconcile ADDITIVE schema evolution across
        commits (parquet schema merge — an extra footer pass over the
        snapshot's files): columns absent in older files read as null.
        Renames/type changes stay out of scope (transactional-catalog
        seam, see module docstring)."""
        if ref is not None:
            if version is not None:
                raise ValueError("pass either version or ref, not both")
            version = self.resolve_ref(ref)
        files = self.pruned_files(version, pred_col, lo, hi, eq=eq)
        if not files:
            snap_files = self._load_snapshot(
                self.head_version() if version is None else version
            ).files
            if eq is not None and snap_files:
                # bloom proved the value absent from every file — an
                # empty result, not an error (schema comes from any
                # one real file)
                return _read_parquet(self.spark, [snap_files[0].path]).limit(0)
            raise ValueError("snapshot selects no files (empty table?)")
        return _read_parquet(self.spark, files, merge_schema=merge_schema)



def compact(
    table: LakeTable,
    small_file_rows: int = 100_000,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE verb): rewrite every file
    holding fewer than ``small_file_rows`` rows into a fresh clustered
    file set; files already large enough carry into the new snapshot
    as metadata. Returns the new version (or the current head if
    nothing qualifies).

    Why it's a lake-side must-have: streaming appends
    (``streaming/lake_sink.py``) land one small file set per
    micro-batch, and at 100 TB a scan's task count — and the manifest
    itself — balloon with file count. Compaction is the standard
    answer (Delta OPTIMIZE / Iceberg rewrite_data_files): read ONLY
    the small files, write them back at target size, swap metadata.
    Content is bit-identical; time travel still sees the old layout.

    ``sort_col`` additionally clusters the rewrite (range-partition +
    sort), which tightens the rewritten files' min/max stats — better
    file skipping on that column afterwards (pair with
    ``scale.zorder_key`` for multi-column clustering).
    """
    head = table.head_version()
    if head == 0:
        raise ValueError("compact on an empty table")
    snap = table._load_snapshot(head)
    small = [fs for fs in snap.files if fs.rows < small_file_rows]
    carried = [fs for fs in snap.files if fs.rows >= small_file_rows]
    if len(small) < 2:
        return head  # nothing to gain
    df = _read_parquet(table.spark, [fs.path for fs in small])
    total = sum(fs.rows for fs in small)
    n_out = max(1, total // small_file_rows + (total % small_file_rows > 0))
    if sort_col is not None:
        df = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(
            sort_col
        )
    else:
        df = df.coalesce(n_out)
    new_files = table._write_files(df)
    table._fault("compact:post_write_files")
    return table._advance("compact", carried + new_files, base=head)


def read_as_of(table: LakeTable, ts: float) -> DataFrame:
    """Time travel by wall-clock: read the newest snapshot committed
    at-or-before ``ts`` (epoch seconds) — manifest metadata only."""
    best = None
    for v in table.snapshots():
        snap = table._load_snapshot(v)
        if snap.ts <= ts and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(f"no snapshot at or before {ts}")
    return table.read(version=best)


def table_changes(
    table: LakeTable, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change data feed between two snapshots: every row added or
    removed, tagged ``_change_type`` ('insert' | 'delete'); an update
    (merge) appears as delete+insert of the two row images — the
    Delta CDF contract, reconstructed from immutable snapshots.

    Scale shape: files carried UNCHANGED between the versions are
    excluded by manifest diff before any data is read — the EXCEPT
    ALL diff runs only over files the interval actually rewrote or
    added, so cost tracks the churn, not the table."""
    from pyspark.sql import functions as F

    to_v = table.head_version() if to_version is None else to_version
    old_files = {
        fs.path for fs in table._load_snapshot(from_version).files
    } if from_version > 0 else set()
    new_files = {fs.path for fs in table._load_snapshot(to_v).files}
    added = sorted(new_files - old_files)
    removed = sorted(old_files - new_files)

    spark = table.spark
    if not added and not removed:
        empty = table.read(version=to_v).limit(0)
        return empty.withColumn("_change_type", F.lit("insert")).limit(0)
    reads = []
    if added:
        reads.append(
            _read_parquet(spark, added).withColumn("__side", F.lit(1))
        )
    if removed:
        reads.append(
            _read_parquet(spark, removed).withColumn("__side", F.lit(-1))
        )
    u = reads[0]
    for r in reads[1:]:
        u = u.unionByName(r)
    cols = [c for c in u.columns if c != "__side"]
    # net row-image delta: +n inserts / -n deletes per distinct row
    net = u.groupBy(*cols).agg(F.sum("__side").alias("__net")).filter(
        F.col("__net") != 0
    )
    return net.select(
        *cols,
        F.when(F.col("__net") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("_change_type"),
        F.abs("__net").alias("_change_copies"),
    )


def history(table: LakeTable) -> list[dict]:
    """DESCRIBE HISTORY: one dict per snapshot (version, commit ts,
    mode, file/row totals, app metadata) — manifest metadata only,
    newest first."""
    out = []
    for v in sorted(table.snapshots(), reverse=True):
        snap = table._load_snapshot(v)
        out.append(
            {
                "version": snap.version,
                "ts": snap.ts,
                "mode": snap.mode,
                "n_files": len(snap.files),
                "n_rows": sum(fs.rows for fs in snap.files),
                "app_meta": snap.app_meta,
            }
        )
    return out


def orphan_files(table: LakeTable) -> list[str]:
    """Data files on disk referenced by NO snapshot — crash debris from
    a write that died before its manifest landed (the manifest write is
    the commit point, so such files are invisible but billable). Safe
    to delete; ``expire_snapshots`` never sees them because it walks
    manifests. Returns sorted paths; deletion stays the caller's call
    (mirrors Delta VACUUM's dry run)."""
    referenced = {
        os.path.realpath(fs.path)
        for v in table.snapshots()
        for fs in table._load_snapshot(v).files
    }
    found = []
    for dirpath, _dirnames, filenames in os.walk(table.root):
        if _MANIFEST_DIR in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                if os.path.realpath(p) not in referenced:
                    found.append(p)
    return sorted(found)
