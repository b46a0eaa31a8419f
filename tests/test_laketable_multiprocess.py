"""Multi-process OCC stress: two SEPARATE JVMs (two OS processes, two
SparkSessions) racing N commits each into one LakeTable root.

The single-process race test (test_laketable.py) proves the staleness
check fires; this proves the whole retry protocol CONVERGES across real
process boundaries — the manifest put (a temp file hard-linked to the
version name) is the commit point, so exactly 2N committed versions
exist afterward, every writer's rows are present (zero lost updates),
and version numbers never collide. This is the verified guarantee the
LakeTable docstring claims for concurrent writers.
"""

from __future__ import annotations

import os
import subprocess
import sys

_WRITER = '''
import sys

from financial_data_pipeline_spark import get_spark
from financial_data_pipeline_spark.sources.laketable import (
    CommitConflict,
    LakeTable,
)

root, writer_id, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark(
    app_name=f"occ-writer-{writer_id}", master="local[4]", shuffle_partitions=2
)
spark.sparkContext.setLogLevel("ERROR")
t = LakeTable(spark, root, stat_cols=["id"])
for i in range(n):
    lo = writer_id * 1_000_000 + i * 10
    df = spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v")
    for _attempt in range(200):
        try:
            t.commit(df)
            break
        except CommitConflict:
            continue  # re-derive against the new HEAD and retry
    else:
        sys.exit(2)
print("DONE", writer_id)
'''


def test_two_process_occ_commits_converge(spark, tmp_path):
    n = 4
    root = str(tmp_path / "lake")
    script = tmp_path / "occ_writer.py"
    script.write_text(_WRITER)
    import financial_data_pipeline_spark as pkg

    env = dict(os.environ)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), root, str(w), str(n)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            env=env,
        )
        for w in (1, 2)
    ]
    for p in procs:
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, out

    from financial_data_pipeline_spark.sources.laketable import LakeTable

    t = LakeTable(spark, root, stat_cols=["id"])
    # exactly N+N committed versions, consecutive, none staged/detached
    assert t.snapshots() == list(range(1, 2 * n + 1))
    assert t.head_version() == 2 * n
    assert not t._detached()
    # zero lost rows: every commit's 10 ids are in HEAD
    got = {r.id for r in t.read().select("id").collect()}
    want = {
        w * 1_000_000 + i * 10 + k
        for w in (1, 2)
        for i in range(n)
        for k in range(10)
    }
    assert got == want
    # history is append-consistent: each version adds exactly 10 rows
    counts = [t.read(version=v).count() for v in t.snapshots()]
    assert counts == [10 * (i + 1) for i in range(2 * n)]
