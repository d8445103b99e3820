"""Session scratch directories (sources/scratch.py) are removed when the
process that asked for them exits, and a directory of another session
is left alone."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

# Runs one scratch-writing query in a fresh process and reports what
# its scratch prefix held just before the process exits.
SCRIPT = """
import os, sys, tempfile
from accident_prediction_montreal_spark.plans import REGISTRY
from accident_prediction_montreal_spark.session import get_session

spark = get_session("scratch-exit", master="local[1]", shuffle_partitions=1)
assert REGISTRY["x27_csv_roundtrip"].fn(spark, sys.argv[1]).collect()
print(len(os.listdir(os.path.join(tempfile.gettempdir(), "spark_graft_csvsink"))))
"""


def test_session_dirs_removed_at_exit(spark, tmp_path):
    from accident_prediction_montreal_spark.sources.registry import TABLES

    sf_dir = tmp_path / "sf"
    rows = [(i, f"doc {i} text", "en", f"s{i % 3}", 10) for i in range(30)]
    spark.createDataFrame(rows, TABLES["documents"]).write.parquet(
        str(sf_dir / "documents.parquet")
    )
    tmp = tmp_path / "tmp"
    other = tmp / "spark_graft_csvsink" / "othersession"
    other.mkdir(parents=True)
    (other / "part-0.csv").write_text("written by another session\n")

    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")]),
        SPARK_DRIVER_MEMORY="1g",
    )
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(sf_dir)],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.split()[-1] == "2"  # its own directory + the planted one
    left = sorted(p.name for p in (tmp / "spark_graft_csvsink").iterdir())
    assert left == ["othersession"]
    assert (other / "part-0.csv").read_text() == "written by another session\n"


def test_fixture_dir_removes_stale_siblings(tmp_path, monkeypatch):
    import tempfile

    from accident_prediction_montreal_spark.sources.scratch import fixture_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf_a, sf_b = tmp_path / "a", tmp_path / "b"
    for sf in (sf_a, sf_b):
        sf.mkdir()
        (sf / "events.parquet").write_bytes(b"v1")
    _, old_a = fixture_dir("2batch", str(sf_a))
    _, kept_b = fixture_dir("2batch", str(sf_b))
    for fix in (old_a, kept_b):  # what a fixture writer leaves
        os.makedirs(fix, exist_ok=True)
        pathlib.Path(fix, "a_early.parquet").write_bytes(b"rows")
    unrecorded = tmp_path / "tmp" / "spark_graft_2batch" / "norecord"
    unrecorded.mkdir(parents=True)

    src = sf_a / "events.parquet"
    src.write_bytes(b"v2, regenerated")
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, new_a = fixture_dir("2batch", str(sf_a))

    assert new_a != old_a
    assert not os.path.exists(old_a)
    assert os.path.isdir(new_a) and os.path.isdir(kept_b)
    assert unrecorded.is_dir()
