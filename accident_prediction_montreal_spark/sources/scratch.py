"""Scratch directories: where a query's on-disk intermediate state lives
and when it goes away. Every engine directory under the system temp dir
(``$TMPDIR`` honoured) is named here, as ``spark_graft_<prefix>/<key>``,
in one of two kinds:

* ``session_dir`` — one directory per query, dataset and Spark session,
  for queries that write shards, sinks or checkpoints and read them
  back. The key is an md5 over the dataset's real path and the Spark
  applicationId, so any dataset path (hyphens, unicode, ...) yields a
  filesystem- and SQL-identifier-safe suffix, and two concurrent
  sessions on one dataset never race on one directory. The module
  records each directory it hands out and removes them when the process
  that asked for them exits; it never touches a directory it did not
  hand out, such as one of a concurrent session.
* ``fixture_dir`` — one directory per events file, keyed by its real
  path, size and mtime: a cache of derived inputs (stream fixtures,
  backfill shards) shared by every session and kept across processes.
  Regenerated testdata gets a new key. Each fixture records its source
  identity in a ``_SOURCE`` file (Spark's file sources skip ``_``
  names); handing out a key removes the siblings of the same kind whose
  recorded source is gone or changed, and never a sibling without a
  record.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_handed_out: set[str] = set()


def _root(prefix: str, key: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}", key)


def session_dir(prefix: str, sf_dir: str) -> tuple[str, str]:
    """(scratch dir, its key) for ``prefix`` over ``sf_dir`` in the
    active session; removed when this process exits. Re-runs within a
    session reuse the directory and stay idempotent by overwriting it."""
    active = SparkSession.getActiveSession()
    app = active.sparkContext.applicationId if active else f"pid{os.getpid()}"
    token = f"{os.path.realpath(sf_dir)}\x00{app}"
    key = hashlib.md5(token.encode()).hexdigest()[:12]
    path = _root(prefix, key)
    _handed_out.add(path)
    return path, key


def _identity(src: str) -> dict:
    st = os.stat(src)
    return {"path": src, "size": st.st_size, "mtime_ns": st.st_mtime_ns}


def fixture_dir(kind: str, sf_dir: str) -> tuple[str, str]:
    """(events source file, fixture dir keyed by its path, size and mtime)."""
    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    ident = _identity(src)
    tag = hashlib.md5(f"{src}:{ident['size']}:{ident['mtime_ns']}".encode()).hexdigest()
    path = _root(kind, tag[:12])
    os.makedirs(path, exist_ok=True)
    record = os.path.join(path, "_SOURCE")
    if not os.path.exists(record):
        tmp = f"{record}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ident, f)
        os.replace(tmp, record)
    _remove_stale_fixtures(os.path.dirname(path))
    return src, path


def _remove_stale_fixtures(kind_dir: str) -> None:
    """Remove each fixture under ``kind_dir`` whose recorded source is
    gone or no longer has the recorded size and mtime."""
    for name in os.listdir(kind_dir):
        fix = os.path.join(kind_dir, name)
        try:
            with open(os.path.join(fix, "_SOURCE")) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue  # no record: not ours to judge
        try:
            stale = _identity(rec["path"]) != rec
        except FileNotFoundError:
            stale = True
        if stale:
            shutil.rmtree(fix, ignore_errors=True)


@atexit.register
def _remove_session_dirs() -> None:
    """Remove every ``session_dir`` this process handed out."""
    while _handed_out:
        shutil.rmtree(_handed_out.pop(), ignore_errors=True)
