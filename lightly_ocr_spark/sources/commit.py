"""The on-disk commit protocol of the jobs: atomic JSON markers, the
crash-safe directory swap and the dedup-index read.

All of it uses driver-local filesystem calls, so every output path must
be local: `os.makedirs("s3a://b/out")` would silently create a relative
local `s3a:/b/out` directory, which `require_local` turns into an error.

POSIX cannot exchange two directories in one step, so `swap_dir` commits
with rename(out -> .replaced) + rename(.inprogress -> out).  A crash
between the two leaves the original at `<out>.replaced`, and
`recover_interrupted_swap` restores it; every reader and appender of a
swappable dataset calls it first.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from urllib.parse import urlsplit

from pyspark.sql import DataFrame


def require_local(*paths: str | None) -> None:
    """Raise ValueError for a path with a URI scheme (s3a://, hdfs://)."""
    for p in paths:
        if p is not None and urlsplit(p).scheme:
            raise ValueError(
                f"{p!r} has a URI scheme; job outputs and indexes must be "
                "driver-local paths (the commit protocol uses local "
                "filesystem calls)"
            )


def atomic_json(path: str, payload: dict) -> None:
    """Readers see the old file or the whole new one, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, path)


def recover_interrupted_swap(path: str) -> bool:
    """Restore `path` from its backup when a swap crashed between its two
    renames.  Returns True when a restore happened."""
    backup = path.rstrip("/") + ".replaced"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
        return True
    return False


@contextmanager
def swap_dir(out_dir: str):
    """Yield an empty staging dir and swap it in as `out_dir` when the
    block exits normally; when it raises, drop the staging dir and leave
    `out_dir` untouched."""
    tmp = out_dir.rstrip("/") + ".inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(out_dir):
        backup = out_dir.rstrip("/") + ".replaced"
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(out_dir, backup)
        os.rename(tmp, out_dir)
        shutil.rmtree(backup, ignore_errors=True)
    else:
        os.rename(tmp, out_dir)


def read_index(spark, path: str) -> DataFrame | None:
    """A persisted dedup index dataset, or None when none exists yet (the
    first batch).  An interrupted swap is recovered first, or a stranded
    index would read as missing and re-admit every duplicate.  Only a
    missing path means "first batch", and it is tested on the filesystem
    before any read, so Spark logs no failed read for it.  Every read
    error propagates, or dedup would silently degrade to intra-batch."""
    recover_interrupted_swap(path)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)
