"""Scratch state of the registry queries, owned in one place:

- scratch dirs (``scratch_dir``): a fresh temp dir per call, removed
  at interpreter exit — streaming checkpoints, state roots, tables a
  query mutates;
- fixture dirs (``memo_dir``): a dir built once per (session, sf_dir,
  kind) and shared by every query that reads it — lakehouse tables,
  storage layouts, the flush sentinel;
- feeds (``materialize_feed``): the fixture dirs that replay a
  deterministic DataFrame as N files for a file stream (N files →
  several micro-batches under ``maxFilesPerTrigger``). The feed
  CONTENTS differ per family; each family supplies only its
  derivation.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_DIRS: dict[tuple, str] = {}


def scratch_dir(prefix: str) -> str:
    """A new temp dir, removed when the interpreter exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def memo_dir(spark, sf_dir: str, kind: str, build) -> str:
    """The dir ``build(dir)`` fills, built once per (session, sf_dir,
    kind) and reused while it exists. The dir is remembered only after
    ``build`` returns, so a build that raised is redone by the next
    call instead of being handed out half-written. applicationId, not
    id(spark): id() values are recycled after GC, which could hand a
    new session a stale dir."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    d = _DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = scratch_dir(f"{kind}_")
        build(d)
        _DIRS[key] = d
    return d


def materialize_feed(spark, sf_dir: str, kind: str, build,
                     files: int | None = 8, fmt: str = "json") -> str:
    """``build(spark, sf_dir) -> DataFrame``, written once per
    (session, sf_dir, kind) as ``files`` files (None = one per core,
    so the file-stream source's task-per-file parallelism matches the
    cluster); ``fmt`` is "json" (JSON-lines) or "text" (a single
    pre-serialized ``value`` column). Returns the directory, shared by
    every query replaying the same feed."""

    def write(d: str) -> None:
        n = files if files is not None else (
            spark.sparkContext.defaultParallelism
        )
        writer = build(spark, sf_dir).repartition(n).write.mode("overwrite")
        getattr(writer, fmt)(d)

    return memo_dir(spark, sf_dir, kind, write)
