"""Lake maintenance: small-file compaction for partitioned Parquet sinks.

Streaming sinks append per micro-batch, so every lake partition
accumulates one small file per trigger — at 100 TB that's millions of
KB-sized files, and scan cost becomes dominated by file-open overhead
and driver-side listing instead of bytes. Compaction rewrites each
partition's file set into a bounded number of right-sized files.

Reference analog: the S3 lake the pipeline writes (lamda.py:474-479)
has exactly this failure mode — one object per Lambda invocation — and
no compactor; Athena/Glue users pay it on every query. Here it's a
first-class operator.

Design notes for scale:
- Compaction is per-partition-directory and embarrassingly parallel
  ACROSS partitions; this implementation drives partitions from the
  directory listing and rewrites each with a targeted ``coalesce`` (a
  narrow, shuffle-free repack of that partition's scan splits). It
  schedules one job per partition from the driver, which is right for
  the few hundred partitions a loader's sinks hold.
- Rewrite-then-swap: the new files land in a HIDDEN (dot-prefixed)
  sibling dir — invisible to Spark's listing while staged — and the
  swap is two directory renames, so a reader never sees a
  half-compacted partition (parquet readers list files once at plan
  time; POSIX rename keeps already-planned scans readable via the old
  inodes).
- Idempotent: partitions already at/below the target file count are
  skipped (listed in the report with ``action='skip'``).
- Object stores: S3-style backends have no atomic directory rename —
  there this module's swap degrades to copy+delete and the correct
  production answer is a manifest-based table format (Delta/Iceberg/
  Hudi), whose commit protocol is exactly the logical swap performed
  here at the filesystem level. The per-partition coalesce plan
  carries over unchanged.
- ``vacuum_lake`` removes the scratch dirs an interrupted swap leaves.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

TARGET_FILES_PER_PARTITION = 1


def _leaf_partition_dirs(root: str) -> list[str]:
    """Deepest directories under ``root`` that directly contain parquet
    part files (hive-style key=value layout at any nesting depth).
    Hidden dirs (``.``/``_`` prefixed — swap scratch space) are skipped,
    mirroring Spark's own listing rules."""
    leaves = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return sorted(leaves)


def _hidden_sibling(path: str, suffix: str) -> str:
    """A scratch-dir path next to ``path`` whose basename is dot-prefixed
    so Spark's file listing (and ours) never treats it as data."""
    base = path.rstrip("/")
    parent, name = os.path.split(base)
    return os.path.join(parent, "." + name + suffix)


def _swap_dirs(live: str, staged: str) -> None:
    """Atomically-enough replace ``live`` with ``staged``: two renames,
    so a reader sees either the old file set or the new one, never a
    half-written mix. Readers that already planned their scan hold the
    old inodes (POSIX rename keeps them readable)."""
    old = _hidden_sibling(live, "._old")
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old)


def compact_lake(
    spark: SparkSession,
    root: str,
    target_files: int = TARGET_FILES_PER_PARTITION,
) -> list[dict]:
    """Compact every leaf partition of a partitioned Parquet lake down
    to ``target_files`` files. Returns a per-partition report:
    ``[{partition, files_before, files_after, action}, ...]``.

    Row-preserving by construction (rewrite is a plain scan →
    coalesce → write of the same rows; the swap is atomic-ish via
    rename). The per-partition scan carries no partition columns (they
    live in the directory name), so the rewrite round-trips the data
    files byte-compatibly.
    """
    report: list[dict] = []
    for leaf in _leaf_partition_dirs(root):
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        if len(files) <= target_files:
            report.append(
                {
                    "partition": os.path.relpath(leaf, root),
                    "files_before": len(files),
                    "files_after": len(files),
                    "action": "skip",
                }
            )
            continue
        df = spark.read.parquet(leaf)
        tmp = _hidden_sibling(leaf, "._compacting")
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        # swap: the staged dir replaces the partition in one rename, so
        # a crash or concurrent reader never observes a partial set.
        _swap_dirs(leaf, tmp)
        moved = sum(1 for f in os.listdir(leaf) if f.endswith(".parquet"))
        report.append(
            {
                "partition": os.path.relpath(leaf, root),
                "files_before": len(files),
                "files_after": moved,
                "action": "compacted",
            }
        )
    return report


_SCRATCH_SUFFIXES = ("._old", "._compacting")


def vacuum_lake(root: str, dry_run: bool = False) -> list[str]:
    """Remove crash debris: hidden scratch dirs an interrupted
    compaction left behind (``.*._old``, ``.*._compacting``). Safe at
    any time — live readers never reference these dirs (Spark's listing
    skips dot-prefixed names; the swap protocol only renames
    fully-written dirs into visible paths).

    ``dry_run=True`` lists without deleting. Returns the affected
    paths. The table-format analog is ``VACUUM``/expire-snapshots.
    """
    debris: list[str] = []
    for dirpath, dirnames, _files in os.walk(root):
        for d in list(dirnames):
            if d.startswith(".") and d.endswith(_SCRATCH_SUFFIXES):
                debris.append(os.path.join(dirpath, d))
                dirnames.remove(d)  # don't descend
    if not dry_run:
        for p in debris:
            shutil.rmtree(p, ignore_errors=True)
    return sorted(debris)
