"""Small-files compaction for partitioned parquet tables.

Incremental sinks (per-microbatch streaming writes, per-day pipeline
appends) fragment a table into many small files; at 100 TB the file-open
and listing overhead dominates scans long before the bytes do. Compaction
rewrites each partition's fragments into few right-sized files and
re-sorts rows within files on the clustering columns so parquet row-group
min/max statistics stay tight (data skipping;
tests/test_formats.py::TestCompaction checks each file comes out
sorted).

Crash safety: the compacted copy is written to a sibling staging
directory first, and source partitions are swapped only after the whole
staged write is durable. Partitions NOT selected for compaction are
never touched. For a selected partition the swap is two renames
(current -> hidden .bak, staged -> current, delete .bak), so a crash
leaves either the old or the new directory on disk; the backup name is
dot-prefixed so Spark's listing never reads it as a partition, and
``recover_compaction`` repairs both crash windows idempotently
(restore an orphaned backup / drop a stale one). The ETL pipeline
(plans/pipeline.py) publishes its staged days through the same
``staging_dir`` / ``swap_partition`` / ``recover_compaction`` protocol.
(An earlier in-place design held the only copy of the
rewritten rows in executor block storage while dynamic overwrite deleted
the originals; an executor loss mid-commit could drop a partition for
good.) On object stores without atomic rename, point ``path`` at a
transactional table format instead.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _bak_path(dest: str) -> str:
    """Backup sibling for a partition dir mid-swap. DOT-PREFIXED on the
    leaf name: Spark's file listing skips hidden files/dirs, so a crash
    that leaves the backup behind can never pollute reads. (A plain
    ``date=X.compact-bak`` sibling WOULD be picked up by partition
    discovery as a bogus partition value — observed.)"""
    parent, leaf = os.path.split(dest.rstrip("/"))
    return os.path.join(parent, f".{leaf}.compact-bak")


def staging_dir(path: str) -> str:
    """A fresh hidden sibling of the table at ``path`` to stage a write
    in: on the same filesystem, so publishing a staged partition is a
    rename, not a copy; dot-prefixed, so no listing of the parent reads
    it; named so that ``recover_compaction`` removes it if a crash
    leaves it behind."""
    parent, base = os.path.split(os.path.abspath(path.rstrip("/")))
    return os.path.join(parent, f".{base}.compact-{uuid.uuid4().hex[:8]}")


def swap_partition(src: str, dest: str) -> None:
    """Publish the staged partition directory ``src`` as ``dest``: two
    renames (current -> hidden backup, staged -> current), then drop the
    backup. A crash leaves the old directory, the new one, or a backup
    that ``recover_compaction`` restores."""
    bak = _bak_path(dest)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    if os.path.exists(bak):
        shutil.rmtree(bak)
    had_old = os.path.exists(dest)
    if had_old:
        os.rename(dest, bak)
    os.rename(src, dest)
    if had_old:
        shutil.rmtree(bak)


def recover_compaction(path: str) -> dict[str, list[str]]:
    """Repair the two crash windows a killed compaction or pipeline
    publish can leave.

    - Backup present AND destination present: the swap completed but
      cleanup didn't — delete the stale backup.
    - Backup present, destination MISSING: crashed between the two
      renames — restore the backup (the only copy of that partition).
    - Leftover hidden ``.{table}.compact-*`` staging dirs: remove.

    Idempotent; safe to run before any compaction or read. Returns the
    actions taken, for the caller's log."""
    restored: list[str] = []
    cleaned: list[str] = []
    for cur, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.startswith(".") and d.endswith(".compact-bak"):
                bak = os.path.join(cur, d)
                dest = os.path.join(cur, d[1:-len(".compact-bak")])
                if os.path.exists(dest):
                    shutil.rmtree(bak)
                    cleaned.append(os.path.relpath(bak, path))
                else:
                    os.rename(bak, dest)
                    restored.append(os.path.relpath(dest, path))
                dirs.remove(d)
    parent, base = os.path.split(os.path.abspath(path.rstrip("/")))
    for d in os.listdir(parent) if os.path.isdir(parent) else []:
        if d.startswith(f".{base}.compact-"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
            cleaned.append(d)
    return {"restored": restored, "cleaned": cleaned}


def _leaf_partition_dirs(root: str) -> list[str]:
    """Relative paths of directories under ``root`` that hold data files."""
    leaves = []
    for cur, _dirs, files in os.walk(root):
        if any(not f.startswith(("_", ".")) for f in files):
            rel = os.path.relpath(cur, root)
            if rel != ".":
                leaves.append(rel)
    return leaves


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    where: str | None = None,
) -> int:
    """Rewrite fragmented partitions of the table at ``path``.

    ``where`` (SQL over the partition columns, e.g. "date >= '2024-01-01'")
    limits the rewrite to recent partitions — the steady-state pattern:
    compact yesterday's streaming output, leave history alone. Returns the
    number of rows rewritten.
    """
    import glob as _glob

    if not _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        # empty table (e.g. an empty day's write produced no partitions):
        # nothing to compact, and schema inference would fail (round-6
        # empty-input sweep)
        return 0
    df = spark.read.parquet(path)
    if where:
        # the predicate must touch only partition columns: a data-column
        # predicate would silently DROP the non-matching rows of every
        # rewritten partition (the swap replaces the whole partition dir)
        try:
            # analyze against a local relation holding ONLY the partition
            # columns (a projection of the real table would still resolve
            # data columns through the child via ResolveMissingReferences)
            from pyspark.sql.types import StructType

            part_schema = StructType(
                [f for f in df.schema.fields if f.name in partition_cols]
            )
            spark.createDataFrame([], part_schema).where(where).schema
        except Exception as e:
            raise ValueError(
                f"compaction `where` must reference only partition columns "
                f"{partition_cols}: {e}"
            ) from e
        df = df.where(where)
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if cluster_cols:
        # partition columns lead: the partitioned writer sorts each task
        # by them, and Catalyst drops a sort on the cluster columns alone
        # beneath that one
        out = out.sortWithinPartitions(*partition_cols, *cluster_cols)

    staging = staging_dir(path)
    try:
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", str(max_records_per_file))
            .partitionBy(*partition_cols)
            .parquet(staging)
        )
        for rel in _leaf_partition_dirs(staging):
            swap_partition(os.path.join(staging, rel), os.path.join(path, rel))
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    back = spark.read.parquet(path)
    if where:
        back = back.where(where)
    return back.count()
