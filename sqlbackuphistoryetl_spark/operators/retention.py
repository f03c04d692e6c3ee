"""Retention cleanup (SURVEY §2.1 S6 — Utility.CleanupSQLBackupHistoryConsolidated,
sql:398-423).

Reference: cutoff = max(backup_start_date) older than now-retention,
then batched ``delete top(500)`` until empty (a lock-pressure tactic —
no Spark analog needed). Spark has no in-place delete: the engine
rewrites only the *affected date partitions* (filter + swap). Because
the sink is partitioned by ``backup_date`` (operators/merge.py), at
scale this touches exactly the partitions older than the cutoff — the
analog of the reference's index on backup_start_date (sql:39) — and
most old partitions are pure directory drops with zero data rewritten.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..schema import CONSOLIDATED
from ..sources.readers import read_consolidated
from .merge import PARTITION_COL


def retention_cutoff(
    df: DataFrame,
    retention_days: int = 180,
    now: dt.datetime | None = None,
) -> dt.datetime | None:
    """max(backup_start_date) among rows older than now - retention_days
    (sql:406-408). None when nothing is old enough."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    threshold = now - dt.timedelta(days=retention_days)
    row = (
        df.filter(F.col("backup_start_date") < F.lit(threshold))
        .agg(F.max("backup_start_date").alias("cutoff"))
        .first()
    )
    return row["cutoff"] if row else None


def _partition_dates(spark: SparkSession, target_path: str) -> list[dt.date]:
    """Partition values from a Hadoop FS directory listing — works on
    any supported filesystem scheme, not just local disk."""
    out = []
    for name in fsutil.list_child_names(spark, target_path):
        if not name.startswith(f"{PARTITION_COL}="):
            continue
        try:
            out.append(dt.date.fromisoformat(name.split("=", 1)[1]))
        except ValueError:
            continue
    return sorted(out)


def apply_retention(
    spark: SparkSession,
    target_path: str,
    retention_days: int = 180,
    now: dt.datetime | None = None,
) -> int:
    """Delete rows with backup_start_date < cutoff; returns rows deleted.

    Partition-pruned: dates strictly before the cutoff date are plain
    directory drops (no data read); only the single boundary partition
    (cutoff's own date) is rewritten through a temp dir + swap. Every
    read declares the sink's schema (schema.CONSOLIDATED_SINK; a
    partition directory holds CONSOLIDATED), so none runs a
    footer-inference job and the rewrite keeps every column and type.
    """
    df = read_consolidated(spark, target_path)
    cutoff = retention_cutoff(df, retention_days, now)
    if cutoff is None:
        return 0
    cutoff_date = cutoff.date()

    root = target_path.rstrip("/")
    deleted = 0

    # 1. whole-partition drops (date < cutoff date): ONE count job over
    # every doomed partition together (count(*) on parquet reads only
    # row-group metadata, no data pages), then FS deletes. A per-
    # partition read.count() loop is O(partitions) Spark jobs — at years
    # of daily partitions that's hundreds of driver round-trips for
    # bookkeeping (VERDICT r2 #5).
    doomed_dirs = [
        f"{root}/{PARTITION_COL}={d.isoformat()}"
        for d in _partition_dates(spark, target_path)
        if d < cutoff_date
    ]
    if doomed_dirs:
        deleted += spark.read.schema(CONSOLIDATED).parquet(*doomed_dirs).count()
        for part_dir in doomed_dirs:
            fsutil.delete(spark, part_dir)

    # 2. boundary partition: rewrite rows >= cutoff timestamp
    boundary = f"{root}/{PARTITION_COL}={cutoff_date.isoformat()}"
    if fsutil.exists(spark, boundary):
        part = spark.read.schema(CONSOLIDATED).parquet(boundary)
        doomed = part.filter(F.col("backup_start_date") < F.lit(cutoff)).count()
        if doomed > 0:
            keep = part.filter(F.col("backup_start_date") >= F.lit(cutoff))
            tmp = f"{root}/_tmp_retention_{uuid.uuid4().hex}"
            keep.write.mode("overwrite").parquet(tmp)
            fsutil.delete(spark, boundary)
            fsutil.rename(spark, tmp, boundary)
            deleted += doomed
    return deleted


def compact_partitions(
    spark: SparkSession,
    target_path: str,
    max_files_per_partition: int = 4,
) -> int:
    """Sink maintenance: rewrite date partitions whose file count
    exceeds the threshold (years of small incremental appends leave
    every daily partition with one file per run — the classic
    small-files decay). Each doomed partition is coalesced and swapped
    atomically via temp-dir + rename, the same pattern as the
    retention boundary rewrite. Returns the number of partitions
    compacted; partitions already within budget are not touched (no
    read, no write).
    """
    root = target_path.rstrip("/")
    compacted = 0
    for d in _partition_dates(spark, target_path):
        part_dir = f"{root}/{PARTITION_COL}={d.isoformat()}"
        n_files = sum(
            1 for n in fsutil.list_child_names(spark, part_dir)
            if n.startswith("part-")
        )
        if n_files <= max_files_per_partition:
            continue
        part = spark.read.parquet(part_dir)
        tmp = f"{root}/_tmp_compact_{uuid.uuid4().hex}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        fsutil.delete(spark, part_dir)
        fsutil.rename(spark, tmp, part_dir)
        compacted += 1
    return compacted
