"""Idempotent dedup-merge sink (SURVEY §2.1 S4, §2.3 J6).

The reference achieves exactly-once by blindly re-inserting a 5-minute
replay window row-by-row and letting a unique index with
``ignore_dup_key=on`` silently drop duplicates (sql:33,
Add-BackupHistoryToTarget.ps1:69-98). Parquet has no such primitive, so
the engine makes the dedup *explicit and set-based*:

    batch → dropDuplicates(KEY) → left-anti join against the sink's
    keys → append

Scale design (SURVEY §7.4.6): anti-joining against the FULL sink
history is unbounded at 100 TB. Duplicate candidates can only come from
the replay overlap, so the caller passes ``overlap_start`` and the sink
side is pruned to partitions (``backup_date``) that can contain
overlap keys — the anti-join's build side stays O(overlap), not
O(history). The sink is partitioned by ``backup_date`` (derived from
backup_start_date) which also makes retention cleanup a partition drop
(sql:39's date index analog, SURVEY §4).
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import CONSOLIDATED_KEY
from ..sources.readers import read_consolidated

PARTITION_COL = "backup_date"


def _sink_exists(spark: SparkSession, path: str) -> bool:
    """True when the sink has been written at least once. Checked via
    Hadoop FS (works for any supported filesystem, not just local) to
    avoid try/except around spark.read — a missing path is the normal
    first-run case, not an error worth a logged stack trace."""
    from .. import fsutil

    return fsutil.exists(spark, path)


def dedup_batch(batch: DataFrame, key: list[str] = CONSOLIDATED_KEY) -> DataFrame:
    """In-batch dedup on the logical key (replays + striped re-reads)."""
    return batch.dropDuplicates(key)


def _key_eq(left: DataFrame, right: DataFrame, key: list[str]):
    # physical_device_name is nullable → null-safe equality on every
    # key column (NULL device must equal NULL device, like SQL Server's
    # unique-constraint treatment of a single NULL per key slot).
    return reduce(
        lambda a, b: a & b,
        [left[k].eqNullSafe(right[k]) for k in key],
    )


def idempotent_append(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    key: list[str] = CONSOLIDATED_KEY,
    overlap_start: dt.datetime | None = None,
) -> int:
    """Dedup ``batch`` and append only rows whose key is absent from the
    sink. Returns the number of rows appended.

    ``overlap_start``: lower bound of backup_start_date for possible
    duplicates — the batch's earliest backup_start_date. When given,
    only sink partitions >= that date participate in the anti-join. A
    bound on backup_finish_date (a watermark) is NOT one: a backup that
    starts before midnight and finishes after it sits in the partition
    of its start date.
    """
    batch = dedup_batch(batch, key)
    if PARTITION_COL not in batch.columns:
        batch = batch.withColumn(PARTITION_COL, F.to_date("backup_start_date"))

    if _sink_exists(spark, target_path):
        sink_keys = read_consolidated(spark, target_path)
        if overlap_start is not None:
            # partition pruning: dup candidates only exist at/after the
            # replay-overlap start (SURVEY §7.4.6)
            sink_keys = sink_keys.filter(
                F.col(PARTITION_COL) >= F.lit(overlap_start.date())
            )
        # no dedup of the sink side: an anti-join only asks whether a
        # match exists, and a dedup would cost a shuffle stage per run
        sink_keys = sink_keys.select(*key)
        batch = batch.join(sink_keys, _key_eq(batch, sink_keys, key), "left_anti")

    # Single materialization: the appended-row count rides along the
    # write job as an Observation instead of a separate cache+count
    # pass — at scale, caching a full batch for the sake of a count is
    # a second full materialization and real memory pressure.
    obs = Observation()
    batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
    (
        batch.sortWithinPartitions("database_name", "BackupType", "last_lsn")
        .write.mode("append")
        .partitionBy(PARTITION_COL)
        .parquet(target_path)
    )
    return int(obs.get["n"])


def idempotent_merge_delta(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    key: list[str] = CONSOLIDATED_KEY,
) -> int:
    """SURVEY §2.3 J6 alternative form: the same insert-if-absent
    semantics as ``idempotent_append``, expressed as a Delta Lake
    ``MERGE ... WHEN NOT MATCHED THEN INSERT`` (the direct analog of the
    reference's ``ignore_dup_key=on`` index, sql:33) with ACID conflict
    detection instead of an anti-join against sink keys.

    Requires the ``delta-spark`` package + Delta-enabled session configs
    (``spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension``);
    this container ships neither, so the function raises a clear
    ImportError when Delta is absent. The parquet anti-join path
    (``idempotent_append``) is the default and is semantically identical
    on the logical key.
    """
    try:
        from delta.tables import DeltaTable  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - container has no delta
        raise ImportError(
            "idempotent_merge_delta requires the delta-spark package; "
            "use idempotent_append (anti-join form) on plain parquet"
        ) from exc

    batch = dedup_batch(batch, key)
    if PARTITION_COL not in batch.columns:
        batch = batch.withColumn(PARTITION_COL, F.to_date("backup_start_date"))

    if not DeltaTable.isDeltaTable(spark, target_path):
        batch.write.format("delta").partitionBy(PARTITION_COL).save(target_path)
        return batch.count()

    tgt = DeltaTable.forPath(spark, target_path)
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key)  # null-safe, like _key_eq
    (
        tgt.alias("t")
        .merge(batch.alias("s"), cond)
        .whenNotMatchedInsertAll()
        .execute()
    )
    hist = tgt.history(1).select("operationMetrics").first()
    return int(hist["operationMetrics"].get("numTargetRowsInserted", "0"))
