"""Incremental extract transform (SURVEY §2.3 J1-J5, §2.8).

Re-expresses the reference's embedded T-SQL extract
(Get-BackupHistoryToETL.ps1:22-75) as one declarative DataFrame plan
for the whole fleet. The reference runs that query once per source
server inside a sequential loop (Invoke-SQLBackupHistoryETL.ps1); the
engine instead tags each server's six msdb tables with a server index
(``_src``), unions them table by table, and runs every join and the
file-list aggregation ONCE with ``_src`` in every key. The plan's size,
its broadcast exchanges and therefore its Spark job count do not grow
with the number of servers.

- Per server (:func:`project_source`): each table cut to the columns
  the extract reads — exactly its declared schema (schema.py), up-cast
  to the declared types so the fleet union is type-stable — plus
  ``_src``.
  P4, the watermark predicate backup_finish_date >= wm − 5 min (the
  replay buffer, Get-BackupHistoryToETL.ps1:20), is applied to that
  server's backupset FIRST so Catalyst pushes it into the scan (JDBC
  pushdown in production, parquet row-group skipping locally).
- J1: backupset ⋈ backupmediafamily on media_set_id (1 set : N stripe
  files) — inner join.
- J2-J4: AG-name resolution via sys.databases → replica_states
  (is_local=1) → availability_groups; all LEFT joins, all broadcast
  (small dimension side).
- J5: the correlated OUTER APPLY + FOR JSON PATH becomes
  group-by(_src, backup_set_id) + to_json(collect_list(struct)) + LEFT
  join — de-correlated, set-based (functions/jsonfns.py).
- CASE type map D/I/L → Full/Diff/Log; bytes→MB with
  truncation-toward-zero (T-SQL convert(bigint, numeric) semantics,
  Get-BackupHistoryToETL.ps1:31-33,42-43).

The reference's trailing ORDER BY backup_finish_date is dropped: global
sort buys nothing here — ordering only matters at sink-dedup, which is
key-based (SURVEY §2.9 "Ordered replay").
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import schema
from ..functions.jsonfns import dbfiles_to_json_agg
from .readers import SourceTables

#: Get-BackupHistoryToETL.ps1:20 — "Add a small buffer to fix missing rows"
REPLAY_BUFFER_MINUTES = 5

#: Server-index tag carried through every join and group key of the
#: fleet plan; msdb ids (media_set_id, backup_set_id, database_id,
#: group_id) are only unique within one server.
SRC = "_src"


#: The 18 extract columns as SQL text (Get-BackupHistoryToETL.ps1:30-49),
#: parsed on the JVM in one call instead of a py4j round-trip per
#: Column builder call.
_EXTRACT_COLUMNS = [
    "`database_name`",
    # CASE s.type WHEN 'D' Full WHEN 'I' Diff WHEN 'L' Log (no ELSE → NULL)
    "CASE `type` WHEN 'D' THEN 'Full' WHEN 'I' THEN 'Diff' WHEN 'L' THEN 'Log' END"
    " AS `BackupType`",
    "`physical_device_name`",
    "`backup_start_date`",
    "`backup_finish_date`",
    "`server_name`",
    "`_ag_name` AS `ag_name`",
    "`recovery_model`",
    "`first_lsn`",
    "`last_lsn`",
    # convert(bigint, backup_size / 1048576): T-SQL divides the numeric
    # then truncates toward zero on convert; sizes are non-negative so
    # floor == truncation.
    "CAST(FLOOR(`backup_size` / 1048576) AS BIGINT) AS `UncompressedSizeMB`",
    "CAST(FLOOR(`compressed_backup_size` / 1048576) AS BIGINT) AS `CompressedSizeMB`",
    "`is_copy_only`",
    "`encryptor_type`",
    "`key_algorithm`",
    "`device_type`",
    "`position`",
    "`DBFileInformation`",
]


def _cut(df: DataFrame, declared: StructType, idx: int) -> DataFrame:
    """The declared columns in declared order, tagged. ``DataFrame.to``
    drops extra columns and up-casts safely, and raises at once on a
    type that cannot be up-cast; it would fill a missing column with
    NULL, so a missing column raises here first."""
    have = {c.lower() for c in df.columns}
    missing = [f.name for f in declared if f.name.lower() not in have]
    if missing:
        raise ValueError(f"source table lacks column(s) {missing}")
    nullable = StructType([StructField(f.name, f.dataType, True) for f in declared])
    return df.to(nullable).withColumn(SRC, F.lit(idx))


def project_source(
    src: SourceTables,
    idx: int,
    last_etl_datetime: dt.datetime | None = None,
    replay_buffer_minutes: int = REPLAY_BUFFER_MINUTES,
) -> SourceTables:
    """One server's six tables cut to what the extract reads, tagged
    ``_src = idx``, its watermark filter on backupset. A table that
    lacks a column, or has a type that cannot be up-cast, raises here —
    per server, before anything is unioned."""
    s = src.backupset
    if last_etl_datetime is not None:
        wm = last_etl_datetime - dt.timedelta(minutes=replay_buffer_minutes)
        s = s.filter(F.col("backup_finish_date") >= F.lit(wm))
    return SourceTables(
        backupset=_cut(s, schema.BACKUPSET, idx),
        backupmediafamily=_cut(src.backupmediafamily, schema.BACKUPMEDIAFAMILY, idx),
        backupfile=_cut(src.backupfile, schema.BACKUPFILE, idx),
        databases=_cut(src.databases, schema.DATABASES, idx)
        .withColumnRenamed("name", "database_name"),
        # J3's literal pushed into the build side
        replica_states=_cut(src.replica_states, schema.REPLICA_STATES, idx)
        .filter("is_local = true")
        .drop("is_local"),
        availability_groups=_cut(src.availability_groups, schema.AVAILABILITY_GROUPS, idx)
        .withColumnRenamed("name", "_ag_name"),
    )


def extract_fleet(projected: list[SourceTables]) -> DataFrame:
    """The 18-column extract (Get-BackupHistoryToETL.ps1:30-49) over
    every server at once. ``projected``: :func:`project_source` outputs
    with distinct indexes (at least one).

    Includes device_type / position / DBFileInformation — the reference
    loader drops them by accident (proc param mismatch, SURVEY §2.11.1);
    the engine loads all 18 on purpose because the restore-script
    generator depends on them.
    """

    def union(name: str) -> DataFrame:
        # every projection has its declared column order: positional union
        return reduce(DataFrame.union, [getattr(p, name) for p in projected])

    joined = (
        union("backupset")
        .join(union("backupmediafamily"), [SRC, "media_set_id"], "inner")
        .join(F.broadcast(union("databases")), [SRC, "database_name"], "left")
        .join(F.broadcast(union("replica_states")), [SRC, "database_id"], "left")
        .join(F.broadcast(union("availability_groups")), [SRC, "group_id"], "left")
        .join(
            dbfiles_to_json_agg(union("backupfile"), keys=[SRC, "backup_set_id"]),
            [SRC, "backup_set_id"],
            "left",
        )
    )

    return joined.selectExpr(*_EXTRACT_COLUMNS)


def extract_backup_history(
    src: SourceTables,
    last_etl_datetime: dt.datetime | None = None,
    replay_buffer_minutes: int = REPLAY_BUFFER_MINUTES,
) -> DataFrame:
    """Single-server extract: the fleet plan over a fleet of one."""
    return extract_fleet(
        [project_source(src, 0, last_etl_datetime, replay_buffer_minutes)]
    )
