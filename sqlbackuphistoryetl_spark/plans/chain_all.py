"""Restore planning as one windowed plan over ``(database_name, entity)``.

The reference procedure (Utility.GenerateRestoreScript, sql:427-1316)
answers one question: which Full → Diff → Log chain restores a database
to time T. ``chain_files`` answers it for every (database, entity) of a
frame at once, with one scan and one shuffle, as SQL text:

- ``_full``: the latest Full (by last LSN) that started at or before T
  on a disk or URL device (``device_type`` 2 or 9), with its copy-only
  flag; a NULL ``is_copy_only`` counts as not copy-only, as the
  reference's ``= 1`` test does;
- ``_diff``: unless that Full is copy-only, the latest Diff past it that
  started at or before T;
- the threshold ``coalesce(_diff, _full.lsn)``;
- ``_tail``: the first Log past the threshold that started after T
  (ordered by start, then last LSN).

It keeps every file row of every chosen step: the Full's stripes, the
Diff's stripes, and the Logs past the threshold that started at or
before T or are the tail (all its stripes; the reference's ``top (1)``
keeps one arbitrary stripe). Each window reads the one before it, so
they sit in three projections, all over the same partitioning.

``restore_plan_all`` runs it with the entity ``coalesce(ag_name,
server_name)``: an AG database's chain belongs to the AG, whichever
replica took each backup. It collapses stripes into one step per backup
and numbers the steps. Every stage groups by a superset of the window
keys, so the whole plan needs one exchange. ``generate_restore_script``
runs the same planner over one scoped database with a constant entity.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The entity that owns a chain in the fleet plan.
AG_ENTITY = "coalesce(ag_name, server_name)"

#: The columns the fleet plan reads.
PLAN_COLS = (
    "database_name", "BackupType", "physical_device_name", "device_type",
    "backup_start_date", "first_lsn", "last_lsn", "is_copy_only", "position",
)

_W = "OVER (PARTITION BY database_name, entity)"
_FULL = "BackupType = 'Full' AND device_type IN (2, 9) AND backup_start_date <= _t"
_DIFF = "BackupType = 'Diff' AND backup_start_date <= _t"
_THR = "coalesce(_diff, _full.lsn)"

# Single-quoted literals only: a double-quoted one is an identifier under
# spark.sql.ansi.doubleQuotedIdentifiers. T arrives as the column _t.
_WINDOWS = (
    f"max(CASE WHEN {_FULL} THEN named_struct('lsn', last_lsn, "
    f"'copy', coalesce(is_copy_only, false)) END) {_W} AS _full",
    f"max(CASE WHEN {_DIFF} AND last_lsn > _full.lsn AND NOT _full.copy "
    f"THEN last_lsn END) {_W} AS _diff",
    f"min(CASE WHEN BackupType = 'Log' AND backup_start_date > _t AND last_lsn > {_THR} "
    f"THEN named_struct('start', backup_start_date, 'lsn', last_lsn) END) {_W} AS _tail",
)
_KEEP = (
    f"({_FULL} AND last_lsn = _full.lsn)"
    f" OR ({_DIFF} AND last_lsn = _diff)"
    f" OR (BackupType = 'Log' AND last_lsn > {_THR} AND (backup_start_date <= _t"
    " OR (backup_start_date = _tail.start AND last_lsn = _tail.lsn)))"
)

# One step per backup: its stripes' device clauses, sorted (A6).
_DEVICES = (
    "concat_ws(', ', array_sort(collect_list(concat("
    "CASE WHEN device_type = 9 THEN 'URL = N\\'' ELSE 'DISK = N\\'' END, "
    "physical_device_name, '\\'')))) AS devices"
)
_ORDER = "CASE BackupType WHEN 'Full' THEN 0 WHEN 'Diff' THEN 1 ELSE 2 END"
_STEP = (
    "database_name", "entity",
    f"row_number() OVER (PARTITION BY database_name, entity ORDER BY {_ORDER}, last_lsn) AS seq",
    "BackupType", "first_lsn", "last_lsn", "backup_start_date", "position", "devices",
    "BackupType = 'Log' AND row_number() OVER (PARTITION BY database_name, entity "
    f"ORDER BY {_ORDER} DESC, last_lsn DESC) <= 2 AS stopat",
)

#: T for "no bound": later than any backup.
_END_OF_TIME = dt.datetime(9999, 12, 31)


def chain_files(
    df: DataFrame,
    restore_to_time: dt.datetime,
    entity_expr: str,
    cols: Sequence[str] = PLAN_COLS,
) -> DataFrame:
    """Every file row of every restore step to ``restore_to_time``, per
    (database_name, entity): ``cols`` plus ``entity``.

    ``entity_expr`` is SQL text written in code (a column expression or
    a constant), never text derived from data.
    """
    files = df.withColumn("_t", F.lit(restore_to_time)).selectExpr(
        *cols, f"{entity_expr} AS entity", "_t"
    )
    for window in _WINDOWS:
        files = files.selectExpr("*", window)
    return files.where(_KEEP).drop("_t", "_full", "_diff", "_tail")


def latest_full_all(
    consolidated: DataFrame,
    restore_to_time: dt.datetime | None = None,
) -> DataFrame:
    """All stripes of the Full each (database, entity) restores from at
    ``restore_to_time`` (at any time when omitted)."""
    return chain_files(
        consolidated, restore_to_time or _END_OF_TIME, AG_ENTITY, consolidated.columns
    ).where("BackupType = 'Full'")


def restore_plan_all(
    consolidated: DataFrame,
    restore_to_time: dt.datetime,
) -> DataFrame:
    """Point-in-time restore plan for every (database, entity).

    Output: one row per restore step —
    (database_name, entity, seq, BackupType, first_lsn, last_lsn,
     backup_start_date, position, devices, stopat) in restore order.
    Striped backups are collapsed to a single step whose ``devices``
    lists every DISK=/URL= clause (sorted — deterministic A6); STOPAT
    marks the last two Log steps.
    """
    return (
        chain_files(consolidated, restore_to_time, AG_ENTITY)
        .groupBy("database_name", "entity", "BackupType", "first_lsn", "last_lsn",
                 "backup_start_date", "position")
        .agg(F.expr(_DEVICES))
        .selectExpr(*_STEP)
    )
