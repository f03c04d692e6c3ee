"""Restore-script generation — entry point 2, the flagship query
(SURVEY §3.2, Utility.GenerateRestoreScript sql:427-1316).

The chain comes from the same windowed planner as ``restore_plan_all``
(``chain_all.chain_files``): the request's scoped rows with a constant
entity, one scan and one collect of every file row of every chosen step
(Full stripes, Diff stripes, Logs including all stripes of the first Log
after T). The driver then assembles the text from those few rows, as
the reference's T-SQL control flow stitches strings:

1. FULL: its devices in device-name order; MOVE clauses from the first
   stripe's DBFileInformation JSON (path surgery).
2. DIFF: its devices in device-name order; none after a copy-only
   Full (a NULL ``is_copy_only`` is not copy-only, as the reference's
   ``= 1`` test has it).
3. LOG: one RESTORE LOG per striped backup (W2 + A6): its
   ``history_log_id`` is the minimum LogID per (first_lsn, last_lsn) and
   its devices are sorted; ordered by last_lsn, with STOPAT patched onto
   the last two (W3) when T is given.

A server-scoped request includes AG rows taken on that server, so it
filters the rows before planning rather than planning per
``coalesce(ag_name, server_name)``.

Intentional deviations (documented, SURVEY §2.11) — in the DEFAULT
``style="spark"``; ``style="sqlserver"`` reproduces the reference's
PRINT bytes exactly (char(13) separator lines, NO-DIFF banner,
T-SQL cast-style STOPAT) for drop-in diffability:
- UTC everywhere (reference mixes getdate/getutcdate).
- '\n' line breaks (reference uses char(13) CR).
- STOPAT timestamps are ISO 'YYYY-MM-DD HH:MM:SS' (reference emits
  T-SQL cast-style 'mon dd yyyy hh:miAM').
- The first-after-T tail log keeps ALL its stripes (reference's
  ``select top (1) *`` grabs a single arbitrary stripe file —
  under-restores striped tails).
- String aggregation order is deterministic (sorted by device name).
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pathfns import ensure_trailing_backslash_py, file_name_py, leaf_path_py
from .chain_all import chain_files

EXAMPLE_MOVE_COMMAND = (
    "\n"
    "MOVE N'MyLogicalDataFile1' TO N'X:\\MSSQL\\MyPhysicalDataFile01.mdf', \n"
    "MOVE N'MyLogicalDataFile2' TO N'X:\\MSSQL\\MyPhysicalDataFile02.ndf', \n"
    "MOVE N'MyLogFile' TO N'Y:\\MSSQL\\MyLogFile.ldf' \n"
)

_CHAIN_COLS = [
    "LogID",
    "database_name",
    "BackupType",
    "physical_device_name",
    "backup_start_date",
    "backup_finish_date",
    "server_name",
    "ag_name",
    "recovery_model",
    "first_lsn",
    "last_lsn",
    "UncompressedSizeMB",
    "CompressedSizeMB",
    "is_copy_only",
    "encryptor_type",
    "key_algorithm",
    "device_type",
    "position",
    "DBFileInformation",
]


@dataclass
class RestoreStep:
    restore_id: int
    history_log_id: int
    database_name: str
    backup_type: str
    backup_start_date: dt.datetime
    backup_finish_date: dt.datetime
    restore_command: str
    physical_device_name: str | None
    server_name: str | None
    ag_name: str | None
    recovery_model: str | None
    first_lsn: Decimal
    last_lsn: Decimal
    uncompressed_size_mb: int | None = None
    compressed_size_mb: int | None = None
    is_copy_only: bool | None = None
    encryptor_type: str | None = None
    key_algorithm: str | None = None


def tsql_datetime_varchar(t: dt.datetime) -> str:
    """T-SQL default datetime→varchar cast, 'mon dd yyyy hh:miAM': day
    and 12-hour hour right-justified to width 2 (sql:1265 —
    ``cast(@RestoreToTime as varchar(50))``)."""
    hour12 = t.hour % 12 or 12
    ampm = "AM" if t.hour < 12 else "PM"
    return f"{t.strftime('%b')} {t.day:2d} {t.year} {hour12:2d}:{t.minute:02d}{ampm}"


_RULE = "-" * 67


@dataclass
class RestoreScript:
    steps: list[RestoreStep] = field(default_factory=list)
    style: str = "spark"

    def to_script(self, style: str | None = None) -> str:
        """PRINT-style output (sql:824-829,1295-1310).

        ``style="sqlserver"`` reproduces the reference's PRINT stream
        byte-for-byte: a bare char(13) line before each section after
        the first (sql:843,1024,1290) and the NO-DIFF banner when no
        diff applies (sql:844-846). The default "spark" style keeps the
        compact banner-only form.
        """
        style = style or self.style
        sqlsrv = style == "sqlserver"
        parts: list[str] = []
        for step in self.steps:
            if step.backup_type == "Full":
                parts.append("----------------INITIAL FULL BACKUP RESTORE COMMAND----------------")
                parts.append(step.restore_command)
                parts.append(_RULE)
            elif step.backup_type == "Diff":
                if sqlsrv:
                    parts.append("\r")
                parts.append("--------------------DIFF BACKUP RESTORE COMMAND--------------------")
                parts.append(step.restore_command)
                parts.append(_RULE)
        if sqlsrv and not any(s.backup_type == "Diff" for s in self.steps):
            parts.append("\r")
            parts.append(_RULE)
            parts.append("-----------------------NO DIFF BACKUPS FOUND-----------------------")
            parts.append(_RULE)
        logs = [s for s in self.steps if s.backup_type == "Log"]
        if logs:
            if sqlsrv:
                parts.append("\r")
            parts.append("--------------------LOG BACKUP RESTORE COMMAND---------------------")
            parts.extend(s.restore_command for s in logs)
            parts.append(_RULE)
        return "\n".join(parts)


def _scope(consolidated: DataFrame, database: str, server: str | None, ag: str | None):
    key = (
        (F.col("ag_name") == F.lit(ag))
        if ag is not None
        else (F.col("server_name") == F.lit(server))
    )
    return consolidated.filter((F.col("database_name") == F.lit(database)) & key)


def _move_clause(
    json_file_info: str | None,
    data_path: str | None,
    log_path: str | None,
    file_name_prefix: str | None,
) -> str:
    """MOVE ... TO ... list from the full's DBFileInformation JSON
    (sql:724-763). Falls back to the example MOVE when the JSON is
    missing (sql:704-712)."""
    if not json_file_info:
        return EXAMPLE_MOVE_COMMAND
    data_path = ensure_trailing_backslash_py(data_path)
    log_path = ensure_trailing_backslash_py(log_path)
    clauses = []
    for f in json.loads(json_file_info):
        physical = f["physical_name"]
        leaf = leaf_path_py(physical)
        fname = file_name_py(physical, file_name_prefix)
        if f.get("file_type") == "L":
            full_path = (log_path or leaf) + fname
        else:  # 'D' data file
            full_path = (data_path or leaf) + fname
        clauses.append(f"MOVE N'{f['logical_name']}' TO N'{full_path}'")
    return ", \n".join(clauses)


#: @Help output (sql:449-480) — parameter docs as data, per the reference.
RESTORE_SCRIPT_HELP: list[dict[str, object]] = [
    dict(ID=1, ProcParameters="source_db", Description="Name of source database",
         IsRequired=True, Example="'MyDB1'", AdditionalInfo="Required parameter"),
    dict(ID=2, ProcParameters="destination_db", Description="Name of destination database",
         IsRequired=False, Example="'MyDB1_Restored'",
         AdditionalInfo="Optional. Defaults to source_db if not provided"),
    dict(ID=3, ProcParameters="source_db_server",
         Description="Source machine name. Use if source database is standalone.",
         IsRequired=True, Example="'SQLQA01'",
         AdditionalInfo="Provide only one of source_db_server / source_ag_name"),
    dict(ID=4, ProcParameters="source_ag_name",
         Description="Source Availability Group name. Use if source database is part of an AG.",
         IsRequired=True, Example="'AG01'",
         AdditionalInfo="Provide only one of source_db_server / source_ag_name"),
    dict(ID=5, ProcParameters="restore_to_time", Description="Restore to point in time",
         IsRequired=False, Example="'2022-04-27 22:19:20'",
         AdditionalInfo="Defaults to current UTC time"),
    dict(ID=6, ProcParameters="restore_data_path",
         Description="Data path to restore all data files", IsRequired=False,
         Example="'X:\\MSSQL\\DATA'",
         AdditionalInfo="Defaults to the data path found in the backup file"),
    dict(ID=7, ProcParameters="restore_log_path",
         Description="Log path to restore all log files", IsRequired=False,
         Example="'Y:\\MSSQL\\LOG'",
         AdditionalInfo="Defaults to the log path found in the backup file"),
    dict(ID=8, ProcParameters="file_name_prefix",
         Description="Prefix added to all restored physical files", IsRequired=False,
         Example="'Restored_'",
         AdditionalInfo="Renames MyDBData01.mdf to Restored_MyDBData01.mdf"),
    dict(ID=9, ProcParameters="help", Description="Return this help table",
         IsRequired=False, Example="True",
         AdditionalInfo="Only returns help, does not generate any scripts"),
]


def restore_script_help() -> list[dict[str, object]]:
    return [dict(r) for r in RESTORE_SCRIPT_HELP]


def generate_restore_script(
    consolidated: DataFrame,
    source_db: str,
    destination_db: str | None = None,
    source_db_server: str | None = None,
    source_ag_name: str | None = None,
    restore_to_time: dt.datetime | None = None,
    restore_data_path: str | None = None,
    restore_log_path: str | None = None,
    file_name_prefix: str | None = None,
    help: bool = False,  # noqa: A002 — mirrors the proc's @Help param
    style: str = "spark",
) -> RestoreScript | list[dict[str, object]]:
    if help:  # short-circuit before any validation, like the proc (sql:449-480)
        return restore_script_help()
    if not source_db:
        raise ValueError("Please provide a valid source_db")
    if (source_db_server is None) == (source_ag_name is None):
        raise ValueError(
            "For standalone source DBs provide only source_db_server; "
            "for AG source DBs provide only source_ag_name"
        )
    restore_time_provided = restore_to_time is not None
    if restore_to_time is None:
        restore_to_time = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    scoped = _scope(consolidated, source_db, source_db_server, source_ag_name)
    files: dict[str, list] = {"Full": [], "Diff": [], "Log": []}
    # the scope holds one chain, so the entity is a constant
    for r in chain_files(scoped, restore_to_time, "''", _CHAIN_COLS).collect():
        files[r["BackupType"]].append(r)

    # ---------------- FULL (sql:555-671) ----------------
    full_rows = sorted(files["Full"], key=_by_device)
    if not full_rows:
        raise ValueError("No available full backups found")

    dest = destination_db or full_rows[0]["database_name"]
    head = full_rows[0]
    move_cmd = _move_clause(
        head["DBFileInformation"], restore_data_path, restore_log_path, file_name_prefix
    )

    device_list = ", \n".join(_device_clause_py(r) for r in full_rows)
    full_cmd = (
        "--execute as login = 'sa'\ngo\n\n"
        f"RESTORE DATABASE [{dest}] FROM \n{device_list}\n"
        f" WITH {move_cmd}\n,NORECOVERY,  NOUNLOAD,  STATS = 5;"
    )
    steps = [
        _step(1, head["LogID"], head, "Full", full_cmd,
              devices=", ".join(r["physical_device_name"] for r in full_rows))
    ]

    # ---------------- DIFF (sql:837-1035) ----------------
    # none after a copy-only full (sql:837-852): the planner returns none
    diff_rows = sorted(files["Diff"], key=_by_device)
    if diff_rows:
        diff_devices = ", \n".join(_device_clause_py(r) for r in diff_rows)
        diff_cmd = (
            f"RESTORE DATABASE [{dest}] FROM \n{diff_devices}"
            " WITH NORECOVERY,  STATS = 5"
        )
        steps.append(
            _step(2, diff_rows[0]["LogID"], diff_rows[0], "Diff", diff_cmd,
                  devices=diff_rows[0]["physical_device_name"])
        )

    # ---------------- LOG (sql:1039-1259) ----------------
    for log_id, r, devices in _collapse_logs(files["Log"]):
        cmd = (
            f"RESTORE LOG [{dest}] FROM {devices} WITH FILE = "
            f"{r['position']},NORECOVERY, NOUNLOAD, STATS = 10;"
        )
        steps.append(_step(len(steps) + 1, log_id, r, "Log", cmd, devices=devices))

    # STOPAT on the last two log restores (sql:1261-1273); sqlserver
    # style emits the reference's T-SQL varchar-cast datetime bytes
    if restore_time_provided:
        when = (
            tsql_datetime_varchar(restore_to_time)
            if style == "sqlserver"
            else restore_to_time.strftime("%Y-%m-%d %H:%M:%S")
        )
        stopat = f", STOPAT = '{when}';"
        log_steps = [s for s in steps if s.backup_type == "Log"]
        for s in log_steps[-2:]:
            s.restore_command = s.restore_command.replace(";", stopat)

    return RestoreScript(steps=steps, style=style)


def _by_device(row: Any) -> tuple[bool, str]:
    """Device-name order, NULL first (Spark's ascending order)."""
    name = row["physical_device_name"]
    return name is not None, name or ""


#: A striped Log's stripes agree on every column but these.
_STRIPE_COLS = ("LogID", "physical_device_name", "device_type")


def _collapse_logs(rows: list[Any]) -> list[tuple[int, Any, str]]:
    """One (history_log_id, row, devices) per striped Log backup, in
    last_lsn order (W2 + A6): the id is the minimum LogID per
    (first_lsn, last_lsn), the devices every stripe's clause, sorted."""
    first_id: dict[tuple, int] = {}
    for r in rows:
        k = (r["first_lsn"], r["last_lsn"])
        first_id[k] = min(first_id.get(k, r["LogID"]), r["LogID"])
    steps: dict[tuple, tuple[int, Any, list[str]]] = {}
    for r in rows:
        log_id = first_id[(r["first_lsn"], r["last_lsn"])]
        key = (log_id, *(r[c] for c in _CHAIN_COLS if c not in _STRIPE_COLS))
        _, _, clauses = steps.setdefault(key, (log_id, r, []))
        if r["physical_device_name"] is not None:
            clauses.append(_device_clause_py(r))
    out = [(i, r, ", \n".join(sorted(c))) for i, r, c in steps.values()]
    return sorted(out, key=lambda s: (s[1]["last_lsn"], s[0]))


def _device_clause_py(row: Any) -> str:
    prefix = "URL = N'" if row["device_type"] == 9 else "DISK = N'"
    return f"{prefix}{row['physical_device_name']}'"


def _step(
    restore_id: int,
    history_log_id: int,
    row: Any,
    backup_type: str,
    command: str,
    devices: str | None,
) -> RestoreStep:
    return RestoreStep(
        restore_id=restore_id,
        history_log_id=history_log_id,
        database_name=row["database_name"],
        backup_type=backup_type,
        backup_start_date=row["backup_start_date"],
        backup_finish_date=row["backup_finish_date"],
        restore_command=command,
        physical_device_name=devices,
        server_name=row["server_name"],
        ag_name=row["ag_name"],
        recovery_model=row["recovery_model"],
        first_lsn=row["first_lsn"],
        last_lsn=row["last_lsn"],
        uncompressed_size_mb=row["UncompressedSizeMB"],
        compressed_size_mb=row["CompressedSizeMB"],
        is_copy_only=row["is_copy_only"],
        encryptor_type=row["encryptor_type"],
        key_algorithm=row["key_algorithm"],
    )
