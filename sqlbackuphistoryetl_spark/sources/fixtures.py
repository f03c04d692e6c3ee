"""Deterministic domain fixtures (FIXTURES.md §A, SURVEY §5).

Hand-authored scenario covering every behavior the golden tests need:
striped backups, copy-only fulls, AG fallback, diff clamping by a later
full, PIT-straddling logs, URL devices, excluded device types, dropped
backup files, and replay duplicates. LSNs are 23-digit decimals to
catch any int64 truncation.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from .. import schema

B = Decimal(10) ** 22  # 23-digit LSN base — overflows int64 on purpose


def _ts(h: int, m: int = 0, day: int = 1) -> dt.datetime:
    return dt.datetime(2025, 1, day, h, m, 0)


def _files_json(db: str) -> str:
    return json.dumps(
        [
            {
                "logical_name": f"{db}_data",
                "physical_drive": "D:",
                "physical_name": f"D:\\MSSQL\\DATA\\{db}.mdf",
                "file_type": "D",
                "file_number": "1",
            },
            {
                "logical_name": f"{db}_log",
                "physical_drive": "L:",
                "physical_name": f"L:\\MSSQL\\LOG\\{db}_log.ldf",
                "file_type": "L",
                "file_number": "2",
            },
        ],
        separators=(",", ":"),
    )


def consolidated_rows() -> list[dict]:
    """db_sa1 standalone on SQLNODE01; db_ag1 on AG01 (node SQLNODE02)."""
    db, srv = "db_sa1", "SQLNODE01"
    files = _files_json(db)

    def row(
        log_id,
        btype,
        device,
        start,
        finish,
        first,
        last,
        device_type=2,
        position=1,
        copy_only=False,
        dbname=db,
        server=srv,
        ag=None,
        info=None,
    ):
        return dict(
            LogID=log_id,
            database_name=dbname,
            BackupType=btype,
            physical_device_name=device,
            backup_start_date=start,
            backup_finish_date=finish,
            server_name=server,
            ag_name=ag,
            recovery_model="FULL",
            first_lsn=B + first,
            last_lsn=B + last,
            UncompressedSizeMB=1000,
            CompressedSizeMB=300,
            is_copy_only=copy_only,
            encryptor_type=None,
            key_algorithm=None,
            device_type=device_type,
            position=position,
            DBFileInformation=info,
        )

    rows = [
        # F1: striped full (2 devices)
        row(1, "Full", "X:\\bk\\db_sa1_full_1_s1.bak", _ts(0), _ts(0, 10), 100, 200, info=files),
        row(2, "Full", "X:\\bk\\db_sa1_full_1_s2.bak", _ts(0), _ts(0, 10), 100, 200, info=files),
        # L1, L2 (L2 striped)
        row(3, "Log", "X:\\bk\\db_sa1_log_1.trn", _ts(1), _ts(1, 1), 200, 300),
        row(4, "Log", "X:\\bk\\db_sa1_log_2_s1.trn", _ts(2), _ts(2, 1), 300, 400),
        row(5, "Log", "X:\\bk\\db_sa1_log_2_s2.trn", _ts(2), _ts(2, 1), 300, 400),
        # D1: diff based on F1
        row(6, "Diff", "X:\\bk\\db_sa1_diff_1.bak", _ts(3), _ts(3, 5), 100, 450),
        # L3
        row(7, "Log", "X:\\bk\\db_sa1_log_3.trn", _ts(4), _ts(4, 1), 400, 500),
        # F2: later full (clamps diffs when restoring from F1)
        row(8, "Full", "X:\\bk\\db_sa1_full_2.bak", _ts(5), _ts(5, 10), 600, 700, info=files),
        # L4 straddles a 04:30 PIT (starts 05:30)
        row(9, "Log", "X:\\bk\\db_sa1_log_4.trn", _ts(5, 30), _ts(5, 31), 500, 650),
        # D2: diff based on F2
        row(10, "Diff", "X:\\bk\\db_sa1_diff_2.bak", _ts(6), _ts(6, 5), 600, 800),
        # L5
        row(11, "Log", "X:\\bk\\db_sa1_log_5.trn", _ts(7), _ts(7, 1), 650, 900),
        # CF: copy-only full (no diffs may follow it in a restore)
        row(12, "Full", "https://acct.blob.core.windows.net/bk/db_sa1_co.bak",
            _ts(8), _ts(8, 10), 950, 1000, device_type=9, copy_only=True, info=files),
        # L6
        row(13, "Log", "X:\\bk\\db_sa1_log_6.trn", _ts(8, 30), _ts(8, 31), 1000, 1200),
        # device_type=7 full — must be excluded by restore-script full
        # selection (sql:568: device_type in (2,9))
        row(14, "Full", "VDI::virtual_device", _ts(9), _ts(9, 10), 1300, 1400, device_type=7),
        # AG database: reachable only via ag_name = AG01 (fallback path)
        row(15, "Full", "X:\\bk\\db_ag1_full_1.bak", _ts(0), _ts(0, 10), 100, 200,
            dbname="db_ag1", server="SQLNODE02", ag="AG01", info=_files_json("db_ag1")),
        row(16, "Log", "X:\\bk\\db_ag1_log_1.trn", _ts(1), _ts(1, 1), 200, 300,
            dbname="db_ag1", server="SQLNODE02", ag="AG01"),
        row(17, "Log", "X:\\bk\\db_ag1_log_2.trn", _ts(2), _ts(2, 1), 300, 400,
            dbname="db_ag1", server="SQLNODE02", ag="AG01"),
    ]
    return rows


def consolidated_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(consolidated_rows(), schema.CONSOLIDATED)


# ---------------------------------------------------------------- raw msdb

def raw_source_rows() -> dict[str, list[dict]]:
    """msdb-shaped inputs for one server (SQLNODE01) exercising the
    extract transform: stripes, AG resolution, dropped files, type map,
    size truncation."""
    t0 = _ts(10)

    backupset = [
        dict(backup_set_id=1, media_set_id=1, database_name="db_sa1", type="D",
             backup_start_date=t0, backup_finish_date=_ts(10, 10),
             server_name="SQLNODE01", recovery_model="FULL",
             first_lsn=B + 2000, last_lsn=B + 2100,
             backup_size=Decimal(10_485_767), compressed_backup_size=Decimal(3_145_729),
             is_copy_only=False, encryptor_type=None, key_algorithm=None, position=1),
        dict(backup_set_id=2, media_set_id=2, database_name="db_sa1", type="L",
             backup_start_date=_ts(11), backup_finish_date=_ts(11, 1),
             server_name="SQLNODE01", recovery_model="FULL",
             first_lsn=B + 2100, last_lsn=B + 2200,
             backup_size=Decimal(1_048_575), compressed_backup_size=Decimal(524_288),
             is_copy_only=False, encryptor_type=None, key_algorithm=None, position=1),
        dict(backup_set_id=3, media_set_id=3, database_name="db_ag_x", type="I",
             backup_start_date=_ts(12), backup_finish_date=_ts(12, 5),
             server_name="SQLNODE01", recovery_model="FULL",
             first_lsn=B + 3000, last_lsn=B + 3100,
             backup_size=Decimal(2_097_152), compressed_backup_size=Decimal(1_048_576),
             is_copy_only=False, encryptor_type="CERTIFICATE", key_algorithm="aes_256",
             position=2),
        # old row — filtered out by the watermark predicate
        dict(backup_set_id=4, media_set_id=4, database_name="db_sa1", type="D",
             backup_start_date=_ts(1), backup_finish_date=_ts(1, 10),
             server_name="SQLNODE01", recovery_model="FULL",
             first_lsn=B + 10, last_lsn=B + 20,
             backup_size=Decimal(1000), compressed_backup_size=Decimal(500),
             is_copy_only=False, encryptor_type=None, key_algorithm=None, position=1),
    ]
    backupmediafamily = [
        # striped full: 2 files
        dict(media_set_id=1, physical_device_name="X:\\bk\\new_full_s1.bak", device_type=2),
        dict(media_set_id=1, physical_device_name="X:\\bk\\new_full_s2.bak", device_type=2),
        dict(media_set_id=2, physical_device_name="X:\\bk\\new_log.trn", device_type=2),
        dict(media_set_id=3, physical_device_name="https://acct.blob.core.windows.net/bk/d.bak",
             device_type=9),
        dict(media_set_id=4, physical_device_name="X:\\bk\\old.bak", device_type=2),
    ]
    backupfile = [
        dict(backup_set_id=1, logical_name="db_sa1_data", physical_drive="D:",
             physical_name="D:\\MSSQL\\DATA\\db_sa1.mdf", file_type="D", file_number=1, state=0),
        dict(backup_set_id=1, logical_name="db_sa1_log", physical_drive="L:",
             physical_name="L:\\MSSQL\\LOG\\db_sa1_log.ldf", file_type="L", file_number=2, state=0),
        # dropped file — excluded (state=8)
        dict(backup_set_id=1, logical_name="db_sa1_old", physical_drive="D:",
             physical_name="D:\\MSSQL\\DATA\\db_sa1_old.ndf", file_type="D", file_number=3, state=8),
        dict(backup_set_id=3, logical_name="db_ag_x_data", physical_drive="D:",
             physical_name="D:\\MSSQL\\DATA\\db_ag_x.mdf", file_type="D", file_number=1, state=0),
    ]
    databases = [
        dict(name="db_sa1", database_id=5),
        dict(name="db_ag_x", database_id=6),
    ]
    replica_states = [
        dict(database_id=6, group_id="ag-guid-1", is_local=True),
        # remote replica of same DB — must NOT resolve (is_local=false)
        dict(database_id=6, group_id="ag-guid-1", is_local=False),
    ]
    availability_groups = [
        dict(group_id="ag-guid-1", name="AG01"),
    ]
    return dict(
        backupset=backupset,
        backupmediafamily=backupmediafamily,
        backupfile=backupfile,
        databases=databases,
        replica_states=replica_states,
        availability_groups=availability_groups,
    )


def fleet_source_rows(k: int) -> dict[str, list[dict]]:
    """msdb-shaped inputs for fleet server ``k`` (SQLNODE0{k+1}); k=0 is
    :func:`raw_source_rows`. Every server reuses the same
    media_set_id / backup_set_id / database_id values, database names
    and AG group_id — msdb ids are only unique within one server — so
    an extract that joins across servers on them shows up as extra or
    mislabelled rows. Per server: its own device paths, LSNs, file
    names and AG name; on k=1 the database ids are swapped (db_sa1 is
    the AG database there); on k=2 no replica is local (no ag_name)."""
    rows = raw_source_rows()
    if k == 0:
        return rows
    server = f"SQLNODE0{k + 1}"
    for bs in rows["backupset"]:
        bs.update(server_name=server, first_lsn=bs["first_lsn"] + 10_000 * k,
                  last_lsn=bs["last_lsn"] + 10_000 * k)
    for mf in rows["backupmediafamily"]:
        mf["physical_device_name"] = mf["physical_device_name"].replace("bk", f"bk{k}")
    for bf in rows["backupfile"]:
        bf["logical_name"] = f"{bf['logical_name']}_{k}"
    if k == 1:
        rows["databases"] = [dict(name="db_sa1", database_id=6),
                             dict(name="db_ag_x", database_id=5)]
    if k == 2:
        for rs in rows["replica_states"]:
            rs["is_local"] = False
    rows["availability_groups"] = [dict(group_id="ag-guid-1", name=f"AG0{k + 1}")]
    return rows


def source_tables_from_rows(spark: SparkSession, rows: dict[str, list[dict]]):
    """The six tables of one server as DataFrames with declared schemas."""
    from .readers import _TABLE_SCHEMAS, SourceTables

    return SourceTables(
        **{
            name: spark.createDataFrame(rows[name], declared)
            for name, declared in _TABLE_SCHEMAS.items()
        }
    )


def raw_source_tables(spark: SparkSession):
    return source_tables_from_rows(spark, raw_source_rows())
