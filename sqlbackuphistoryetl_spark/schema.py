"""Fixed, declared schemas (SURVEY §1.2/§1.3 — no inference anywhere).

Mirrors the reference DDL
(`SQLObjects/SQLObjectsToCreateOnTarget.sql:7-51`) and the msdb-shaped
extract inputs (`Functions/Get-BackupHistoryToETL.ps1:22-75`,
FIXTURES.md §A3). LSNs are DecimalType(25, 0) — they exceed int64
(SQL `numeric(25,0)`, sql:18-19) and every ordering comparison must be
exact.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LSN = DecimalType(25, 0)

#: Logical dedup key of the consolidated fact table — unique constraint
#: with ignore_dup_key=on in the reference (sql:33). The engine's
#: idempotent merge (operators/merge.py) anti-joins on exactly this key.
CONSOLIDATED_KEY = ["last_lsn", "first_lsn", "database_name", "physical_device_name"]

#: Utility.SQLBackupHistoryConsolidated (sql:7-28) — one row per backup
#: *file* written; striped backups are multiple rows sharing
#: first_lsn/last_lsn with distinct physical_device_name.
CONSOLIDATED = StructType(
    [
        StructField("LogID", LongType(), False),
        StructField("database_name", StringType(), False),
        StructField("BackupType", StringType(), False),  # 'Full' | 'Diff' | 'Log'
        StructField("physical_device_name", StringType(), True),
        StructField("backup_start_date", TimestampType(), False),
        StructField("backup_finish_date", TimestampType(), False),
        StructField("server_name", StringType(), True),
        StructField("ag_name", StringType(), True),
        StructField("recovery_model", StringType(), True),
        StructField("first_lsn", LSN, False),
        StructField("last_lsn", LSN, False),
        StructField("UncompressedSizeMB", IntegerType(), True),
        StructField("CompressedSizeMB", IntegerType(), True),
        StructField("is_copy_only", BooleanType(), True),
        StructField("encryptor_type", StringType(), True),
        StructField("key_algorithm", StringType(), True),
        StructField("device_type", IntegerType(), True),  # 2=disk, 9=URL
        StructField("position", IntegerType(), True),
        StructField("DBFileInformation", StringType(), True),  # JSON array
    ]
)

#: The consolidated sink as stored: CONSOLIDATED plus the ``backup_date``
#: partition column (to_date(backup_start_date), operators/merge.py).
#: Every read of the sink declares it, so no read runs a footer-inference
#: job.
CONSOLIDATED_SINK = StructType(
    CONSOLIDATED.fields + [StructField("backup_date", DateType(), True)]
)

#: Utility.SQLBackupHistorySourceServers (sql:42-51) — watermark control.
SOURCE_SERVERS = StructType(
    [
        StructField("ServerName", StringType(), False),
        StructField("LastETLDatetime", TimestampType(), False),
    ]
)

#: Element schema of the DBFileInformation JSON array. The reference
#: serializes with FOR JSON PATH (Get-BackupHistoryToETL.ps1:65-70) and
#: re-reads with `openjson ... with (... varchar(100))` (sql:740-744) —
#: all five fields are consumed as strings, so we declare strings.
DBFILE_INFO_ELEM = StructType(
    [
        StructField("logical_name", StringType(), True),
        StructField("physical_drive", StringType(), True),
        StructField("physical_name", StringType(), True),
        StructField("file_type", StringType(), True),  # 'D' data | 'L' log
        StructField("file_number", StringType(), True),
    ]
)

DBFILE_INFO = ArrayType(DBFILE_INFO_ELEM)

# --- msdb-shaped raw extract inputs (FIXTURES.md §A3) -----------------

BACKUPSET = StructType(
    [
        StructField("backup_set_id", LongType(), False),
        StructField("media_set_id", LongType(), False),
        StructField("database_name", StringType(), False),
        StructField("type", StringType(), False),  # 'D' | 'I' | 'L'
        StructField("backup_start_date", TimestampType(), False),
        StructField("backup_finish_date", TimestampType(), False),
        StructField("server_name", StringType(), True),
        StructField("recovery_model", StringType(), True),
        StructField("first_lsn", LSN, False),
        StructField("last_lsn", LSN, False),
        StructField("backup_size", DecimalType(20, 0), True),  # bytes
        StructField("compressed_backup_size", DecimalType(20, 0), True),
        StructField("is_copy_only", BooleanType(), True),
        StructField("encryptor_type", StringType(), True),
        StructField("key_algorithm", StringType(), True),
        StructField("position", IntegerType(), True),
    ]
)

BACKUPMEDIAFAMILY = StructType(
    [
        StructField("media_set_id", LongType(), False),
        StructField("physical_device_name", StringType(), True),
        StructField("device_type", IntegerType(), True),
    ]
)

BACKUPFILE = StructType(
    [
        StructField("backup_set_id", LongType(), False),
        StructField("logical_name", StringType(), True),
        StructField("physical_drive", StringType(), True),
        StructField("physical_name", StringType(), True),
        StructField("file_type", StringType(), True),
        StructField("file_number", IntegerType(), True),
        StructField("state", IntegerType(), True),  # 8 = dropped → excluded
    ]
)

DATABASES = StructType(
    [
        StructField("name", StringType(), False),
        StructField("database_id", LongType(), False),
    ]
)

REPLICA_STATES = StructType(
    [
        StructField("database_id", LongType(), False),
        StructField("group_id", StringType(), True),
        StructField("is_local", BooleanType(), True),
    ]
)

AVAILABILITY_GROUPS = StructType(
    [
        StructField("group_id", StringType(), False),
        StructField("name", StringType(), True),
    ]
)
