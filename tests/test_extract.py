"""Extract transform parity (SURVEY §2.3 J1-J5, §2.8 scalar fns)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from sqlbackuphistoryetl_spark.sources.extract import extract_backup_history
from sqlbackuphistoryetl_spark.sources.fixtures import B, raw_source_tables


@pytest.fixture(scope="module")
def extracted(spark):
    src = raw_source_tables(spark)
    # watermark 10:04 − 5 min buffer ⇒ rows finishing ≥ 09:59
    out = extract_backup_history(src, dt.datetime(2025, 1, 1, 10, 4))
    rows = {(r["database_name"], r["BackupType"], r["physical_device_name"]): r
            for r in out.collect()}
    return out, rows


def test_watermark_filters_old_rows(extracted):
    _, rows = extracted
    assert all(r["backup_finish_date"] >= dt.datetime(2025, 1, 1, 9, 59)
               for r in rows.values())
    assert not any(r["physical_device_name"] == "X:\\bk\\old.bak" for r in rows.values())


def test_stripes_fan_out(extracted):
    _, rows = extracted
    stripes = [k for k in rows if k[2] and "new_full_s" in k[2]]
    assert len(stripes) == 2  # J1: 1 backupset × 2 media files


def test_type_map_and_sizes(extracted):
    _, rows = extracted
    full = rows[("db_sa1", "Full", "X:\\bk\\new_full_s1.bak")]
    # 10_485_767 bytes // 1 MiB = 10 (truncation toward zero)
    assert full["UncompressedSizeMB"] == 10
    assert full["CompressedSizeMB"] == 3
    diff = rows[("db_ag_x", "Diff", "https://acct.blob.core.windows.net/bk/d.bak")]
    assert diff["device_type"] == 9
    assert diff["position"] == 2
    log = rows[("db_sa1", "Log", "X:\\bk\\new_log.trn")]
    assert log["UncompressedSizeMB"] == 0  # 1_048_575 < 1 MiB


def test_ag_resolution_is_local_only(extracted):
    _, rows = extracted
    assert rows[("db_ag_x", "Diff", "https://acct.blob.core.windows.net/bk/d.bak")]["ag_name"] == "AG01"
    assert rows[("db_sa1", "Full", "X:\\bk\\new_full_s1.bak")]["ag_name"] is None


def test_lsn_precision(extracted):
    _, rows = extracted
    full = rows[("db_sa1", "Full", "X:\\bk\\new_full_s1.bak")]
    assert full["first_lsn"] == B + 2000  # Decimal(25,0), > int64 range
    assert isinstance(full["first_lsn"], Decimal)


def test_json_file_info_excludes_dropped(extracted):
    _, rows = extracted
    full = rows[("db_sa1", "Full", "X:\\bk\\new_full_s1.bak")]
    files = json.loads(full["DBFileInformation"])
    assert [f["logical_name"] for f in files] == ["db_sa1_data", "db_sa1_log"]  # state=8 excluded, ordered
    log = rows[("db_sa1", "Log", "X:\\bk\\new_log.trn")]
    assert log["DBFileInformation"] is None  # OUTER semantics: no files ⇒ NULL


def test_schema_has_18_columns(extracted):
    out, _ = extracted
    assert len(out.columns) == 18


def test_fleet_extract_equals_union_of_single_server_extracts(spark):
    """One plan for the whole fleet: three servers whose media_set_id,
    backup_set_id, database names and AG group_id collide must extract
    exactly the rows of three separate single-server extracts — stripe
    fan-out, ag_name and DBFileInformation included."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from sqlbackuphistoryetl_spark.sources.extract import extract_fleet, project_source
    from sqlbackuphistoryetl_spark.sources.fixtures import (
        fleet_source_rows,
        source_tables_from_rows,
    )

    marks = [dt.datetime(2025, 1, 1, 10, 4), None, dt.datetime(2025, 1, 1, 9, 0)]
    srcs = [source_tables_from_rows(spark, fleet_source_rows(k)) for k in range(3)]
    fleet = extract_fleet(
        [project_source(s, k, wm) for k, (s, wm) in enumerate(zip(srcs, marks))]
    )
    single = reduce(
        DataFrame.union, [extract_backup_history(s, wm) for s, wm in zip(srcs, marks)]
    )
    assert fleet.columns == single.columns

    got = sorted(fleet.collect(), key=repr)
    assert got == sorted(single.collect(), key=repr)
    # sets 1 (2 stripes), 2, 3 on SQLNODE01 and SQLNODE03; all four on
    # SQLNODE02, whose mark is NULL
    assert len(got) == 4 + 5 + 4
    ag = {(r["server_name"], r["database_name"]): r["ag_name"] for r in got}
    assert ag == {
        ("SQLNODE01", "db_sa1"): None, ("SQLNODE01", "db_ag_x"): "AG01",
        ("SQLNODE02", "db_sa1"): "AG02", ("SQLNODE02", "db_ag_x"): None,
        ("SQLNODE03", "db_sa1"): None, ("SQLNODE03", "db_ag_x"): None,
    }
    files = {
        r["server_name"]: [f["logical_name"] for f in json.loads(r["DBFileInformation"])]
        for r in got
        if r["BackupType"] == "Full" and r["backup_start_date"] == dt.datetime(2025, 1, 1, 10)
    }
    assert files == {
        "SQLNODE01": ["db_sa1_data", "db_sa1_log"],
        "SQLNODE02": ["db_sa1_data_1", "db_sa1_log_1"],
        "SQLNODE03": ["db_sa1_data_2", "db_sa1_log_2"],
    }
