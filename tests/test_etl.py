"""End-to-end ETL run (SURVEY §3.1): extract → merge → watermark."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sqlbackuphistoryetl_spark.plans.etl import run_etl
from sqlbackuphistoryetl_spark.plans.watermark import init_source_servers, read_source_servers
from sqlbackuphistoryetl_spark.sources.fixtures import raw_source_tables


def test_run_etl_end_to_end(spark, tmp_path):
    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    sources = {"SQLNODE01": raw_source_tables(spark)}
    init_source_servers(spark, control, ["SQLNODE01", "SQLNODE_DOWN"],
                        initial_watermark=dt.datetime(2025, 1, 1, 9, 0))

    r1 = run_etl(spark, sources, control, target)
    assert r1.servers_ok == ["SQLNODE01"]
    assert r1.servers_skipped == ["SQLNODE_DOWN"]
    # watermark 09:00 − 5 min: picks up sets 1-3 (finish ≥ 08:55), not set 4
    assert r1.rows_appended == 4  # 2 stripes + 1 log + 1 diff

    marks = {r["ServerName"]: r["LastETLDatetime"]
             for r in read_source_servers(spark, control).collect()}
    assert marks["SQLNODE01"] == dt.datetime(2025, 1, 1, 12, 5)  # max finish
    assert marks["SQLNODE_DOWN"] == dt.datetime(2025, 1, 1, 9, 0)  # untouched

    # run 2: pure replay (watermark advanced, 5-min overlap) ⇒ no new rows
    r2 = run_etl(spark, sources, control, target)
    assert r2.rows_appended == 0
    sink = spark.read.parquet(target)
    assert sink.count() == 4
    assert sink.select(F.max("LogID")).first()[0] >= 1
    # loaded rows carry all 18 columns + LogID + partition col
    assert "DBFileInformation" in sink.columns and "position" in sink.columns


def test_empty_server_watermark_untouched(spark, tmp_path):
    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    sources = {"SQLNODE01": raw_source_tables(spark)}
    # watermark in the future ⇒ extract yields nothing
    init_source_servers(spark, control, ["SQLNODE01"],
                        initial_watermark=dt.datetime(2030, 1, 1))
    r = run_etl(spark, sources, control, target)
    assert r.rows_appended == 0
    marks = read_source_servers(spark, control).collect()
    assert marks[0]["LastETLDatetime"] == dt.datetime(2030, 1, 1)


def test_logid_hwm_sidecar(spark, tmp_path):
    """The incremental path seeds LogIDs from the one-row sidecar, not a
    full-sink scan; ids stay unique and increasing across runs, and a
    missing sidecar (pre-existing sink) is reseeded by a one-time scan."""
    from sqlbackuphistoryetl_spark import fsutil
    from sqlbackuphistoryetl_spark.plans import etl as etl_mod

    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    sources = {"SQLNODE01": raw_source_tables(spark)}
    init_source_servers(spark, control, ["SQLNODE01"],
                        initial_watermark=dt.datetime(2025, 1, 1, 9, 0))
    run_etl(spark, sources, control, target)
    hwm_path = etl_mod._hwm_path(target)
    assert fsutil.exists(spark, hwm_path)
    hwm1 = etl_mod._read_logid_hwm(spark, target)
    max_id1 = spark.read.parquet(target).agg(F.max("LogID")).first()[0]
    assert hwm1 >= max_id1

    # replay run: hwm only moves forward, no duplicate ids in the sink
    run_etl(spark, sources, control, target)
    assert etl_mod._read_logid_hwm(spark, target) >= hwm1
    ids = [r["LogID"] for r in spark.read.parquet(target).select("LogID").collect()]
    assert len(ids) == len(set(ids))

    # sidecar lost ⇒ fallback full scan reseeds from the sink itself
    fsutil.delete(spark, hwm_path)
    assert etl_mod._read_logid_hwm(spark, target) == max_id1


def test_rewind_watermark_backfill(spark, tmp_path):
    """Operational backfill: rewind moves one server's mark backwards
    (others untouched), rejects forward jumps and unknown servers, and
    the replay after a rewind appends nothing new (idempotent sink)."""
    from sqlbackuphistoryetl_spark.plans.watermark import rewind_watermark

    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    sources = {"SQLNODE01": raw_source_tables(spark)}
    init_source_servers(spark, control, ["SQLNODE01", "SQLNODE02"],
                        initial_watermark=dt.datetime(2025, 1, 1, 9, 0))
    run_etl(spark, sources, control, target)
    n_after_first = spark.read.parquet(target).count()

    rewind_watermark(spark, control, "SQLNODE01", dt.datetime(2025, 1, 1, 0, 0))
    marks = {r["ServerName"]: r["LastETLDatetime"]
             for r in read_source_servers(spark, control).collect()}
    assert marks["SQLNODE01"] == dt.datetime(2025, 1, 1, 0, 0)
    assert marks["SQLNODE02"] == dt.datetime(2025, 1, 1, 9, 0)  # untouched

    # full replay from the rewound mark: sink absorbs the overlap
    r = run_etl(spark, sources, control, target)
    assert r.rows_appended >= 0
    # nothing duplicated: the same logical rows, plus any older rows now
    # in range (watermark 00:00 sees set 4 too)
    sink = spark.read.parquet(target)
    key_rows = sink.select("database_name", "BackupType", "first_lsn",
                           "last_lsn", "physical_device_name").distinct().count()
    assert key_rows == sink.count() >= n_after_first

    import pytest as _pt
    with _pt.raises(ValueError):
        rewind_watermark(spark, control, "SQLNODE01", dt.datetime(2030, 1, 1))
    with _pt.raises(ValueError):
        rewind_watermark(spark, control, "NOPE", dt.datetime(2020, 1, 1))


def test_single_source_read_per_run(spark, tmp_path):
    """r3 verdict task 4: run_etl must pull each source exactly once —
    the append AND the watermark maxima both derive from one
    materialized batch (localCheckpoint), never from re-executing the
    extract lineage (a second pull from N production servers, and a
    consistency hazard if rows land between the two jobs).

    The probe: backupset flows through an accumulator-counting RDD map,
    so every executed pass over the source adds its row count."""
    from sqlbackuphistoryetl_spark.sources.fixtures import raw_source_rows
    from sqlbackuphistoryetl_spark.sources.readers import SourceTables
    from sqlbackuphistoryetl_spark import schema

    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")

    rows = raw_source_rows()
    acc = spark.sparkContext.accumulator(0)

    def counted(row):
        acc.add(1)
        return row

    plain = spark.createDataFrame(rows["backupset"], schema.BACKUPSET)
    n_src = plain.count()
    counted_bs = spark.createDataFrame(
        plain.rdd.map(counted), schema=plain.schema
    )
    sources = {
        "SQLNODE01": SourceTables(
            backupset=counted_bs,
            backupmediafamily=spark.createDataFrame(
                rows["backupmediafamily"], schema.BACKUPMEDIAFAMILY),
            backupfile=spark.createDataFrame(
                rows["backupfile"], schema.BACKUPFILE),
            databases=spark.createDataFrame(rows["databases"], schema.DATABASES),
            replica_states=spark.createDataFrame(
                rows["replica_states"], schema.REPLICA_STATES),
            availability_groups=spark.createDataFrame(
                rows["availability_groups"], schema.AVAILABILITY_GROUPS),
        )
    }
    init_source_servers(spark, control, ["SQLNODE01"],
                        initial_watermark=dt.datetime(2025, 1, 1, 9, 0))
    r = run_etl(spark, sources, control, target)
    assert r.rows_appended > 0
    # one materialization pass — not one per downstream consumer
    assert acc.value == n_src, (
        f"backupset scanned {acc.value} source rows for {n_src}-row table: "
        "extract lineage re-executed"
    )


def test_hwm_written_before_append(spark, tmp_path, monkeypatch):
    """Crash-window ordering (r4 ADVICE): the LogID sidecar is written
    BEFORE the idempotent append, so a crash between the two leaves an
    hwm that still bounds every id the crashed attempt may have
    committed — replays then cost only id gaps, never collisions from a
    re-derived LOWER hwm."""
    from sqlbackuphistoryetl_spark.plans import etl as etl_mod

    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    sources = {"SQLNODE01": raw_source_tables(spark)}
    init_source_servers(spark, control, ["SQLNODE01"],
                        initial_watermark=dt.datetime(2025, 1, 1, 9, 0))

    class Boom(RuntimeError):
        pass

    def crash_append(*a, **k):
        raise Boom("simulated crash during append")

    monkeypatch.setattr(etl_mod, "idempotent_append", crash_append)
    try:
        run_etl(spark, sources, control, target)
        raise AssertionError("append crash should propagate")
    except Boom:
        pass
    # the sidecar advanced even though the append never committed
    hwm_after_crash = etl_mod._read_logid_hwm(spark, target)
    assert hwm_after_crash > 0

    # recovery run: fresh ids start above the crashed attempt's mark
    monkeypatch.undo()
    run_etl(spark, sources, control, target)
    ids = [r["LogID"] for r in
           spark.read.parquet(target).select("LogID").collect()]
    assert len(ids) == len(set(ids))
    assert min(ids) > hwm_after_crash


def _visible(sources, clock):
    """Each server's msdb as of ``clock``: backups that have finished."""
    from sqlbackuphistoryetl_spark.sources.readers import SourceTables

    return {
        name: SourceTables(**{
            **vars(t),
            "backupset": t.backupset.filter(F.col("backup_finish_date") <= F.lit(clock)),
        })
        for name, t in sources.items()
    }


def test_midnight_crossing_replay_appends_nothing(spark, tmp_path):
    """A Full that runs 23:50 -> 00:02 lands in the sink partition of its
    START date. The 00:20 run re-extracts it inside the replay buffer
    (watermark 00:06 − 5 min); the anti-join must still see it, so the
    second run appends nothing and the Full is in the sink once."""
    from decimal import Decimal

    from sqlbackuphistoryetl_spark.sources.fixtures import B, source_tables_from_rows

    day1, day2 = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)

    def backupset(set_id, btype, start, finish, first, last):
        return dict(backup_set_id=set_id, media_set_id=set_id, database_name="db1",
                    type=btype, backup_start_date=start, backup_finish_date=finish,
                    server_name="SQLNODE01", recovery_model="FULL",
                    first_lsn=B + first, last_lsn=B + last, backup_size=Decimal(4096),
                    compressed_backup_size=Decimal(2048), is_copy_only=False,
                    encryptor_type=None, key_algorithm=None, position=1)

    rows = dict(
        backupset=[
            backupset(1, "D", day1.replace(hour=23, minute=50), day2.replace(minute=2), 100, 200),
            backupset(2, "L", day2.replace(minute=5), day2.replace(minute=6), 200, 300),
        ],
        backupmediafamily=[
            dict(media_set_id=1, physical_device_name="X:\\bk\\db1_full.bak", device_type=2),
            dict(media_set_id=2, physical_device_name="X:\\bk\\db1_log.trn", device_type=2),
        ],
        backupfile=[
            dict(backup_set_id=1, logical_name="db1_data", physical_drive="D:",
                 physical_name="D:\\db1.mdf", file_type="D", file_number=1, state=0),
        ],
        databases=[dict(name="db1", database_id=5)],
        replica_states=[],
        availability_groups=[],
    )
    sources = {"SQLNODE01": source_tables_from_rows(spark, rows)}
    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    init_source_servers(spark, control, ["SQLNODE01"], initial_watermark=day1)

    r1 = run_etl(spark, _visible(sources, day2.replace(minute=10)), control, target)
    assert r1.rows_appended == 2
    r2 = run_etl(spark, _visible(sources, day2.replace(minute=20)), control, target)
    assert r2.rows_appended == 0

    sink = spark.read.parquet(target)
    assert sink.count() == 2
    assert sink.filter(F.col("BackupType") == "Full").count() == 1
    assert read_source_servers(spark, control).first()["LastETLDatetime"] == day2.replace(minute=6)


def test_server_missing_a_column_is_skipped(spark, tmp_path):
    """A server whose backupset lacks a column the extract reads is
    reported skipped and keeps its watermark; the rest of the fleet
    still loads in the same run."""
    from sqlbackuphistoryetl_spark.sources.fixtures import (
        fleet_source_rows,
        source_tables_from_rows,
    )
    from sqlbackuphistoryetl_spark.sources.readers import SourceTables

    names = ["SQLNODE01", "SQLNODE02", "SQLNODE03"]
    sources = {n: source_tables_from_rows(spark, fleet_source_rows(k))
               for k, n in enumerate(names)}
    broken = sources["SQLNODE03"]
    sources["SQLNODE03"] = SourceTables(**{
        **vars(broken), "backupset": broken.backupset.drop("key_algorithm")})
    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    wm = dt.datetime(2025, 1, 1, 9, 0)
    init_source_servers(spark, control, names, initial_watermark=wm)

    r = run_etl(spark, sources, control, target)
    assert r.servers_ok == ["SQLNODE01", "SQLNODE02"]
    assert r.servers_skipped == ["SQLNODE03"]
    assert r.rows_appended == 8  # sets 1 (2 stripes), 2, 3 on each loaded server

    marks = {row["ServerName"]: row["LastETLDatetime"]
             for row in read_source_servers(spark, control).collect()}
    assert marks == {"SQLNODE01": dt.datetime(2025, 1, 1, 12, 5),
                     "SQLNODE02": dt.datetime(2025, 1, 1, 12, 5),
                     "SQLNODE03": wm}
    servers = {row[0] for row in spark.read.parquet(target).select("server_name").collect()}
    assert servers == {"SQLNODE01", "SQLNODE02"}


def test_run_etl_job_count_independent_of_fleet_size(spark, tmp_path):
    """One fleet plan: a first run and a replay run launch as many Spark
    jobs for three servers as for one (a per-server extract adds its
    broadcast exchanges once per server)."""
    from sqlbackuphistoryetl_spark.sources.fixtures import (
        fleet_source_rows,
        source_tables_from_rows,
    )

    sc = spark.sparkContext
    names = ["SQLNODE01", "SQLNODE02", "SQLNODE03"]
    tables = {n: source_tables_from_rows(spark, fleet_source_rows(k))
              for k, n in enumerate(names)}

    def jobs(n_servers: int) -> list[int]:
        fleet = {n: tables[n] for n in names[:n_servers]}
        control = str(tmp_path / f"control{n_servers}")
        target = str(tmp_path / f"consolidated{n_servers}")
        init_source_servers(spark, control, list(fleet),
                            initial_watermark=dt.datetime(2025, 1, 1, 9, 0))
        counts = []
        for run in ("first", "replay"):
            group = f"etl-jobs-{n_servers}-{run}"
            sc.setJobGroup(group, group)
            try:
                r = run_etl(spark, fleet, control, target)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert r.servers_ok == list(fleet)
            # job events reach the status store through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return counts

    one, three = jobs(1), jobs(3)
    assert one == three, (one, three)
