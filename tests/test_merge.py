"""Idempotent merge sink (SURVEY S4/J6) + retention (S6)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sqlbackuphistoryetl_spark import schema
from sqlbackuphistoryetl_spark.operators.merge import idempotent_append
from sqlbackuphistoryetl_spark.operators.retention import apply_retention
from sqlbackuphistoryetl_spark.sources.fixtures import consolidated_rows


def test_replay_inserts_zero_dups(spark, tmp_path):
    target = str(tmp_path / "consolidated")
    rows = consolidated_rows()
    df = spark.createDataFrame(rows, schema.CONSOLIDATED)

    n1 = idempotent_append(spark, df, target)
    assert n1 == len(rows)

    # full replay + an in-batch duplicate → zero new rows
    replay = spark.createDataFrame(rows + [rows[0]], schema.CONSOLIDATED)
    n2 = idempotent_append(spark, replay, target,
                           overlap_start=dt.datetime(2025, 1, 1, 0, 0))
    assert n2 == 0
    assert spark.read.parquet(target).count() == len(rows)


def test_partial_overlap_appends_only_new(spark, tmp_path):
    target = str(tmp_path / "consolidated")
    rows = consolidated_rows()
    first, second = rows[:10], rows[8:]  # rows 8-9 overlap
    idempotent_append(spark, spark.createDataFrame(first, schema.CONSOLIDATED), target)
    n = idempotent_append(spark, spark.createDataFrame(second, schema.CONSOLIDATED), target,
                          overlap_start=dt.datetime(2025, 1, 1, 0, 0))
    assert n == len(second) - 2
    total = spark.read.parquet(target)
    assert total.count() == len(rows)
    # key is unique in the sink
    key_counts = total.groupBy(*schema.CONSOLIDATED_KEY).count().filter("count > 1")
    assert key_counts.count() == 0


def test_partitioned_by_backup_date(spark, tmp_path):
    target = tmp_path / "consolidated"
    df = spark.createDataFrame(consolidated_rows(), schema.CONSOLIDATED)
    idempotent_append(spark, df, str(target))
    assert (target / "backup_date=2025-01-01").exists()


def test_retention_cleanup(spark, tmp_path):
    target = str(tmp_path / "consolidated")
    df = spark.createDataFrame(consolidated_rows(), schema.CONSOLIDATED)
    idempotent_append(spark, df, target)

    # "now" far in the future: cutoff = max(start) older than now-1d ⇒
    # everything strictly before that max goes away
    deleted = apply_retention(spark, target, retention_days=1,
                              now=dt.datetime(2026, 1, 1))
    remaining = spark.read.parquet(target)
    max_start = remaining.agg(F.max("backup_start_date")).first()[0]
    assert deleted > 0
    assert remaining.filter(F.col("backup_start_date") < max_start).count() == 0


def test_mutations_work_through_fs_scheme_uris(spark, tmp_path):
    """Retention drops and the watermark control-table swap must run
    through the Hadoop FileSystem API: drive both with explicit
    ``file:`` scheme URIs, which pathlib/shutil code would mangle
    (``Path("file:/x")`` is a relative path named 'file:')."""
    from sqlbackuphistoryetl_spark.plans import watermark

    target = f"file://{tmp_path}/consolidated"
    df = spark.createDataFrame(consolidated_rows(), schema.CONSOLIDATED)
    idempotent_append(spark, df, target)
    deleted = apply_retention(spark, target, retention_days=1,
                              now=dt.datetime(2026, 1, 1))
    assert deleted > 0
    remaining = spark.read.parquet(target)
    max_start = remaining.agg(F.max("backup_start_date")).first()[0]
    assert remaining.filter(F.col("backup_start_date") < max_start).count() == 0

    ctrl = f"file://{tmp_path}/control"
    watermark.init_source_servers(spark, ctrl, ["S1", "S2"],
                                  initial_watermark=dt.datetime(2025, 1, 1))
    marks = spark.createDataFrame(
        [("S1", dt.datetime(2025, 2, 1))], ["ServerName", "MaxETLDateTime"]
    )
    watermark.update_watermarks(spark, ctrl, marks)
    out = {r["ServerName"]: r["LastETLDatetime"]
           for r in watermark.read_source_servers(spark, ctrl).collect()}
    assert out["S1"] == dt.datetime(2025, 2, 1)
    assert out["S2"] == dt.datetime(2025, 1, 1)


def test_retention_job_count_independent_of_partition_count(spark, tmp_path):
    """apply_retention must issue a bounded number of Spark jobs no
    matter how many date partitions are dropped (VERDICT r2 #5) — the
    doomed-partition accounting is one count over all of them, not a
    job per partition."""

    def build(nparts: int, path: str) -> None:
        rows = [
            (i, dt.datetime(2025, 1, 1, 6) + dt.timedelta(days=i))
            for i in range(nparts)
        ]
        (
            spark.createDataFrame(rows, ["backup_set_id", "backup_start_date"])
            .withColumn("backup_date", F.to_date("backup_start_date"))
            .repartition(1)
            .write.partitionBy("backup_date")
            .parquet(path)
        )

    def jobs_used(path: str, tag: str) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(tag, "retention-job-count")
        try:
            apply_retention(spark, path, retention_days=1,
                            now=dt.datetime(2026, 1, 1))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    small, large = str(tmp_path / "small"), str(tmp_path / "large")
    build(3, small)
    build(12, large)
    n_small, n_large = jobs_used(small, "ret-small"), jobs_used(large, "ret-large")
    assert n_large == n_small, (n_small, n_large)


def test_delta_merge_variant_gated(spark):
    """The Delta MERGE form of the idempotent sink (SURVEY §2.3 J6
    alternative) raises a clear ImportError in this container (no
    delta-spark); the parquet anti-join path is the default."""
    import pytest

    from sqlbackuphistoryetl_spark.operators.merge import idempotent_merge_delta

    df = spark.createDataFrame(consolidated_rows(), schema.CONSOLIDATED)
    try:
        import delta  # noqa: F401

        pytest.skip("delta-spark present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="delta-spark"):
        idempotent_merge_delta(spark, df, "/tmp/never-written")


class _FakeDeltaTable:
    """Contract double for ``delta.tables.DeltaTable`` (r8 verdict
    task 5 — exercise ``idempotent_merge_delta`` without delta-spark,
    the same doctrine as the stubbed-msal auth tests). Implements
    exactly the surface the production code drives — ``isDeltaTable`` /
    ``forPath`` / ``alias`` / ``merge`` / ``whenNotMatchedInsertAll`` /
    ``execute`` / ``history`` — with parquet storage and REAL Spark SQL
    evaluation of the merge-condition string, so the null-safe key
    condition, the call order and the operationMetrics plumbing all run
    for real; only Delta's transaction log is faked."""

    def __init__(self, spark, path):
        self._spark = spark
        self._path = path
        self._alias_name = None
        self._src = None
        self._cond = None
        self._insert_all = False
        self._last_inserted = 0

    @staticmethod
    def isDeltaTable(spark, path):
        import os

        return os.path.exists(os.path.join(path, "_fake_delta_log"))

    @classmethod
    def forPath(cls, spark, path):
        if not cls.isDeltaTable(spark, path):
            raise AssertionError(f"{path} is not a (fake) delta table")
        return cls(spark, path)

    def alias(self, name):
        self._alias_name = name
        return self

    def merge(self, source, condition):
        self._src = source
        self._cond = condition
        return self

    def whenNotMatchedInsertAll(self):
        self._insert_all = True
        return self

    def execute(self):
        assert self._insert_all and self._src is not None
        tgt = self._spark.read.parquet(self._path).alias(self._alias_name)
        new = self._src.join(tgt, F.expr(self._cond), "left_anti")
        n = new.count()
        if n:
            new.write.mode("append").partitionBy("backup_date").parquet(
                self._path
            )
        self._last_inserted = n

    def history(self, _n):
        return self._spark.createDataFrame(
            [({"numTargetRowsInserted": str(self._last_inserted)},)],
            "operationMetrics map<string,string>",
        )


def _seed_fake_delta(spark, rows, path):
    df = spark.createDataFrame(rows, schema.CONSOLIDATED).withColumn(
        "backup_date", F.to_date("backup_start_date")
    )
    df.write.partitionBy("backup_date").parquet(path)
    import os

    os.makedirs(os.path.join(path, "_fake_delta_log"), exist_ok=True)


@pytest.fixture
def fake_delta(monkeypatch):
    import sys
    import types

    pkg = types.ModuleType("delta")
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = _FakeDeltaTable
    pkg.tables = tables
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)


def test_delta_merge_contract_insert_if_absent(spark, tmp_path, fake_delta):
    """MERGE WHEN NOT MATCHED inserts only absent keys: partial
    overlap, intra-batch duplicates and full replay all behave exactly
    like the parquet anti-join sink (SURVEY §2.3 J6, sql:33)."""
    from sqlbackuphistoryetl_spark.operators.merge import (
        idempotent_merge_delta,
    )

    target = str(tmp_path / "delta_tgt")
    rows = consolidated_rows()
    _seed_fake_delta(spark, rows[:10], target)

    # rows 8..9 overlap the seed; one intra-batch duplicate on top
    batch = spark.createDataFrame(
        rows[8:] + [rows[8]], schema.CONSOLIDATED
    )
    n = idempotent_merge_delta(spark, batch, target)
    assert n == len(rows) - 10

    total = spark.read.parquet(target)
    assert total.count() == len(rows)
    dup_keys = (
        total.groupBy(*schema.CONSOLIDATED_KEY).count().filter("count > 1")
    )
    assert dup_keys.count() == 0

    # full replay: zero inserts, sink unchanged
    replay = spark.createDataFrame(rows, schema.CONSOLIDATED)
    assert idempotent_merge_delta(spark, replay, target) == 0
    assert spark.read.parquet(target).count() == len(rows)


def test_delta_merge_condition_is_null_safe(spark, tmp_path, fake_delta):
    """The merge condition uses <=> per key column: a row whose key
    contains NULL must match its replay (plain = would re-insert it
    forever — the exact bug class the reference's unique index
    prevents)."""
    from sqlbackuphistoryetl_spark.operators.merge import (
        idempotent_merge_delta,
    )

    import copy

    from pyspark.sql import types as T

    nullable = T.StructType(
        [
            T.StructField(f.name, copy.deepcopy(f.dataType), True)
            for f in schema.CONSOLIDATED.fields
        ]
    )
    target = str(tmp_path / "delta_tgt_null")
    rows = consolidated_rows()
    null_key = dict(rows[0])
    null_key["first_lsn"] = None  # NULL inside the logical key
    null_key["physical_device_name"] = "X:\\bk\\null_lsn.bak"
    seed = spark.createDataFrame([null_key], nullable).withColumn(
        "backup_date", F.to_date("backup_start_date")
    )
    seed.write.partitionBy("backup_date").parquet(target)
    import os

    os.makedirs(os.path.join(target, "_fake_delta_log"), exist_ok=True)

    replay = spark.createDataFrame([null_key], nullable)
    assert idempotent_merge_delta(spark, replay, target) == 0
    assert spark.read.parquet(target).count() == 1


def test_retention_boundary_rewrite_keeps_columns_and_types(spark, tmp_path):
    """The boundary partition is rewritten from a declared-schema read;
    the rewritten files must carry every column of the files run_etl
    wrote, each with its type, and no partition column."""
    from sqlbackuphistoryetl_spark.plans.etl import run_etl
    from sqlbackuphistoryetl_spark.plans.watermark import init_source_servers
    from sqlbackuphistoryetl_spark.sources.fixtures import raw_source_tables

    control = str(tmp_path / "control")
    target = str(tmp_path / "consolidated")
    init_source_servers(spark, control, ["SQLNODE01"],
                        initial_watermark=dt.datetime(2025, 1, 1))
    assert run_etl(spark, {"SQLNODE01": raw_source_tables(spark)}, control, target
                   ).rows_appended == 5
    boundary = f"{target}/backup_date=2025-01-01"
    before = dict(spark.read.parquet(boundary).dtypes)
    sink_before = dict(spark.read.parquet(target).dtypes)

    # threshold 11:30 ⇒ cutoff 11:00, inside the one partition: the sets
    # that started 01:00 and 10:00 (2 stripes) go, 11:00 and 12:00 stay
    deleted = apply_retention(spark, target, retention_days=1,
                              now=dt.datetime(2025, 1, 2, 11, 30))
    assert deleted == 3
    assert dict(spark.read.parquet(boundary).dtypes) == before
    assert dict(spark.read.parquet(target).dtypes) == sink_before
    assert spark.read.parquet(target).count() == 2
