"""Source readers (SURVEY §2.1 S1-S3).

In production the extract runs against each source server over JDBC —
``spark.read.format("jdbc")`` with the *whole extract query* pushed down
(``dbtable = (<query>) t``) so joins/CASE/JSON work execute source-side
exactly like the reference's embedded T-SQL (SURVEY §4 row 1). Tests and
the local harness read msdb-shaped parquet/DataFrames instead; the
transform (`extract.py`) is identical either way.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import schema


@dataclass
class SourceTables:
    """One source server's msdb-shaped relations (FIXTURES.md §A3)."""

    backupset: DataFrame
    backupmediafamily: DataFrame
    backupfile: DataFrame
    databases: DataFrame
    replica_states: DataFrame
    availability_groups: DataFrame


#: The six tables with their declared schemas (schema.py). Reading with
#: a declared schema skips Spark's footer-inference job per table.
_TABLE_SCHEMAS = {
    "backupset": schema.BACKUPSET,
    "backupmediafamily": schema.BACKUPMEDIAFAMILY,
    "backupfile": schema.BACKUPFILE,
    "databases": schema.DATABASES,
    "replica_states": schema.REPLICA_STATES,
    "availability_groups": schema.AVAILABILITY_GROUPS,
}


def read_source_tables(spark: SparkSession, path: str) -> SourceTables:
    """Read the six msdb-shaped tables from ``{path}/{name}.parquet``."""
    return SourceTables(
        **{
            name: spark.read.schema(declared).parquet(f"{path}/{name}.parquet")
            for name, declared in _TABLE_SCHEMAS.items()
        }
    )


def read_consolidated(spark: SparkSession, path: str) -> DataFrame:
    """Read the consolidated sink (partitioned by backup_date)."""
    return spark.read.schema(schema.CONSOLIDATED_SINK).parquet(path)


def jdbc_extract_reader(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC scan with full query pushdown (production path; S1/S2).

    The caller embeds the watermark predicate in ``query`` so filtering
    happens on the source server — reproducing the reference's
    source-side execution (Get-BackupHistoryToETL.ps1:72).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"({query}) extract_q")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def schema_drift(batch: DataFrame, sink: DataFrame) -> list[dict]:
    """Schema-drift report for an incoming batch vs an existing sink:
    added / dropped / type-changed columns (name-keyed, order-blind).
    Driver-side metadata comparison — no jobs run. The operational
    pre-flight an ingest runs before an append, since parquet appends
    with silently different schemas poison the sink for every later
    reader."""
    b = dict(batch.dtypes)
    s = dict(sink.dtypes)
    report: list[dict] = []
    for name in sorted(b.keys() - s.keys()):
        report.append({"column": name, "change": "added", "batch_type": b[name]})
    for name in sorted(s.keys() - b.keys()):
        report.append({"column": name, "change": "dropped", "sink_type": s[name]})
    for name in sorted(b.keys() & s.keys()):
        if b[name] != s[name]:
            report.append(
                {"column": name, "change": "type_changed",
                 "batch_type": b[name], "sink_type": s[name]}
            )
    return report
