"""DBFileInformation JSON pair (SURVEY §2.8 — FOR JSON PATH /
OPENJSON re-expressed as to_json/from_json).

The reference serializes a backup set's file list with a correlated
OUTER APPLY + FOR JSON PATH (Get-BackupHistoryToETL.ps1:65-70) and
re-reads it with OPENJSON WITH (sql:739-744). The engine de-correlates:
group the files table by backup_set_id, to_json(collect_list(struct)),
then LEFT join — the idiomatic, scalable form (SURVEY §2.3 J5). OUTER
semantics preserved: sets with no files get NULL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import DBFILE_INFO

_FIELDS = ["logical_name", "physical_drive", "physical_name", "file_type", "file_number"]

# SQL text, parsed on the JVM in one call (a Column-builder chain costs a
# py4j round-trip per call): file_number serialized as a string, files
# ordered by its integer value.
_DBFILES_JSON = (
    "to_json(array_sort("
    "collect_list(struct(`logical_name`, `physical_drive`, `physical_name`, `file_type`,"
    " CAST(`file_number` AS STRING) AS `file_number`)),"
    " (l, r) -> CASE WHEN CAST(l.file_number AS INT) < CAST(r.file_number AS INT) THEN -1"
    " WHEN CAST(l.file_number AS INT) > CAST(r.file_number AS INT) THEN 1 ELSE 0 END"
    ")) AS `DBFileInformation`"
)


def dbfiles_to_json_agg(
    backupfile: DataFrame, keys: Sequence[str] = ("backup_set_id",)
) -> DataFrame:
    """(*keys, DBFileInformation JSON) — one row per set that has live
    files. ``keys`` identify a backup set: ``backup_set_id`` for one
    server, plus the server tag for the fleet extract. Excludes dropped
    files (state=8, Get-BackupHistoryToETL.ps1:68). Deterministic file
    order by
    file_number (intentional strengthening — FOR JSON PATH order is
    whatever the scan produced).

    DOCUMENTED DEVIATION (NULL semantics): the reference's T-SQL
    ``bf.state <> 8`` evaluates to UNKNOWN for NULL state and so DROPS
    NULL-state rows; this engine KEEPS them (``state IS NULL OR state
    != 8``). msdb's backupfile.state is non-null in practice, so the
    behaviors coincide on real data — but a file of unknown state is a
    file the restore script must account for, so keeping is the safer
    default. Pinned by tests/test_operators.py::
    test_dbfiles_json_null_state_kept."""
    return (
        backupfile.filter("`state` IS NULL OR `state` != 8")
        .groupBy(*keys)
        .agg(F.expr(_DBFILES_JSON))
    )


def parse_dbfile_information(col: Column | str = "DBFileInformation") -> Column:
    """JSON string → array<struct> (OPENJSON WITH analog, sql:739-744)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, DBFILE_INFO)


def explode_dbfile_information(df: DataFrame, json_col: str = "DBFileInformation") -> DataFrame:
    """Explode the JSON file array to one row per database file with the
    reference's five columns (#DBFiles shape, sql:724-744)."""
    parsed = df.withColumn("_files", parse_dbfile_information(json_col))
    exploded = parsed.select(
        *[c for c in df.columns if c != json_col],
        F.explode("_files").alias("_f"),
    )
    return exploded.select(
        *[c for c in df.columns if c != json_col],
        *[F.col(f"_f.{f}").alias(f) for f in _FIELDS],
    )
