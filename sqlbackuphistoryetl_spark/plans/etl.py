"""ETL run orchestration — entry point 1 (SURVEY §3.1,
Invoke-SQLBackupHistoryETL.ps1).

Reference lifecycle: scan control table → per-server sequential loop of
(extract → row-at-a-time load → watermark UPDATE). The engine keeps the
*recovery semantics* (extract failure ⇒ skip server, watermark
untouched, retried next run; load failure ⇒ abort run — SURVEY §2.11.6)
but replaces the sequential loop with ONE fleet plan
(sources/extract.py):

    per server, inside its own try: six tables projected to the
    extract's columns, tagged with a server index, watermark-filtered
    → tables unioned across servers → J1-J5 + the file-list
    aggregation once, keyed by (server index, msdb id)
    → LogIDs → one localCheckpoint → ONE dedup + anti-join + append
    → groupBy(server).max(backup_finish_date) → one control-table upsert

A server whose tables do not project (no source registered, a missing
column) is skipped before anything is unioned. The plan, its broadcast
exchanges and its Spark job count are the same for one server as for
N. The sink, the LogID sidecar and the control table are all read with
declared schemas, so no run pays a footer-inference job. LogID is
assigned as monotonically_increasing_id() + max existing (surrogate
only; query semantics never depend on its density — SURVEY §1.2 row 1).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..operators.merge import idempotent_append
from ..sources.extract import (  # noqa: F401 — extract_backup_history re-exported
    REPLAY_BUFFER_MINUTES,
    extract_backup_history,
    extract_fleet,
    project_source,
)
from ..sources.readers import SourceTables, read_consolidated
from .watermark import read_source_servers, update_watermarks

log = logging.getLogger(__name__)


@dataclass
class ETLResult:
    rows_appended: int = 0
    servers_ok: list[str] = field(default_factory=list)
    servers_skipped: list[str] = field(default_factory=list)


_HWM_SCHEMA = "max_log_id long"


def _hwm_path(target_path: str) -> str:
    return f"{target_path.rstrip('/')}_logid_hwm"


def _read_logid_hwm(spark: SparkSession, target_path: str) -> int:
    """LogID high-water mark for the sink, carried in a one-row sidecar
    so the hot incremental path never scans the sink's history — at
    100 TB of accumulated rows, a per-run ``max(LogID)`` over the full
    sink is an O(files) footer scan for one number. Falls back to that
    full scan exactly once (sidecar missing — pre-existing sink), after
    which every run reads one tiny file."""
    from ..operators.merge import _sink_exists

    if fsutil.exists(spark, _hwm_path(target_path)):
        return (
            spark.read.schema(_HWM_SCHEMA)
            .parquet(_hwm_path(target_path))
            .first()["max_log_id"]
        )
    if _sink_exists(spark, target_path):
        log.info("LogID sidecar missing — one-time full-sink scan to seed it")
        return read_consolidated(spark, target_path).agg(F.max("LogID")).first()[0] or 0
    return 0


def _write_logid_hwm(spark: SparkSession, target_path: str, value: int) -> None:
    from .watermark import _atomic_overwrite

    # built on the JVM: createDataFrame from Python rows would run the
    # write's one task through a Python worker
    df = spark.range(1).select(F.lit(int(value)).cast("long").alias("max_log_id"))
    _atomic_overwrite(spark, df, _hwm_path(target_path))


def _with_log_id(spark: SparkSession, batch: DataFrame, max_id: int) -> DataFrame:
    return batch.withColumn(
        "LogID", (F.monotonically_increasing_id() + F.lit(max_id + 1)).cast("long")
    )


def _extract_batch(
    sources: dict[str, SourceTables],
    servers: list,
    replay_buffer_minutes: int,
    result: ETLResult,
) -> DataFrame | None:
    """The fleet extract over every registered server that projects
    cleanly; None when none does. A server with no registered source, or
    whose tables lack a column the extract reads, is skipped — its
    watermark stays put and the next run retries it."""
    projected: list[SourceTables] = []
    for row in servers:
        name, wm = row["ServerName"], row["LastETLDatetime"]
        src = sources.get(name)
        if src is None:
            log.warning("no source registered for %s — skipping", name)
            result.servers_skipped.append(name)
            continue
        try:
            projected.append(
                project_source(src, len(projected), wm, replay_buffer_minutes)
            )
        except Exception:  # extract failure ⇒ skip server, watermark untouched
            log.exception("extract failed for %s — skipping", name)
            result.servers_skipped.append(name)
            continue
        result.servers_ok.append(name)
    if not projected:
        return None
    return _cast_load_types(extract_fleet(projected))


def run_etl(
    spark: SparkSession,
    sources: dict[str, SourceTables],
    control_path: str,
    target_path: str,
    replay_buffer_minutes: int = REPLAY_BUFFER_MINUTES,
) -> ETLResult:
    """One incremental run over every registered source server."""
    result = ETLResult()
    servers = read_source_servers(spark, control_path).collect()
    batch = _extract_batch(sources, servers, replay_buffer_minutes, result)
    if batch is None:
        return result

    prev_hwm = _read_logid_hwm(spark, target_path)
    batch = _with_log_id(spark, batch, prev_hwm)

    # Materialize the extracted batch EXACTLY ONCE (r3 verdict task 4).
    # Deriving the append and the watermark maxima from the same lazy
    # lineage would re-pull every source server a second time — and rows
    # arriving between the two pulls could advance a watermark past data
    # the append job never saw, leaning on the replay buffer to repair
    # it. The reference computes maxima over the loaded batch
    # (Invoke-SQLBackupHistoryETL.ps1:46-47); localCheckpoint pins that
    # snapshot (executor-local storage, truncated lineage) so both
    # consumers read the identical rows with one source read. The
    # batch's LogID maximum and earliest start ride the checkpoint job
    # as an Observation — no separate aggregation job.
    bounds = Observation()
    batch = batch.observe(
        bounds,
        F.max("LogID").alias("hwm"),
        F.min("backup_start_date").alias("first_start"),
    ).localCheckpoint(eager=True)
    new_hwm, first_start = bounds.get["hwm"], bounds.get["first_start"]
    if new_hwm is None:  # nothing extracted: no append, no mark moves
        return result

    # Sidecar high-water mark BEFORE the append (r4 ADVICE): with the
    # reverse order, a crash in the window between append and sidecar
    # write replays with ids re-derived from a fresh
    # monotonically_increasing_id layout — fewer partitions on replay
    # re-writes an hwm LOWER than LogIDs already committed, and the
    # NEXT batch's ids collide with committed rows. Written first, the
    # mark always bounds every id the append may commit; a crash after
    # it costs only an id gap (the surrogate is never dense —
    # SURVEY §1.2).
    if new_hwm > prev_hwm:
        _write_logid_hwm(spark, target_path, new_hwm)

    # Duplicate candidates are batch keys already in the sink, and the
    # sink partitions by start date — so the prune bound is the batch's
    # earliest backup_start_date, not the watermark (a finish-date
    # bound), which would miss a replayed backup that crossed midnight.
    # Load failure propagates (aborts the run) — watermarks then stay
    # put and the next run replays; the idempotent sink absorbs it.
    result.rows_appended = idempotent_append(
        spark, batch, target_path, overlap_start=first_start
    )

    new_marks = (
        batch.groupBy(F.col("server_name").alias("ServerName"))
        .agg(F.max("backup_finish_date").alias("MaxETLDateTime"))
        .filter(F.col("ServerName").isNotNull())
    )
    update_watermarks(spark, control_path, new_marks)
    return result


def _jdbc_table_exists(
    spark: SparkSession, url: str, table: str, props: dict[str, str]
) -> bool:
    """Catalog-metadata existence probe via ``DatabaseMetaData
    .getTables`` — tried with the name as given plus the upper/lower
    case folds (Derby stores unquoted identifiers upper-cased; Postgres
    lower; SQL Server as-is). Raises on connection failure — a probe
    that can't reach the database must abort the run, not report
    "missing"."""
    jvm = spark._jvm
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        meta = conn.getMetaData()
        for name in dict.fromkeys([table, table.upper(), table.lower()]):
            rs = meta.getTables(None, None, name, None)
            try:
                if rs.next():
                    return True
            finally:
                rs.close()
        return False
    finally:
        conn.close()


def run_etl_jdbc(
    spark: SparkSession,
    sources: dict[str, SourceTables],
    url: str,
    control_table: str = "source_servers",
    target_table: str = "consolidated",
    properties: dict[str, str] | None = None,
    replay_buffer_minutes: int = REPLAY_BUFFER_MINUTES,
    token_provider=None,
) -> ETLResult:
    """The reference's actual deployment shape, end to end over JDBC
    (Invoke-SQLBackupHistoryETL.ps1:32-71): the control table and the
    consolidated sink live in the target SQL database; per-server
    msdb-shaped extracts feed ONE set-based merge; watermarks advance
    via parameterized UPDATEs. Same recovery semantics as
    :func:`run_etl` (extract failure ⇒ skip server, watermark
    untouched; load failure ⇒ abort, replay next run), same
    one-materialization discipline for the extracted batch.

    JDBC specifics vs the parquet twin:

    - The LogID high-water mark is ONE ``max("LogID")`` query pushed to
      the target database (index-able there) instead of the parquet
      sidecar; a missing target table reads as hwm 0 / no existing
      keys — the first append auto-creates it.
    - The dup-candidate key slice reads back through Spark's JDBC
      filter pushdown (``backup_finish_date >=`` the batch's earliest
      finish runs server-side), shipping only the overlap window's key
      columns.
    - Watermark updates are per-server parameterized statements
      (:func:`..plans.sinks.jdbc_update_watermark`) — one row each,
      the reference's own write shape, injection-impossible.
    """
    from ..schema import CONSOLIDATED_KEY
    from ..sources.readers import jdbc_extract_reader
    from .sinks import (
        _resolve_properties,
        jdbc_append_new_rows,
        jdbc_update_watermark,
    )

    props = _resolve_properties(properties, token_provider)
    result = ETLResult()
    servers = jdbc_extract_reader(
        spark,
        url,
        f'select "ServerName", "LastETLDatetime" from {control_table}',
        props,
    ).collect()

    batch = _extract_batch(sources, servers, replay_buffer_minutes, result)
    if batch is None:
        return result

    def _target_reader():
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", target_table)
        )
        for k, v in props.items():
            reader = reader.option(k, v)
        return reader.load()

    # First-run detection is an EXPLICIT existence probe (JDBC catalog
    # metadata), never exception-shaped: a bare except around the reads
    # would turn any transient failure (network blip, expired token,
    # permissions) into "first run" — empty existing-keys, hwm 0 — and
    # the append would re-insert the whole replay window with colliding
    # LogIDs. If the table exists, a failing read now PROPAGATES and
    # aborts the run (the load-failure contract: watermarks untouched,
    # next run replays, the anti-join absorbs it).
    exists = _jdbc_table_exists(spark, url, target_table, props)
    if exists:
        prev_hwm = int(
            jdbc_extract_reader(
                spark,
                url,
                f'select max("LogID") as "max_log_id" from {target_table}',
                props,
            ).first()["max_log_id"]
            or 0
        )
    else:
        log.info("target %s does not exist — first run", target_table)
        prev_hwm = 0

    # one materialization feeds both the append and the watermark maxima
    # (the run_etl rationale: rows arriving between two source pulls
    # could advance a mark past data the append never saw); the batch's
    # earliest finish rides the checkpoint job as an Observation
    bounds = Observation()
    union = (
        _with_log_id(spark, batch, prev_hwm)
        .observe(bounds, F.min("backup_finish_date").alias("first_finish"))
        .localCheckpoint(eager=True)
    )
    first_finish = bounds.get["first_finish"]
    if first_finish is None:  # nothing extracted: no append, no mark moves
        return result
    if exists:
        # a duplicate in the target has its batch twin's finish date
        existing = (
            _target_reader()
            .filter(F.col("backup_finish_date") >= F.lit(first_finish))
            .select(*CONSOLIDATED_KEY)
        )
    else:
        existing = union.select(*CONSOLIDATED_KEY).limit(0)

    result.rows_appended = jdbc_append_new_rows(
        union, url, target_table, existing, properties=props
    )

    new_marks = (
        union.groupBy("server_name")
        .agg(F.max("backup_finish_date").alias("mx"))
        .filter(F.col("server_name").isNotNull())
        .collect()
    )
    for r in new_marks:
        jdbc_update_watermark(
            spark, url, control_table, r["server_name"], r["mx"], props
        )
    return result


def _cast_load_types(batch: DataFrame) -> DataFrame:
    """Extract computes sizes as bigint; the table stores int
    (SURVEY §1.2 'int' row — cast on load)."""
    return batch.withColumn(
        "UncompressedSizeMB", F.col("UncompressedSizeMB").cast("int")
    ).withColumn("CompressedSizeMB", F.col("CompressedSizeMB").cast("int"))
