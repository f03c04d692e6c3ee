"""Backup-history benchmark: seeded closed-loop workloads over the ETL and
restore paths, every operation checked against an independent oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 20 --trace 0

One client, closed loop: each operation starts when the previous one has
finished and been checked. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Progress goes to standard error. Everything the run
writes lives under ``.bench_tmp/`` in the working directory and is
removed at the end.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

#: Spark task threads: 2, and never more than the CPUs this process may
#: use (the package's default is 32). On a 4-core host this leaves cores
#: for the Python driver, which waits on py4j, and for the JVM's JIT and
#: GC threads; the operations run about one task per stage.
CPUS = max(1, min(2, len(os.sched_getaffinity(0))))
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- Spark


class Session:
    """The program's SparkSession, started with every scratch path inside
    ``workdir``; ``close`` stops the JVM and waits for it and its
    children to exit."""

    def __init__(self, workdir: str) -> None:
        from sqlbackuphistoryetl_spark.session import get_spark

        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": tmp,
                # a fixed heap size, so the collector's work does not depend
                # on when it chose to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
                    # compiler threads live for the whole run, so their CPU
                    # time can be told apart (see cpu_s)
                    "-XX:-UseDynamicNumberOfCompilerThreads"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        children (Python workers), without the JVM's JIT compiler and
        code-cache sweeper threads: compiling is warm-up work that fades
        over a run, so with it the figure would depend on how many
        operations a run did."""
        total = 0
        for pid in [os.getpid(), self.jvm_pid, *_children(self.jvm_pid)]:
            total += _ticks(f"/proc/{pid}/stat", children=True)
        for task in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{task}/comm") as fh:
                    name = fh.read()
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")):
                total -= _ticks(f"/proc/{self.jvm_pid}/task/{task}/stat")
        return total / os.sysconf("SC_CLK_TCK")

    def collect_garbage(self) -> None:
        """A full collection, so that every operation starts from the same
        heap state: whether the collector's concurrent marking runs during
        an operation would otherwise depend on what ran before it."""
        self.spark._jvm.java.lang.System.gc()

    def close(self) -> None:
        from pyspark import SparkContext

        children = _children(self.jvm_pid)
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in [self.jvm_pid, *children]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def _ticks(stat_path: str, children: bool = False) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file; 0 for a
    process or thread that has just exited."""
    try:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15 if children else 13])


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(name))
    return out


def source_tables(spark, dirs: dict[str, str]):
    """Lazy readers over each server's msdb parquet, with the package's
    declared schemas."""
    from sqlbackuphistoryetl_spark import schema
    from sqlbackuphistoryetl_spark.sources.readers import SourceTables

    schemas = {
        "backupset": schema.BACKUPSET,
        "backupmediafamily": schema.BACKUPMEDIAFAMILY,
        "backupfile": schema.BACKUPFILE,
        "databases": schema.DATABASES,
        "replica_states": schema.REPLICA_STATES,
        "availability_groups": schema.AVAILABILITY_GROUPS,
    }
    return {
        server: SourceTables(**{
            name: spark.read.schema(schemas[name]).parquet(f"{d}/{name}.parquet")
            for name in gen.TABLES
        })
        for server, d in dirs.items()
    }


def visible(tables, clock: dt.datetime):
    """What each source server's msdb holds at ``clock``: backups that
    have finished."""
    from pyspark.sql import functions as F
    from sqlbackuphistoryetl_spark.sources.readers import SourceTables

    return {
        server: SourceTables(**{
            **vars(t),
            "backupset": t.backupset.filter(F.col("backup_finish_date") <= F.lit(clock)),
        })
        for server, t in tables.items()
    }


# ---------------------------------------------------------------- reading outputs


def _py(column) -> list:
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_timestamp(column.type):
        column = pc.cast(column, pa.timestamp("us", tz=column.type.tz))
        return [v.replace(tzinfo=None) if v is not None else None for v in column.to_pylist()]
    return column.to_pylist()


def read_sink(path: str) -> list[tuple]:
    import pyarrow.dataset as ds

    cols = ["last_lsn", "first_lsn", "database_name", "physical_device_name", "LogID",
            "backup_start_date"]
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(_py(table.column(c)) for c in cols)))


def read_watermarks(path: str) -> dict[str, dt.datetime]:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet").to_table()
    return dict(zip(_py(table.column("ServerName")), _py(table.column("LastETLDatetime"))))


def sink_layout(path: str, rows: int) -> tuple[float, int]:
    """(on-disk parquet bytes per row, parquet file count) of the sink."""
    nbytes = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
    return nbytes / rows, files


# ---------------------------------------------------------------- workloads


class Workload:
    """One closed-loop workload. ``setup`` builds the inputs and the
    program's state; ``op`` runs one timed operation and returns
    (seconds, rows, check); ``check()`` returns the oracle's problems."""

    spec: gen.FleetSpec
    warmup_ops: int

    def __init__(self, spark, workdir: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rng = random.Random(seed * 7919 + 17)
        self.tracer = tracer
        self.sink = os.path.join(workdir, "sink")
        self.control = os.path.join(workdir, "control")
        self.sink_bytes_per_row = 0.0
        self.sink_files = 0

    def round(self) -> list:
        """One round of operations, as (operation, sampled) pairs. A run
        attempts whole rounds; only sampled operations feed the metrics."""
        return [(self.op, True)]

    def span(self, layer: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(layer, fn, *args, **kwargs)

    def prepare_sources(self) -> None:
        self.fleet = gen.generate(self.spec, self.seed)
        dirs = gen.write_sources(self.fleet, os.path.join(self.workdir, "src"))
        self.tables = source_tables(self.spark, dirs)
        self.model = oracle.SinkModel(self.fleet)

    def load(self, clock: dt.datetime):
        from sqlbackuphistoryetl_spark.plans.etl import run_etl

        return self.span("plans.etl", run_etl, self.spark, visible(self.tables, clock),
                         self.control, self.sink)

    def check_load(self, result, clock: dt.datetime, previous) -> list[str]:
        expected = self.model.advance(clock)
        problems = oracle.check_count("rows_appended", result.rows_appended, expected)
        marks = read_watermarks(self.control)
        problems += oracle.check_watermarks(
            marks, self.model.watermarks(self.initial_mark), previous)
        self.marks = marks
        return problems

    def record_layout(self) -> None:
        rows = read_sink(self.sink)
        self.sink_bytes_per_row, self.sink_files = sink_layout(self.sink, len(rows))


class EtlIncremental(Workload):
    """Hourly incremental ETL over a fleet, then retention, so the sink
    stays a rolling window."""

    spec = gen.FleetSpec(standalone_servers=2, ag_pairs=1, dbs_per_server=8,
                         dbs_per_ag=6, hours=26 + 150)
    warmup_ops = 2
    initial_hours = 26
    retention_days = 1

    def setup(self) -> list[str]:
        from sqlbackuphistoryetl_spark.plans.watermark import init_source_servers

        self.prepare_sources()
        self.initial_mark = self.fleet.start - dt.timedelta(days=1)
        init_source_servers(self.spark, self.control, self.fleet.servers,
                            initial_watermark=self.initial_mark)
        self.marks = None
        self.clock = self.fleet.start + dt.timedelta(hours=self.initial_hours)
        result = self.load(self.clock)
        problems = self.check_load(result, self.clock, None)
        problems += self.check_retention(self._retain())
        self.probe = MidnightReplay(self.spark, os.path.join(self.workdir, "midnight"))
        return problems + self.probe.problems

    def round(self) -> list:
        return [(self.op, True), (self.op, True), (self.probe.op, False)]

    def _retain(self) -> int:
        from sqlbackuphistoryetl_spark.operators.retention import apply_retention

        deleted = self.span("operators.retention", apply_retention, self.spark, self.sink,
                            retention_days=self.retention_days, now=self.clock)
        if self.tracer is not None and self.tracer.active:
            self.tracer.counts["operators.retention.rows_deleted"] += deleted
        return deleted

    def check_retention(self, deleted: int) -> list[str]:
        cutoff, expected = self.model.retain(self.clock, self.retention_days)
        problems = oracle.check_count("rows deleted by retention", deleted, expected)
        return problems + oracle.check_sink(read_sink(self.sink), set(self.model.rows), cutoff)

    def op(self):
        self.clock += dt.timedelta(hours=1)
        if self.clock > self.fleet.end:
            raise RuntimeError("generated history exhausted; raise FleetSpec.hours")
        t0 = time.perf_counter()
        result = self.load(self.clock)
        deleted = self._retain()
        elapsed = time.perf_counter() - t0
        clock, previous = self.clock, self.marks

        def check() -> list[str]:
            return self.check_load(result, clock, previous) + self.check_retention(deleted)

        return elapsed, result.rows_appended, check


class MidnightReplay:
    """A fixed input, the same for every seed (``gen.midnight_fleet``): a
    Full that runs 23:50 -> 00:02 and a Log that finishes at 00:06.
    Set-up loads it with ``run_etl`` at 00:10 and keeps the control table
    and sink as a template. One operation copies the template and runs
    ``run_etl`` again at 00:20, which has nothing new and must append
    nothing. The program prunes the sink side of its replay anti-join by
    start date (``backup_date``) while the replay filter is on finish
    date, so this run appends the Full again, and the operation fails
    every time."""

    def __init__(self, spark, workdir: str) -> None:
        from sqlbackuphistoryetl_spark.plans.watermark import init_source_servers

        self.spark = spark
        self.workdir = workdir
        self.fleet = gen.midnight_fleet()
        self.tables = source_tables(
            spark, gen.write_sources(self.fleet, os.path.join(workdir, "src")))
        self.template = os.path.join(workdir, "template")
        self.model = oracle.SinkModel(self.fleet)
        midnight = self.fleet.start + dt.timedelta(days=1)
        loaded = midnight + dt.timedelta(minutes=10)
        self.clock = midnight + dt.timedelta(minutes=20)
        init_source_servers(spark, os.path.join(self.template, "control"), self.fleet.servers,
                            initial_watermark=self.fleet.start)
        result = self._load(loaded, self.template)
        self.problems = self._check(self.template, result.rows_appended, loaded)

    def _load(self, clock: dt.datetime, root: str):
        from sqlbackuphistoryetl_spark.plans.etl import run_etl

        return run_etl(self.spark, visible(self.tables, clock), os.path.join(root, "control"),
                       os.path.join(root, "sink"))

    def _check(self, root: str, appended: int, clock: dt.datetime) -> list[str]:
        problems = oracle.check_count(f"midnight replay: rows_appended at {clock:%H:%M}",
                                      appended, self.model.advance(clock))
        problems += oracle.check_watermarks(read_watermarks(os.path.join(root, "control")),
                                            self.model.watermarks(self.fleet.start))
        return problems + oracle.check_sink(read_sink(os.path.join(root, "sink")),
                                            set(self.model.rows))

    def op(self):
        root = os.path.join(self.workdir, "run")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.template, root)
        t0 = time.perf_counter()
        result = self._load(self.clock, root)
        elapsed = time.perf_counter() - t0

        def check() -> list[str]:
            return self._check(root, result.rows_appended, self.clock)

        return elapsed, result.rows_appended, check


class RestoreDrill(Workload):
    """Disaster-recovery drill at a seeded point in time T: the restore plan
    of every chain, set-based, then the restore script of one database."""

    spec = gen.FleetSpec(standalone_servers=2, ag_pairs=1, dbs_per_server=6,
                         dbs_per_ag=6, hours=24 * 10)
    warmup_ops = 4
    strata = 8

    def setup(self) -> list[str]:
        from sqlbackuphistoryetl_spark.plans.watermark import init_source_servers

        self.prepare_sources()
        self.initial_mark = self.fleet.start - dt.timedelta(days=1)
        init_source_servers(self.spark, self.control, self.fleet.servers,
                            initial_watermark=self.initial_mark)
        self.marks = None
        result = self.load(self.fleet.end)
        problems = self.check_load(result, self.fleet.end, None)
        problems += oracle.check_sink(read_sink(self.sink), set(self.model.rows))
        self.index = oracle.ChainIndex(list(self.model.rows.values()))
        self.consolidated = self.spark.read.parquet(self.sink)
        self.sink_rows = len(self.model.rows)
        self.n = 0
        return problems

    def _when(self) -> dt.datetime:
        """T for the n-th drill: every fourth in the last two hours (the
        latest tail), the rest stratified over the history after the
        first six hours."""
        self.n += 1
        end = self.fleet.end
        if self.n % 4 == 0:
            return end - dt.timedelta(seconds=self.rng.randrange(2 * 3600))
        lo = self.fleet.start + dt.timedelta(hours=6)
        span = (end - lo).total_seconds()
        k = self.n % self.strata
        frac = (k + self.rng.random()) / self.strata
        return lo + dt.timedelta(seconds=int(span * frac))

    def op(self):
        from sqlbackuphistoryetl_spark.plans.chain_all import restore_plan_all
        from sqlbackuphistoryetl_spark.plans.restore_script import generate_restore_script

        when = self._when()
        database, entity = self.rng.choice(self.fleet.chains)
        scope = ({"source_ag_name": entity} if entity in self.fleet.ags
                 else {"source_db_server": entity})
        t0 = time.perf_counter()
        plan = self.span("plans.chain_all", restore_plan_all, self.consolidated, when)
        rows = self.span("plans.chain_all.exec", plan.collect)
        script = self.span("plans.restore_script", generate_restore_script,
                           self.consolidated, database, restore_to_time=when, **scope)
        elapsed = time.perf_counter() - t0
        if self.tracer is not None and self.tracer.active:
            self.tracer.counts["plans.restore_script.steps"] += len(script.steps)

        def check() -> list[str]:
            return self.check_drill(rows, script, database, scope, when)

        return elapsed, self.sink_rows, check

    def check_drill(self, rows, script, database, scope, when) -> list[str]:
        groups: dict[tuple[str, str], list] = {}
        for r in sorted(rows, key=lambda r: (r["database_name"], r["entity"], r["seq"])):
            groups.setdefault((r["database_name"], r["entity"]), []).append(r)
        observed = {}
        problems = []
        for key, rs in groups.items():
            if [r["seq"] for r in rs] != list(range(1, len(rs) + 1)):
                problems.append(f"plan {key}: seq not 1..{len(rs)}")
            observed[key] = [
                oracle.Step(r["BackupType"], r["first_lsn"], r["last_lsn"],
                            oracle.parse_devices(r["devices"]), bool(r["stopat"]))
                for r in rs
            ]
        problems += oracle.check_plan(observed, oracle.plan_all(self.index, when))

        expected, full = oracle.restore_chain(
            self.index.scope(database, scope.get("source_db_server"),
                             scope.get("source_ag_name")), when)
        got = [
            oracle.Step(s.backup_type, s.first_lsn, s.last_lsn,
                        oracle.parse_devices(s.restore_command),
                        "STOPAT" in s.restore_command)
            for s in script.steps
        ]
        problems += oracle.check_chain(f"script {database}@{when}", got, expected)
        if full is not None and script.steps:
            names = oracle.move_names(script.steps[0].restore_command)
            if names != set(full.live_files):
                problems.append(f"MOVE clause names {sorted(names)}, expected {full.live_files}")
        return problems


WORKLOADS = {"etl_incremental": EtlIncremental, "restore_drill": RestoreDrill}


# ---------------------------------------------------------------- metrics


def end_to_end(w: Workload, setup_s: float, rows: list[int], cpus: list[float]) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_ms": {"value": statistics.median(cpus) * 1000.0, "unit": "ms"},
        "rows_per_cpu_s": {"value": sum(rows) / sum(cpus), "unit": "1/s"},
        "sink_bytes_per_row": {"value": w.sink_bytes_per_row, "unit": "B"},
        "sink_files": {"value": w.sink_files, "unit": "count"},
    }


#: per-layer metric -> (unit, how to compute it from the per-op records)
PER_LAYER = {
    "sources.extract.calls_per_op": ("count", "sources.extract.calls"),
    "sources.extract.construct_ms_per_op": ("ms", "sources.extract.ms"),
    "plans.watermark.ms_per_op": ("ms", "plans.watermark.ms"),
    "plans.etl.self_ms_per_op": ("ms", "plans.etl.self_ms"),
    "operators.merge.ms_per_op": ("ms", "operators.merge.ms"),
    "operators.merge.rows_appended_per_op": ("count", "operators.merge.rows_appended"),
    "operators.merge.files_written_per_op": ("count", "operators.merge.files_written"),
    "operators.retention.ms_per_op": ("ms", "operators.retention.ms"),
    "operators.retention.rows_deleted_per_op": ("count", "operators.retention.rows_deleted"),
    "plans.restore_script.ms_per_op": ("ms", "plans.restore_script.ms"),
    "plans.restore_script.collects_per_op": ("count", "plans.restore_script.collects"),
    "plans.chain_all.construct_ms_per_op": ("ms", "plans.chain_all.ms"),
    "plans.chain_all.exec_ms_per_op": ("ms", "plans.chain_all.exec.ms"),
    "spark.jobs_per_op": ("count", "spark.jobs"),
    "spark.stages_per_op": ("count", "spark.stages"),
    "spark.tasks_per_op": ("count", "spark.tasks"),
    "spark.executor_run_ms_per_op": ("ms", "spark.executor_run_ms"),
    "spark.executor_cpu_ms_per_op": ("ms", "spark.executor_cpu_ms"),
    "spark.shuffle_read_bytes_per_op": ("B", "spark.shuffle_read_bytes"),
    "spark.shuffle_write_bytes_per_op": ("B", "spark.shuffle_write_bytes"),
    "spark.spill_bytes_per_op": ("B", "spark.spill_bytes"),
    "spark.input_rows_per_op": ("count", "spark.input_rows"),
    "spark.input_bytes_per_op": ("B", "spark.input_bytes"),
    "spark.output_bytes_per_op": ("B", "spark.output_bytes"),
    "spark.driver_ms_per_op": ("ms", "spark.driver_ms"),
    "py4j.roundtrips_per_op": ("count", "py4j.roundtrips"),
}


def per_layer(ops: list[dict], session_s: float, traced_ms: list[float],
              untraced_ms: list[float]) -> dict:
    def total(key: str) -> float:
        return sum(op.get(key, 0.0) for op in ops)

    n = len(ops)
    out = {"session.start_s": {"value": session_s, "unit": "s"}}
    for name, (unit, key) in PER_LAYER.items():
        out[name] = {"value": total(key) / n, "unit": unit}
    extracted = total("operators.merge.rows_extracted")
    out["operators.merge.append_ratio"] = {
        "value": total("operators.merge.rows_appended") / extracted if extracted else 0.0,
        "unit": "ratio"}
    steps = total("plans.restore_script.steps")
    out["plans.restore_script.rows_examined_per_step"] = {
        "value": total("plans.restore_script.input_rows") / steps if steps else 0.0,
        "unit": "count"}
    traced = statistics.median(traced_ms)
    # a run of a single operation has no untraced one to compare with
    untraced = statistics.median(untraced_ms) if untraced_ms else traced
    out["op_wall_p50_ms"] = {"value": untraced, "unit": "ms"}
    out["trace.traced_op_p50_ms"] = {"value": traced, "unit": "ms"}
    out["trace.overhead_ms"] = {"value": traced - untraced, "unit": "ms"}
    return out


# ---------------------------------------------------------------- main


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    workdir = os.path.abspath(os.path.join(".bench_tmp", f"run-{os.getpid()}"))
    os.makedirs(workdir)
    tempfile.tempdir = os.path.join(workdir, "tmp")
    os.makedirs(tempfile.tempdir)
    session = None
    try:
        t0 = time.perf_counter()
        session = Session(workdir)
        tracer = None
        if trace:
            from tracing import Tracer
            tracer = Tracer(session.spark)
        w = WORKLOADS[workload](session.spark, workdir, seed, tracer)
        problems = w.setup()
        t_warm = time.perf_counter()
        for _ in range(w.warmup_ops):
            _, _, check = w.op()
            problems += check()
        w.record_layout()
        setup_s = time.perf_counter() - t0
        if problems:
            log(f"set-up does not match the oracle: {problems[:5]}")
        log(f"{workload} seed {seed}: set-up {setup_s:.1f} s (session "
            f"{session.start_s:.1f} s, warm-up {t0 + setup_s - t_warm:.1f} s), "
            f"{gen.make_up(w.fleet)}")

        attempted = failed = n_sampled = 0
        times, rows_done, cpus = [], [], []
        traced_ms, untraced_ms = [], []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            for op, sampled in w.round():
                session.collect_garbage()
                traced = trace and sampled and n_sampled % 2 == 0
                if traced:
                    tracer.install()
                    tracer.begin(n_sampled)
                attempted += 1
                n_sampled += sampled
                cpu0 = session.cpu_s()
                try:
                    elapsed, rows, check = op()
                    cpu = session.cpu_s() - cpu0
                except Exception as exc:  # a failing operation is counted, not fatal
                    log(f"operation {attempted} raised {exc!r}")
                    failed += 1
                    continue
                finally:
                    if traced:
                        tracer.end()
                        tracer.remove()
                issues = check()
                if issues:
                    failed += 1
                    log(f"operation {attempted} does not match the oracle: {issues[:5]}")
                    continue
                if not sampled:
                    continue
                (traced_ms if traced else untraced_ms).append(elapsed * 1000.0)
                times.append(elapsed)
                rows_done.append(rows)
                cpus.append(cpu)
        log(f"{attempted} operations, {failed} failed, op times "
            f"{[round(t, 2) for t in times]}, op cpu {[round(c, 2) for c in cpus]}")
        if not times:
            raise RuntimeError("no operation succeeded")
        if trace:
            metrics = per_layer(tracer.ops, session.start_s, traced_ms, untraced_ms)
        else:
            metrics = end_to_end(w, setup_s, rows_done, cpus)
        return {"correct": not problems, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # left when another run still uses it
        except OSError:
            pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.environ["TZ"] = "UTC"  # naive datetimes cross py4j as UTC
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
