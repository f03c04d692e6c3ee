"""Per-layer tracing from outside the program.

Nothing in the package changes. While a ``Tracer`` is installed:

- the public functions of each layer are wrapped where their callers
  look them up (for ``run_etl``'s callees, the names imported into
  ``plans.etl``), and each wrapper records a span: layer, start, end,
  and the enclosing span, so a layer's self time is its duration minus
  the time its child spans cover;
- every py4j gateway command is counted, as ``tools/construct_audit.py``
  does, by patching ``send_command``;
- ``DataFrame.collect`` calls are counted per layer;
- every Spark job carries a job group naming the operation and the
  innermost layer, and after the operation the job, stage and task
  statistics of those groups are read from Spark's status store.

Work the tracer itself does inside an operation (setting job groups,
counting the rows handed to the merge) is kept out of the py4j and
Spark figures; it still costs wall time, which is what the traced run's
overhead figure reports.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame as _DataFrame

import sqlbackuphistoryetl_spark.plans.etl as _etl

# (layer name, module, attribute) of run_etl's callees, wrapped in plans.etl
_ETL_CALLEES = [
    ("sources.extract", _etl, "extract_backup_history"),
    ("plans.watermark", _etl, "read_source_servers"),
    ("plans.watermark", _etl, "update_watermarks"),
    ("operators.merge", _etl, "idempotent_append"),
]

_AUX_GROUP = "perfbench-trace-aux"
_IDLE_GROUP = "perfbench-idle"


def _count_files(path: str) -> int:
    n = 0
    for _, _, names in os.walk(path):
        n += sum(1 for name in names if name.endswith(".parquet"))
    return n


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = False
        self.roundtrips = 0
        self.aux_roundtrips = 0
        self.stack: list[str] = []
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []
        self.op_group = ""
        self._saved: list[tuple[object, str, object]] = []
        self.ops: list[dict[str, float]] = []

    # -------------------------------------------------- install / remove

    def install(self) -> None:
        """Patch py4j, DataFrame.collect and run_etl's callees."""
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        tracer = self

        def counted(orig):
            def send_command(self, *a, **kw):
                tracer.roundtrips += 1
                return orig(self, *a, **kw)
            return send_command

        for cls in (jg.GatewayClient, jg.GatewayConnection, cs.ClientServerConnection,
                    cs.JavaClient):
            self._patch(cls, "send_command", counted(cls.send_command))

        orig_collect = _DataFrame.collect

        def collect(df_self):
            if tracer.stack:
                tracer.counts[f"{tracer.stack[-1]}.collects"] += 1
            return orig_collect(df_self)

        self._patch(_DataFrame, "collect", collect)
        for layer, mod, name in _ETL_CALLEES:
            fn = getattr(mod, name)
            if name == "idempotent_append":
                self._patch(mod, name, self._merge_wrapper(fn))
            else:
                self._patch(mod, name, self.wrap(layer, fn))
        self.active = True

    def remove(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
        self.active = False

    def _patch(self, owner, name: str, new) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    # -------------------------------------------------- spans

    def _aux(self, fn):
        """Run tracer bookkeeping that must not count as program work: its
        py4j commands are left out and its time is a ``trace.aux`` span,
        a child of the current layer, so no layer's self time holds it."""
        before = self.roundtrips
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.aux_roundtrips += self.roundtrips - before
            if self.stack:
                self.spans.append(("trace.aux", t0, time.perf_counter(), self.stack[-1]))

    def _set_group(self, layer: str) -> None:
        group = f"{self.op_group}:{layer}"
        if group not in self.groups:
            self.groups.append(group)
        self._aux(lambda: self.sc.setJobGroup(group, group))

    def span(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span of ``layer``; a no-op when inactive."""
        if not self.active:
            return fn(*args, **kwargs)
        parent = self.stack[-1] if self.stack else None
        self._set_group(layer)
        self.stack.append(layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            self.spans.append((layer, t0, t1, parent))
            self.counts[f"{layer}.calls"] += 1
            self._set_group(parent or "op")

    def wrap(self, layer: str, fn):
        def wrapped(*args, **kwargs):
            return self.span(layer, fn, *args, **kwargs)
        return wrapped

    def _merge_wrapper(self, fn):
        def wrapped(spark, batch, target_path, *args, **kwargs):
            extracted = self._aux(lambda: self._aux_count(batch))
            before = _count_files(target_path) if os.path.isdir(target_path) else 0
            appended = self.span("operators.merge", fn, spark, batch, target_path,
                                 *args, **kwargs)
            self.counts["operators.merge.rows_extracted"] += extracted
            self.counts["operators.merge.rows_appended"] += appended
            self.counts["operators.merge.files_written"] += _count_files(target_path) - before
            return appended
        return wrapped

    def _aux_count(self, batch) -> int:
        self.sc.setJobGroup(_AUX_GROUP, _AUX_GROUP)
        try:
            return batch.count()
        finally:
            self.sc.setJobGroup(f"{self.op_group}:{self.stack[-1] if self.stack else 'op'}",
                                "op")

    # -------------------------------------------------- operations

    def begin(self, op_id: int) -> None:
        self.spans.clear()
        self.counts.clear()
        self.groups = []
        self.op_group = f"perfbench-op-{op_id}"
        self._set_group("op")
        self.aux_roundtrips = 0
        self._rt0 = self.roundtrips
        self._wall0 = time.time() * 1000.0

    def end(self) -> None:
        """Close the operation and turn its spans, counts and Spark
        statistics into one record."""
        wall1 = time.time() * 1000.0
        roundtrips = self.roundtrips - self._rt0 - self.aux_roundtrips
        self.sc.setJobGroup(_IDLE_GROUP, _IDLE_GROUP)
        rec: dict[str, float] = dict(self.counts)
        rec["py4j.roundtrips"] = roundtrips
        # self time: a span's duration minus what its direct children cover
        child_ms: dict[str, float] = defaultdict(float)
        for layer, s0, s1, parent in self.spans:
            rec[f"{layer}.ms"] = rec.get(f"{layer}.ms", 0.0) + (s1 - s0) * 1000.0
        for layer, s0, s1, parent in self.spans:
            if parent is not None:
                child_ms[parent] += (s1 - s0) * 1000.0
        for layer in {s[0] for s in self.spans}:
            rec[f"{layer}.self_ms"] = rec[f"{layer}.ms"] - child_ms.get(layer, 0.0)
        rec.update(self._spark_stats(self._wall0, wall1))
        self.ops.append(rec)

    def _spark_stats(self, wall0: float, wall1: float) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        intervals = []
        seen: set[int] = set()  # a reused shuffle stage is listed by every job that reads it
        for group in self.groups:
            layer = group.split(":", 1)[1]
            for job_id in tracker.getJobIdsForGroup(group):
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                out["spark.jobs"] += 1
                stage_ids = [int(x) for x in str(job.stageIds().mkString(",")).split(",") if x]
                for sid in stage_ids:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a stage the store no longer holds
                        continue
                    if str(st.status().toString()) != "COMPLETE":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st.numCompleteTasks()
                    out["spark.executor_run_ms"] += st.executorRunTime()
                    out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["spark.output_bytes"] += st.outputBytes()
                    rows, nbytes = st.inputRecords(), st.inputBytes()
                    out["spark.input_rows"] += rows
                    out["spark.input_bytes"] += nbytes
                    out[f"{layer}.input_rows"] += rows
        # driver time: operation wall time not covered by any job interval
        covered = 0.0
        end = wall0
        for s, e in sorted(intervals):
            s, e = max(s, end), min(e, wall1)
            if e > s:
                covered += e - s
                end = e
        out["spark.driver_ms"] = (wall1 - wall0) - covered
        return dict(out)
