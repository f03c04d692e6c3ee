"""The windowed restore planner behind ``restore_plan_all`` and
``generate_restore_script``: both entry points against a small
pure-Python planner, the NULL copy-only rule, the plan's shape (one scan,
one exchange) and the SQL conf its text depends on."""

from __future__ import annotations

import datetime as dt
import re
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sqlbackuphistoryetl_spark import schema
from sqlbackuphistoryetl_spark.plans.chain_all import restore_plan_all
from sqlbackuphistoryetl_spark.plans.restore_script import generate_restore_script

B = Decimal(10) ** 22
T0 = dt.datetime(2025, 3, 1, 0, 0, 0)

#: chain -> (database, AG, replicas). The AG chain fails over between its
#: replicas; S1 also hosts a standalone database.
CHAINS = {
    "ag": ("dbA", "AG1", ("S1", "S2")),
    "sa": ("dbS", None, ("S1",)),
}
#: every script request the two chains allow; ("dbA", S1) and ("dbA", S2)
#: are server-scoped views of the AG database
REQUESTS = [
    ("dbS", {"source_db_server": "S1"}),
    ("dbA", {"source_ag_name": "AG1"}),
    ("dbA", {"source_db_server": "S1"}),
    ("dbA", {"source_db_server": "S2"}),
]
_DEVICE = re.compile(r"(?:DISK|URL) = N'[^']*'")


def _row(log_id, chain, kind, device, start, first, last, copy_only=False,
         device_type=2, server=None):
    database, ag, replicas = CHAINS[chain]
    return dict(
        LogID=log_id, database_name=database, BackupType=kind,
        physical_device_name=device, backup_start_date=start,
        backup_finish_date=start + dt.timedelta(minutes=2),
        server_name=server or replicas[0], ag_name=ag, recovery_model="FULL",
        first_lsn=B + first, last_lsn=B + last, UncompressedSizeMB=10,
        CompressedSizeMB=5, is_copy_only=copy_only, encryptor_type=None,
        key_algorithm=None, device_type=device_type, position=1,
        DBFileInformation=None,
    )


def build_history(events) -> list[dict]:
    """Rows for a list of backup events
    ``(chain, kind, stripes, copy_only, device_type, replica, gap_min, lsn_step)``.

    Each chain is one LSN stream: a Full or Diff snapshots its position,
    a Log spans from the previous Log's end; a Diff is based on the last
    Full that was not copy-only."""
    rows = []
    state = {c: {"lsn": 0, "log_end": 0, "base": None} for c in CHAINS}
    t = T0
    for chain, kind, stripes, copy_only, device_type, replica, gap, step in events:
        s = state[chain]
        replicas = CHAINS[chain][2]
        t += dt.timedelta(minutes=gap)
        s["lsn"] += step
        if kind == "Diff" and s["base"] is None:
            kind = "Log"
        if kind == "Full":
            first, last = max(0, s["lsn"] - 5), s["lsn"]
            if not copy_only:
                s["base"] = last
        elif kind == "Diff":
            first, last = s["base"], s["lsn"]
        else:
            first, last = s["log_end"], s["lsn"]
            s["log_end"] = last
        prefix = "https://acct/bk/" if device_type == 9 else "X:\\bk\\"
        for k in range(stripes):
            rows.append(_row(
                len(rows) + 1, chain, kind, f"{prefix}{chain}_{kind}_{last}_{k}",
                t, first, last,
                copy_only=copy_only if kind == "Full" else False,
                device_type=device_type, server=replicas[replica % len(replicas)],
            ))
    return rows


def reference_chain(rows: list[dict], when: dt.datetime) -> list[tuple]:
    """The reference's restore rules over ``rows``, one tuple per step:
    (type, first_lsn, last_lsn, devices, stopat, min LogID)."""
    fulls = [r for r in rows if r["BackupType"] == "Full"
             and r["backup_start_date"] <= when and r["device_type"] in (2, 9)]
    if not fulls:
        return []
    full_lsn = max(r["last_lsn"] for r in fulls)
    chosen = [[r for r in fulls if r["last_lsn"] == full_lsn]]
    threshold = full_lsn
    if not any(r["is_copy_only"] for r in chosen[0]):  # NULL: not copy-only
        diffs = [r for r in rows if r["BackupType"] == "Diff"
                 and r["backup_start_date"] <= when and r["last_lsn"] > full_lsn]
        if diffs:
            threshold = max(r["last_lsn"] for r in diffs)
            chosen.append([r for r in diffs if r["last_lsn"] == threshold])
    logs = [r for r in rows if r["BackupType"] == "Log" and r["last_lsn"] > threshold]
    asof = [r for r in logs if r["backup_start_date"] <= when]
    after = [r for r in logs if r["backup_start_date"] > when]
    if after:
        tail = min((r["backup_start_date"], r["last_lsn"]) for r in after)
        asof += [r for r in after if (r["backup_start_date"], r["last_lsn"]) == tail]
    by_lsn: dict[tuple, list[dict]] = {}
    for r in asof:
        by_lsn.setdefault((r["first_lsn"], r["last_lsn"]), []).append(r)
    chosen += [by_lsn[k] for k in sorted(by_lsn, key=lambda k: k[1])]
    n_logs = len(by_lsn)
    steps = []
    for i, files in enumerate(chosen):
        r = files[0]
        devices = frozenset(
            ("URL = N'" if f["device_type"] == 9 else "DISK = N'") + f["physical_device_name"] + "'"
            for f in files
        )
        stopat = r["BackupType"] == "Log" and i >= len(chosen) - min(2, n_logs)
        steps.append((r["BackupType"], r["first_lsn"], r["last_lsn"], devices, stopat,
                      min(f["LogID"] for f in files)))
    return steps


def _observed_plan(spark, rows, when) -> dict[tuple, list[tuple]]:
    df = spark.createDataFrame(rows, schema.CONSOLIDATED)
    out: dict[tuple, list] = {}
    for r in sorted(restore_plan_all(df, when).collect(),
                    key=lambda r: (r["database_name"], r["entity"], r["seq"])):
        out.setdefault((r["database_name"], r["entity"]), []).append(
            (r["BackupType"], r["first_lsn"], r["last_lsn"],
             frozenset(_DEVICE.findall(r["devices"])), r["stopat"])
        )
    return out


def _observed_script(df, database, scope, when) -> list[tuple] | None:
    try:
        rs = generate_restore_script(df, database, restore_to_time=when, **scope)
    except ValueError:
        return None
    return [(s.backup_type, s.first_lsn, s.last_lsn,
             frozenset(_DEVICE.findall(s.restore_command)),
             "STOPAT" in s.restore_command, s.history_log_id) for s in rs.steps]


def _in_scope(rows, database, scope) -> list[dict]:
    (kind, name), = scope.items()
    column = "ag_name" if kind == "source_ag_name" else "server_name"
    return [r for r in rows if r["database_name"] == database and r[column] == name]


_event = st.tuples(
    st.sampled_from(list(CHAINS)),
    st.sampled_from(["Full", "Diff", "Log", "Log", "Log"]),
    st.integers(min_value=1, max_value=3),              # stripes
    st.sampled_from([False, False, True, None]),         # is_copy_only of a Full
    st.sampled_from([2, 2, 2, 9, 7]),                   # device_type
    st.integers(min_value=0, max_value=1),              # replica (failover)
    st.integers(min_value=5, max_value=90),             # minutes since last event
    st.integers(min_value=1, max_value=40),             # LSN advance
)


@st.composite
def histories(draw):
    events = draw(st.lists(_event, min_size=1, max_size=16))
    # every chain opens with a plain Full
    events = [(c, "Full", 1, False, 2, 0, 5, 10) for c in CHAINS] + events
    rows = build_history(events)
    starts = sorted({r["backup_start_date"] for r in rows})
    log_starts = [r["backup_start_date"] for r in rows if r["BackupType"] == "Log"]
    minute = dt.timedelta(minutes=1)
    candidates = [starts[-1] + minute, draw(st.sampled_from(starts))]
    if log_starts:
        candidates.append(min(log_starts) - minute)
    candidates.append(starts[0] + minute * draw(st.integers(0, int(
        (starts[-1] - starts[0]).total_seconds() // 60) + 60)))
    return rows, draw(st.sampled_from(candidates))


def _fixed(events, when_min):
    return build_history(events), T0 + dt.timedelta(minutes=when_min)


# Explicit cases: a striped copy-only Full, then a striped NULL-copy-only
# Full with a striped Diff and a striped tail Log after T; T before the
# first Log; T after the last backup with failover between replicas.
_STRIPED = _fixed([
    ("ag", "Full", 2, False, 2, 0, 5, 10), ("sa", "Full", 2, True, 9, 0, 5, 10),
    ("ag", "Log", 1, False, 2, 1, 10, 5), ("sa", "Full", 3, None, 2, 0, 10, 5),
    ("sa", "Diff", 2, False, 2, 0, 10, 5), ("sa", "Log", 2, False, 2, 0, 10, 5),
    ("ag", "Log", 2, False, 2, 0, 10, 5), ("sa", "Log", 2, False, 2, 0, 10, 5),
], 52)
_EARLY = _fixed([("ag", "Full", 1, False, 2, 0, 5, 10), ("sa", "Full", 1, False, 2, 0, 5, 10),
                 ("ag", "Log", 1, False, 2, 1, 30, 5)], 20)
_LATE = _fixed([("ag", "Full", 1, None, 9, 1, 5, 10), ("sa", "Full", 1, False, 2, 0, 5, 10),
                ("ag", "Diff", 1, False, 2, 0, 10, 5), ("ag", "Log", 1, False, 2, 1, 10, 5),
                ("ag", "Log", 1, False, 2, 0, 10, 5)], 500)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@example(_STRIPED)
@example(_EARLY)
@example(_LATE)
@given(histories())
def test_planners_match_reference_rules(spark, case):
    rows, when = case
    expected_plan = {}
    for database, ag, replicas in CHAINS.values():
        for entity in ([ag] if ag else replicas):
            group = [r for r in rows if r["database_name"] == database
                     and (r["ag_name"] or r["server_name"]) == entity]
            if steps := reference_chain(group, when):
                expected_plan[(database, entity)] = [s[:5] for s in steps]
    assert _observed_plan(spark, rows, when) == expected_plan

    df = spark.createDataFrame(rows, schema.CONSOLIDATED)
    for database, scope in REQUESTS:
        expected = reference_chain(_in_scope(rows, database, scope), when)
        assert _observed_script(df, database, scope, when) == (expected or None), scope


def test_null_copy_only_full_keeps_its_diff(spark):
    """A Full whose ``is_copy_only`` is NULL is not copy-only: both entry
    points restore Full → Diff → Log."""
    rows = [
        _row(1, "sa", "Full", "X:\\f.bak", T0, 100, 200, copy_only=None),
        _row(2, "sa", "Diff", "X:\\d.bak", T0 + dt.timedelta(hours=1), 200, 300),
        _row(3, "sa", "Log", "X:\\l.trn", T0 + dt.timedelta(hours=2), 200, 400),
    ]
    df = spark.createDataFrame(rows, schema.CONSOLIDATED)
    when = T0 + dt.timedelta(hours=3)
    expected = [("Full", B + 200), ("Diff", B + 300), ("Log", B + 400)]
    plan = restore_plan_all(df, when).orderBy("seq").collect()
    assert [(r["BackupType"], r["last_lsn"]) for r in plan] == expected
    rs = generate_restore_script(df, "dbS", source_db_server="S1", restore_to_time=when)
    assert [(s.backup_type, s.last_lsn) for s in rs.steps] == expected


@pytest.fixture(scope="module")
def sink(spark, consolidated, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("restore_sink") / "consolidated")
    consolidated.write.parquet(path)
    return spark.read.parquet(path)


def test_plan_all_scans_once_and_shuffles_once(sink):
    plan = restore_plan_all(sink, dt.datetime(2025, 1, 1, 4, 30))
    text = plan._jdf.queryExecution().executedPlan().toString()
    assert text.count("FileScan parquet") == 1, text
    exchanges = [line for line in text.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, text
    assert re.search(r"Exchange hashpartitioning\(database_name#\d+, entity#\d+, \d+\)",
                     exchanges[0]), exchanges[0]


def test_restore_script_runs_at_most_two_jobs(spark, sink):
    sc = spark.sparkContext
    group = "restore-script-jobs"
    sc.setJobGroup(group, group)
    try:
        rs = generate_restore_script(sink, "db_sa1", source_db_server="SQLNODE01",
                                     restore_to_time=dt.datetime(2025, 1, 1, 4, 30))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [s.backup_type for s in rs.steps] == ["Full", "Diff", "Log", "Log"]
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_session_pins_escaped_string_literals_off(spark):
    """The planners' SQL text writes a quote inside a literal as \\'."""
    key = "spark.sql.parser.escapedStringLiterals"
    assert spark.sparkContext.getConf().get(key) == "false"  # set, not defaulted
    assert spark.conf.get(key) == "false"
    assert spark.sql("SELECT 'N\\'' AS q").first()["q"] == "N'"
