"""Oracle self-test: the oracle must accept a right result and reject each
deliberately corrupted one. Pure Python, no Spark.

    python3 perfbench/selftest.py

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402

SPEC = gen.FleetSpec(standalone_servers=1, ag_pairs=1, dbs_per_server=2, dbs_per_ag=2,
                     hours=24 * 3)


def _with_logs(index: oracle.ChainIndex, when: dt.datetime):
    """A (key, steps) plan group whose chain has at least three Log steps,
    one striped Full, and a Diff — so each corruption has something to
    corrupt."""
    plan = oracle.plan_all(index, when)
    for key, steps in sorted(plan.items()):
        if (sum(s.btype == "Log" for s in steps) >= 3 and len(steps[0].devices) > 1
                and steps[1].btype == "Diff"):
            return key, steps
    raise RuntimeError("no chain with a striped Full, a Diff and three Logs")


def cases():
    fleet = gen.generate(SPEC, seed=5)
    model = oracle.SinkModel(fleet)
    clock = fleet.start + dt.timedelta(hours=40)
    model.advance(clock)
    initial = fleet.start - dt.timedelta(days=1)
    marks = model.watermarks(initial)
    index = oracle.ChainIndex(list(model.rows.values()))
    when = fleet.start + dt.timedelta(hours=30, minutes=17)
    key, steps = _with_logs(index, when)
    rows = [(*k, i + 1, f.start) for i, (k, f) in enumerate(sorted(model.rows.items()))]
    expected_keys = set(model.rows)

    log_idx = [i for i, s in enumerate(steps) if s.btype == "Log"]
    dropped_log = steps[: log_idx[1]] + steps[log_idx[1] + 1:]
    no_stopat = steps[:-1] + [dataclasses.replace(steps[-1], stopat=False)]
    full = steps[0]
    one_stripe = [dataclasses.replace(full, devices=frozenset(sorted(full.devices)[:1]))]
    wrong_prefix = [dataclasses.replace(full, devices=frozenset(
        ("URL" if p == "DISK" else "DISK", d) for p, d in full.devices))]
    server = sorted(marks)[0]
    backwards = {**marks, server: marks[server] - dt.timedelta(minutes=30)}
    cutoff = min(r[5] for r in rows) + dt.timedelta(hours=1)

    # (name, problems the oracle reports, should it accept?)
    yield "right chain", oracle.check_chain("c", steps, steps), True
    yield "right plan", oracle.check_plan({key: steps}, {key: steps}), True
    yield "right sink", oracle.check_sink(rows, expected_keys), True
    yield "right watermarks", oracle.check_watermarks(marks, marks, marks), True
    yield "dropped log step", oracle.check_chain("c", dropped_log, steps), False
    yield "dropped log step in a plan", oracle.check_plan({key: dropped_log}, {key: steps}), False
    yield "missing plan group", oracle.check_plan({}, {key: steps}), False
    yield "STOPAT missing", oracle.check_chain("c", no_stopat, steps), False
    yield "full stripe missing", oracle.check_chain("c", one_stripe + steps[1:], steps), False
    yield "DISK/URL swapped", oracle.check_chain("c", wrong_prefix + steps[1:], steps), False
    yield "duplicated sink row", oracle.check_sink(
        rows + [(*rows[0][:4], len(rows) + 1, rows[0][5])], expected_keys), False
    yield "duplicated LogID", oracle.check_sink(
        rows[:-1] + [(*rows[-1][:4], rows[0][4], rows[-1][5])], expected_keys), False
    yield "sink row missing", oracle.check_sink(rows[1:], expected_keys), False
    yield "row older than the retention cutoff", oracle.check_sink(
        rows, expected_keys, cutoff), False
    yield "watermark moved backwards", oracle.check_watermarks(backwards, marks, marks), False
    yield "rows_appended off by one", oracle.check_count("rows_appended", 41, 42), False

    midnight = gen.midnight_fleet()
    replay = oracle.SinkModel(midnight)
    day = midnight.start + dt.timedelta(days=1)
    replay.advance(day + dt.timedelta(minutes=10))
    again = replay.advance(day + dt.timedelta(minutes=20))
    yield "midnight replay, nothing re-appended", oracle.check_count("rows_appended", 0, again), True
    yield "midnight replay, Full re-appended", oracle.check_count("rows_appended", 1, again), False


def main() -> int:
    bad = 0
    for name, problems, accept in cases():
        ok = (not problems) == accept
        bad += not ok
        verdict = "accepted" if not problems else f"rejected: {problems[0]}"
        print(f"{'ok ' if ok else 'BAD'} {name}: {verdict}")
    print(f"{bad} case(s) misjudged" if bad else "oracle self-test passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
