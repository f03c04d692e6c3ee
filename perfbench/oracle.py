"""Independent oracle over the generated inputs.

The oracle never reads what the program computed to decide what the
program should have computed: its expectations come from the
generator's ``BackupFile`` list alone. The ``check_*`` functions then
compare an observed result against an expectation and return a list of
problems (empty when the result is right), so one mismatch marks one
operation failed without stopping the run.

Restore rules, after the reference procedure
(Utility.GenerateRestoreScript):

- Full: the latest Full (by last LSN) that started at or before T on a
  disk or URL device (``device_type`` 2 or 9), with all its stripes.
- Diff: unless that Full is copy-only, the latest Diff past the Full's
  last LSN that started at or before T, with all its stripes.
- Log: every Log past the Diff's (else the Full's) last LSN that started
  at or before T, then all stripes of the first Log that started after
  T; one step per (first LSN, last LSN), in last-LSN order.
- STOPAT on the last two Log steps.

Retention follows Utility.CleanupSQLBackupHistoryConsolidated: the
cutoff is the latest start among rows older than now minus the
retention period, and every row that started before the cutoff goes.
"""

from __future__ import annotations

import bisect
import datetime as dt
import re
from collections import defaultdict
from dataclasses import dataclass
from decimal import Decimal

from gen import BackupFile, Fleet

_DEVICE = re.compile(r"(DISK|URL) = N'([^']*)'")
_MOVE = re.compile(r"MOVE N'([^']*)' TO")


@dataclass(frozen=True)
class Step:
    btype: str
    first_lsn: Decimal
    last_lsn: Decimal
    devices: frozenset  # of (prefix, device name); prefix is DISK or URL
    stopat: bool


def _prefix(device_type: int) -> str:
    return "URL" if device_type == 9 else "DISK"


def parse_devices(text: str) -> frozenset:
    return frozenset(_DEVICE.findall(text))


def move_names(command: str) -> set[str]:
    return set(_MOVE.findall(command))


# ---------------------------------------------------------------- ETL


class SinkModel:
    """What the consolidated sink must hold: every backup file visible by
    the clock, minus what retention removed."""

    def __init__(self, fleet: Fleet) -> None:
        self.by_finish = sorted(fleet.files, key=lambda f: f.finish)
        self.finishes = [f.finish for f in self.by_finish]
        self.servers = list(fleet.servers)
        self.rows: dict[tuple, BackupFile] = {}
        self.clock: dt.datetime | None = None

    def advance(self, clock: dt.datetime) -> int:
        """Load every file that finished in (previous clock, clock];
        returns how many, the rows one ETL run must append."""
        lo = 0 if self.clock is None else bisect.bisect_right(self.finishes, self.clock)
        hi = bisect.bisect_right(self.finishes, clock)
        for f in self.by_finish[lo:hi]:
            self.rows[f.key] = f
        self.clock = clock
        return hi - lo

    def watermarks(self, initial: dt.datetime) -> dict[str, dt.datetime]:
        """Each server's latest visible finish time, else its initial mark."""
        marks = dict.fromkeys(self.servers, initial)
        hi = bisect.bisect_right(self.finishes, self.clock)
        for f in self.by_finish[:hi]:
            if f.finish > marks[f.server]:
                marks[f.server] = f.finish
        return marks

    def retain(self, now: dt.datetime, days: int) -> tuple[dt.datetime | None, int]:
        """Apply the reference retention rule; returns (cutoff, rows deleted)."""
        threshold = now - dt.timedelta(days=days)
        old = [f.start for f in self.rows.values() if f.start < threshold]
        if not old:
            return None, 0
        cutoff = max(old)
        doomed = [k for k, f in self.rows.items() if f.start < cutoff]
        for k in doomed:
            del self.rows[k]
        return cutoff, len(doomed)


def check_count(what: str, observed: int, expected: int) -> list[str]:
    return [] if observed == expected else [f"{what}: got {observed}, expected {expected}"]


def check_watermarks(
    observed: dict[str, dt.datetime],
    expected: dict[str, dt.datetime],
    previous: dict[str, dt.datetime] | None = None,
) -> list[str]:
    problems = []
    for server, mark in expected.items():
        got = observed.get(server)
        if got != mark:
            problems.append(f"watermark {server}: got {got}, expected {mark}")
        if previous is not None and got is not None and got < previous[server]:
            problems.append(f"watermark {server} moved backwards: {previous[server]} -> {got}")
    extra = set(observed) - set(expected)
    if extra:
        problems.append(f"unexpected control rows: {sorted(extra)}")
    return problems


def check_sink(
    rows: list[tuple],
    expected: set[tuple],
    cutoff: dt.datetime | None = None,
) -> list[str]:
    """``rows``: (last_lsn, first_lsn, database_name, physical_device_name,
    LogID, backup_start_date) of every sink row."""
    problems = []
    keys = [r[:4] for r in rows]
    if len(set(keys)) != len(keys):
        problems.append(f"duplicate sink keys: {len(keys) - len(set(keys))}")
    ids = [r[4] for r in rows]
    if len(set(ids)) != len(ids):
        problems.append(f"duplicate LogIDs: {len(ids) - len(set(ids))}")
    got = set(keys)
    if got != expected:
        problems.append(
            f"sink keys differ: {len(got - expected)} unexpected, {len(expected - got)} missing"
        )
    if cutoff is not None:
        early = sum(1 for r in rows if r[5] < cutoff)
        if early:
            problems.append(f"{early} sink rows start before the retention cutoff {cutoff}")
    return problems


# ---------------------------------------------------------------- restore


class ChainIndex:
    """Backup files grouped for restore planning."""

    def __init__(self, files: list[BackupFile]) -> None:
        self.by_entity: dict[tuple[str, str], list[BackupFile]] = defaultdict(list)
        self.by_server: dict[tuple[str, str], list[BackupFile]] = defaultdict(list)
        for f in files:
            self.by_entity[(f.database, f.entity)].append(f)
            self.by_server[(f.database, f.server)].append(f)

    def scope(self, database: str, server: str | None, ag: str | None) -> list[BackupFile]:
        """The rows a lookup by server (standalone) or by AG name sees."""
        if ag is not None:
            return [f for f in self.by_entity.get((database, ag), []) if f.ag == ag]
        return self.by_server.get((database, server), [])


def _group(files: list[BackupFile]) -> list[Step]:
    """One step per (first LSN, last LSN), in last-LSN order."""
    sets: dict[tuple, list[BackupFile]] = defaultdict(list)
    for f in files:
        sets[(f.first_lsn, f.last_lsn)].append(f)
    return [
        Step(
            btype=fs[0].btype,
            first_lsn=k[0],
            last_lsn=k[1],
            devices=frozenset((_prefix(f.device_type), f.device) for f in fs),
            stopat=False,
        )
        for k, fs in sorted(sets.items(), key=lambda kv: kv[0][1])
    ]


def restore_chain(
    scoped: list[BackupFile], when: dt.datetime
) -> tuple[list[Step], BackupFile | None]:
    """Expected restore steps for one scope at T = ``when``; also the
    Full's first stripe (for its MOVE clause). ([], None) when no Full
    applies."""
    fulls = [f for f in scoped
             if f.btype == "Full" and f.start <= when and f.device_type in (2, 9)]
    if not fulls:
        return [], None
    full_lsn = max(f.last_lsn for f in fulls)
    full = [f for f in fulls if f.last_lsn == full_lsn]
    chain = [full]
    threshold = full_lsn
    if not full[0].is_copy_only:
        diffs = [f for f in scoped
                 if f.btype == "Diff" and f.last_lsn > full_lsn and f.start <= when]
        if diffs:
            diff_lsn = max(f.last_lsn for f in diffs)
            chain.append([f for f in diffs if f.last_lsn == diff_lsn])
            threshold = diff_lsn
    logs = [f for f in scoped if f.btype == "Log" and f.last_lsn > threshold]
    asof = [f for f in logs if f.start <= when]
    after = [f for f in logs if f.start > when]
    if after:
        first = min((f.start, f.last_lsn) for f in after)
        asof += [f for f in after if (f.start, f.last_lsn) == first]
    steps = [s for part in chain for s in _group(part)] + _group(asof)
    n_logs = len(_group(asof))
    for i in range(len(steps) - min(2, n_logs), len(steps)):
        s = steps[i]
        steps[i] = Step(s.btype, s.first_lsn, s.last_lsn, s.devices, True)
    return steps, min(full, key=lambda f: f.device)


def plan_all(index: ChainIndex, when: dt.datetime) -> dict[tuple[str, str], list[Step]]:
    """Expected ``restore_plan_all`` groups: (database, entity) -> steps."""
    out = {}
    for key, files in index.by_entity.items():
        steps, _ = restore_chain(files, when)
        if steps:
            out[key] = steps
    return out


def contiguous(steps: list[Step]) -> list[str]:
    """A restore chain's LSNs must link: each Log starts at or before the
    LSN the previous step reached and ends past it."""
    problems = []
    reached = None
    for s in steps:
        if s.btype == "Log" and reached is not None:
            if not (s.first_lsn <= reached < s.last_lsn):
                problems.append(f"LSN gap before log {s.first_lsn}..{s.last_lsn} (at {reached})")
        if reached is None or s.last_lsn > reached:
            reached = s.last_lsn
    return problems


def check_chain(what: str, observed: list[Step], expected: list[Step]) -> list[str]:
    problems = contiguous(observed)
    if observed != expected:
        at = next((i for i, (a, b) in enumerate(zip(observed, expected)) if a != b),
                  min(len(observed), len(expected)))
        problems.append(f"{what}: {len(observed)} steps, expected {len(expected)}; "
                        f"first difference at step {at + 1}")
    return problems


def check_plan(
    observed: dict[tuple[str, str], list[Step]],
    expected: dict[tuple[str, str], list[Step]],
) -> list[str]:
    problems = []
    if set(observed) != set(expected):
        problems.append(
            f"plan groups differ: {len(set(observed) - set(expected))} unexpected, "
            f"{len(set(expected) - set(observed))} missing"
        )
    for key in sorted(set(observed) & set(expected)):
        problems += check_chain(f"plan {key}", observed[key], expected[key])
    return problems
