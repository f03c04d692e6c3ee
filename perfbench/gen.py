"""Seeded generator of msdb-shaped backup history for a fleet of servers.

Everything is pure Python and depends only on the ``FleetSpec`` and the
seed, so the same seed always yields the same inputs. The generator
returns two views of the same history:

- ``tables``: per server, the six msdb relations the program extracts
  from (backupset, backupmediafamily, backupfile, databases,
  replica_states, availability_groups), as column lists ready for
  parquet;
- ``files``: one ``BackupFile`` per backup file written (a backupset row
  joined to one of its media-family rows). The oracle works from these,
  never from what the program produced.

History shape per database chain (a standalone database, or an
availability-group database whose backups come from either replica):
a Full at the very start and then every ``FULL_EVERY_H`` hours, a Diff
every ``DIFF_EVERY_H`` hours, a Log every hour, ad-hoc copy-only Fulls,
and snapshot Fulls on a virtual device (``device_type`` 7, copy-only).
Fulls are striped over 1-4 files, Diffs over 1-2, a few Logs over 2.
Some databases back up to URL (``device_type`` 9). Some backup sets
carry a dropped file (``state`` 8). Log finish times of one server fall
within minutes of each other, so every incremental run re-extracts rows
inside the 5-minute replay buffer. Nightly chains run their Full or
Diff at 23:30-23:50, and most of those finish after midnight.

``midnight_fleet`` is a fixed, seed-independent input for the
midnight-replay probe: one Full that starts before midnight and finishes
inside the replay buffer after it.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

LSN_BASE = 10**22  # 23-digit LSNs, past int64 on purpose
HISTORY_START = dt.datetime(2026, 3, 2, 0, 0, 0)

TABLES = [
    "backupset",
    "backupmediafamily",
    "backupfile",
    "databases",
    "replica_states",
    "availability_groups",
]


FULL_EVERY_H = 24 * 7
DIFF_EVERY_H = 6
COPY_ONLY_PER_DAY = 0.15
SNAPSHOT_PER_DAY = 0.05
URL_SHARE = 0.2  # share of chains whose backups go to URL
DROPPED_FILE_SHARE = 0.1  # share of backup sets with a state-8 file
NIGHTLY_SHARE = 0.25  # share of chains whose Full and Diff run across midnight


@dataclass(frozen=True)
class FleetSpec:
    standalone_servers: int
    ag_pairs: int  # each pair is two replica servers and one availability group
    dbs_per_server: int  # standalone databases on every server
    dbs_per_ag: int
    hours: int  # history span


@dataclass(frozen=True)
class BackupFile:
    server: str
    database: str
    ag: str | None
    btype: str  # Full | Diff | Log
    device: str
    device_type: int
    start: dt.datetime
    finish: dt.datetime
    first_lsn: Decimal
    last_lsn: Decimal
    position: int
    is_copy_only: bool
    live_files: tuple[str, ...]  # logical names of the files not dropped

    @property
    def entity(self) -> str:
        return self.ag if self.ag is not None else self.server

    @property
    def key(self) -> tuple:
        return (self.last_lsn, self.first_lsn, self.database, self.device)


@dataclass
class Fleet:
    spec: FleetSpec
    servers: list[str]
    ags: dict[str, list[str]]  # ag name -> replica servers
    chains: list[tuple[str, str]]  # (database, entity) of every chain
    tables: dict[str, dict[str, dict[str, list]]] = field(default_factory=dict)
    files: list[BackupFile] = field(default_factory=list)

    @property
    def start(self) -> dt.datetime:
        return HISTORY_START

    @property
    def end(self) -> dt.datetime:
        return HISTORY_START + dt.timedelta(hours=self.spec.hours)


_TYPE_CODE = {"Full": "D", "Diff": "I", "Log": "L"}
_EXT = {"Full": "bak", "Diff": "dif", "Log": "trn"}


class _Msdb:
    """Column lists of one server's msdb tables."""

    def __init__(self) -> None:
        self.cols = {
            "backupset": {k: [] for k in (
                "backup_set_id", "media_set_id", "database_name", "type",
                "backup_start_date", "backup_finish_date", "server_name",
                "recovery_model", "first_lsn", "last_lsn", "backup_size",
                "compressed_backup_size", "is_copy_only", "encryptor_type",
                "key_algorithm", "position")},
            "backupmediafamily": {k: [] for k in (
                "media_set_id", "physical_device_name", "device_type")},
            "backupfile": {k: [] for k in (
                "backup_set_id", "logical_name", "physical_drive", "physical_name",
                "file_type", "file_number", "state")},
            "databases": {k: [] for k in ("name", "database_id")},
            "replica_states": {k: [] for k in ("database_id", "group_id", "is_local")},
            "availability_groups": {k: [] for k in ("group_id", "name")},
        }
        self.next_set = 1
        self.db_ids: dict[str, int] = {}

    def add(self, table: str, **row) -> None:
        for k, v in row.items():
            self.cols[table][k].append(v)

    def database(self, name: str) -> int:
        if name not in self.db_ids:
            self.db_ids[name] = 5 + len(self.db_ids)
            self.add("databases", name=name, database_id=self.db_ids[name])
        return self.db_ids[name]


def _db_files(db: str) -> list[tuple[str, str, str, str]]:
    """(logical_name, drive, physical_name, file_type) of a database."""
    return [
        (f"{db}_data", "D:", f"D:\\MSSQL\\DATA\\{db}.mdf", "D"),
        (f"{db}_data2", "E:", f"E:\\MSSQL\\DATA\\{db}_2.ndf", "D"),
        (f"{db}_log", "L:", f"L:\\MSSQL\\LOG\\{db}_log.ldf", "L"),
    ]


def _chain_events(
    rng: random.Random, spec: FleetSpec, slot: int
) -> list[tuple[str, dt.datetime, int, bool, int]]:
    """(BackupType, start, duration_s, copy_only, device_type) in start
    order. Full and Diff hours are staggered by the chain's ``slot``, as
    a DBA spreads schedules, so every hour carries about the same load.
    A nightly chain runs its Full and its 23:00 Diff late in the hour,
    long enough to cross midnight."""
    events = []
    nightly = rng.random() < NIGHTLY_SHARE
    if nightly:
        full_off, diff_off = 24 * (slot % 7) + 23, 23 % DIFF_EVERY_H
    else:
        full_off, diff_off = (slot * 7 + 1) % FULL_EVERY_H, slot % DIFF_EVERY_H
    log_min = rng.randrange(40, 55)  # one server's logs finish within minutes
    for h in range(spec.hours):
        hour = HISTORY_START + dt.timedelta(hours=h)
        late = nightly and hour.hour == 23
        if h == 0 or (h - full_off) % FULL_EVERY_H == 0:
            if late:
                events.append(("Full", hour + dt.timedelta(minutes=rng.randrange(30, 50)),
                               rng.randrange(900, 2400), False, 2))
            else:
                events.append(("Full", hour + dt.timedelta(minutes=rng.randrange(5, 20)),
                               rng.randrange(300, 1200), False, 2))
        elif (h - diff_off) % DIFF_EVERY_H == 0:
            if late:
                events.append(("Diff", hour + dt.timedelta(minutes=rng.randrange(30, 50)),
                               rng.randrange(900, 2400), False, 2))
            else:
                events.append(("Diff", hour + dt.timedelta(minutes=rng.randrange(5, 25)),
                               rng.randrange(60, 480), False, 2))
        if rng.random() < COPY_ONLY_PER_DAY / 24:
            events.append(("Full", hour + dt.timedelta(minutes=rng.randrange(0, 30)),
                           rng.randrange(300, 900), True, 2))
        if rng.random() < SNAPSHOT_PER_DAY / 24:
            events.append(("Full", hour + dt.timedelta(minutes=rng.randrange(0, 30)),
                           rng.randrange(5, 60), True, 7))
        events.append(("Log", hour + dt.timedelta(minutes=log_min, seconds=rng.randrange(60)),
                       rng.randrange(5, 120), False, 2))
    events.sort(key=lambda e: e[1])
    return events


def generate(spec: FleetSpec, seed: int) -> Fleet:
    rng = random.Random(seed)
    servers: list[str] = []
    ags: dict[str, list[str]] = {}
    for i in range(spec.standalone_servers):
        servers.append(f"SQLSA{i + 1:03d}")
    for g in range(spec.ag_pairs):
        pair = [f"SQLAG{g + 1:02d}A", f"SQLAG{g + 1:02d}B"]
        servers.extend(pair)
        ags[f"AG{g + 1:02d}"] = pair
    msdb = {s: _Msdb() for s in servers}
    fleet = Fleet(spec=spec, servers=servers, ags=ags, chains=[])

    # chain owners: (database, replica servers, ag name or None)
    owners: list[tuple[str, list[str], str | None]] = []
    for s in servers:
        for j in range(spec.dbs_per_server):
            # the same names recur on every server: lookups must scope by server
            owners.append((f"app_{j + 1:02d}", [s], None))
    for g, (ag, pair) in enumerate(ags.items()):
        group_id = f"ag-guid-{g + 1:04d}"
        for s in pair:
            msdb[s].add("availability_groups", group_id=group_id, name=ag)
        for k in range(spec.dbs_per_ag):
            db = f"agdb_{g + 1:02d}_{k + 1:02d}"
            for s in pair:
                db_id = msdb[s].database(db)
                for other in pair:  # both replica rows; only the local one resolves
                    msdb[s].add("replica_states", database_id=db_id, group_id=group_id,
                                is_local=other == s)
            owners.append((db, pair, ag))

    for slot, (db, replicas, ag) in enumerate(owners):
        for s in replicas:
            msdb[s].database(db)
        fleet.chains.append((db, ag if ag is not None else replicas[0]))
        url = rng.random() < URL_SHARE
        enc = rng.random() < 0.3
        files = _db_files(db)
        raw = _chain_events(rng, spec, slot)
        # fix every (start, finish) first, then hand out LSNs in time order
        timed = [(btype, start, start + dt.timedelta(seconds=dur), copy_only, dev_type)
                 for btype, start, dur, copy_only, dev_type in raw]
        points = sorted(
            [(t[1], i, 0) for i, t in enumerate(timed)] + [(t[2], i, 1) for i, t in enumerate(timed)]
        )
        lsn = LSN_BASE + rng.randrange(10**12)
        lsn_at: dict[tuple[int, int], Decimal] = {}
        for _, i, edge in points:
            lsn += rng.randrange(1, 10**6)
            lsn_at[(i, edge)] = Decimal(lsn)
        prev_log_last = lsn_at[(0, 0)]
        preferred = 0
        for i, (btype, start, finish, copy_only, dev_type) in enumerate(timed):
            if btype == "Log":
                first, last = prev_log_last, lsn_at[(i, 1)]
                prev_log_last = last
            else:
                first, last = lsn_at[(i, 0)], lsn_at[(i, 1)]
            if len(replicas) > 1 and start.hour == 0 and rng.random() < 0.3:
                preferred = 1 - preferred  # failover: the other replica takes backups
            if len(replicas) == 1:
                server = replicas[0]
            else:
                server = replicas[preferred if rng.random() < 0.85 else 1 - preferred]
            m = msdb[server]
            set_id = m.next_set
            m.next_set += 1
            if btype == "Full" and dev_type == 2:
                n_stripes = rng.choice([1, 1, 2, 4])
            elif btype == "Diff":
                n_stripes = rng.choice([1, 1, 1, 2])
            elif btype == "Log":
                n_stripes = 2 if rng.random() < 0.05 else 1
            else:
                n_stripes = 1
            device_type = 9 if url and dev_type == 2 else dev_type
            position = 2 if btype == "Log" and rng.random() < 0.05 else 1
            size = rng.randrange(10**6, 10**11)
            m.add("backupset", backup_set_id=set_id, media_set_id=set_id,
                  database_name=db, type=_TYPE_CODE[btype], backup_start_date=start,
                  backup_finish_date=finish, server_name=server, recovery_model="FULL",
                  first_lsn=first, last_lsn=last, backup_size=Decimal(size),
                  compressed_backup_size=Decimal(size // rng.randrange(2, 6)),
                  is_copy_only=copy_only, encryptor_type="CERTIFICATE" if enc else None,
                  key_algorithm="aes_256" if enc else None, position=position)
            stamp = start.strftime("%Y%m%d_%H%M%S")
            devices = []
            for k in range(n_stripes):
                if device_type == 7:
                    name = f"{{{db}-{server}-{stamp}-snapshot}}"
                elif device_type == 9:
                    name = (f"https://backupacct.blob.core.windows.net/{server.lower()}/"
                            f"{db}_{btype}_{stamp}_{set_id}_{k + 1}.{_EXT[btype]}")
                else:
                    name = (f"X:\\Backup\\{server}\\{db}\\"
                            f"{db}_{btype}_{stamp}_{set_id}_{k + 1}.{_EXT[btype]}")
                devices.append(name)
                m.add("backupmediafamily", media_set_id=set_id, physical_device_name=name,
                      device_type=device_type)
            live = []
            for n, (logical, drive, physical, ftype) in enumerate(files, start=1):
                m.add("backupfile", backup_set_id=set_id, logical_name=logical,
                      physical_drive=drive, physical_name=physical, file_type=ftype,
                      file_number=n, state=0)
                live.append(logical)
            if rng.random() < DROPPED_FILE_SHARE:
                m.add("backupfile", backup_set_id=set_id, logical_name=f"{db}_old",
                      physical_drive="D:", physical_name=f"D:\\MSSQL\\DATA\\{db}_old.ndf",
                      file_type="D", file_number=len(files) + 1, state=8)
            for name in devices:
                fleet.files.append(BackupFile(
                    server=server, database=db, ag=ag, btype=btype, device=name,
                    device_type=device_type, start=start, finish=finish,
                    first_lsn=first, last_lsn=last, position=position,
                    is_copy_only=copy_only, live_files=tuple(live)))
    fleet.tables = {s: msdb[s].cols for s in servers}
    return fleet


def midnight_fleet() -> Fleet:
    """One server, one database, two backups, the same for every seed: a
    Full that runs 23:50 -> 00:02 and a Log that finishes at 00:06, so the
    Full's finish lies inside the replay buffer of the next run."""
    day = HISTORY_START + dt.timedelta(days=1)
    server, db = "SQLMID01", "app_mid"
    spec = FleetSpec(standalone_servers=1, ag_pairs=0, dbs_per_server=1, dbs_per_ag=0,
                     hours=24 + 1)
    fleet = Fleet(spec=spec, servers=[server], ags={}, chains=[(db, server)])
    m = _Msdb()
    m.database(db)
    live = []
    for n, (logical, drive, physical, ftype) in enumerate(_db_files(db), start=1):
        live.append(logical)
        for set_id in (1, 2):
            m.add("backupfile", backup_set_id=set_id, logical_name=logical,
                  physical_drive=drive, physical_name=physical, file_type=ftype,
                  file_number=n, state=0)
    backups = [  # (set id, type, start, finish, first LSN, last LSN)
        (1, "Full", day - dt.timedelta(minutes=10), day + dt.timedelta(minutes=2), 100, 200),
        (2, "Log", day + dt.timedelta(minutes=5), day + dt.timedelta(minutes=6), 50, 300),
    ]
    for set_id, btype, start, finish, first, last in backups:
        device = f"X:\\Backup\\{server}\\{db}\\{db}_{btype}_{set_id}.{_EXT[btype]}"
        first, last = Decimal(LSN_BASE + first), Decimal(LSN_BASE + last)
        m.add("backupset", backup_set_id=set_id, media_set_id=set_id, database_name=db,
              type=_TYPE_CODE[btype], backup_start_date=start, backup_finish_date=finish,
              server_name=server, recovery_model="FULL", first_lsn=first, last_lsn=last,
              backup_size=Decimal(10**9), compressed_backup_size=Decimal(10**8),
              is_copy_only=False, encryptor_type=None, key_algorithm=None, position=1)
        m.add("backupmediafamily", media_set_id=set_id, physical_device_name=device,
              device_type=2)
        fleet.files.append(BackupFile(
            server=server, database=db, ag=None, btype=btype, device=device, device_type=2,
            start=start, finish=finish, first_lsn=first, last_lsn=last, position=1,
            is_copy_only=False, live_files=tuple(live)))
    fleet.tables = {server: m.cols}
    return fleet


def make_up(fleet: Fleet) -> dict:
    """Shares that describe the generated inputs."""
    files = fleet.files
    n = len(files)
    stripes = Counter((f.server, f.database, f.first_lsn, f.last_lsn) for f in files)
    return {
        "servers": len(fleet.servers),
        "ags": len(fleet.ags),
        "chains": len(fleet.chains),
        "hours": fleet.spec.hours,
        "backup_files": n,
        "backup_sets": len(stripes),
        "striped_set_share": round(sum(c > 1 for c in stripes.values()) / len(stripes), 3),
        "copy_only_share": round(sum(f.is_copy_only for f in files) / n, 4),
        "ag_share": round(sum(f.ag is not None for f in files) / n, 3),
        "url_share": round(sum(f.device_type == 9 for f in files) / n, 3),
        "vdi_share": round(sum(f.device_type == 7 for f in files) / n, 4),
        "past_midnight_share": round(
            sum(f.start.date() != f.finish.date() for f in files) / n, 4),
    }


def _arrow_schemas():
    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")  # read back as Spark TimestampType
    lsn = pa.decimal128(25, 0)
    size = pa.decimal128(20, 0)
    return {
        "backupset": pa.schema([
            ("backup_set_id", pa.int64()), ("media_set_id", pa.int64()),
            ("database_name", pa.string()), ("type", pa.string()),
            ("backup_start_date", ts), ("backup_finish_date", ts),
            ("server_name", pa.string()), ("recovery_model", pa.string()),
            ("first_lsn", lsn), ("last_lsn", lsn), ("backup_size", size),
            ("compressed_backup_size", size), ("is_copy_only", pa.bool_()),
            ("encryptor_type", pa.string()), ("key_algorithm", pa.string()),
            ("position", pa.int32())]),
        "backupmediafamily": pa.schema([
            ("media_set_id", pa.int64()), ("physical_device_name", pa.string()),
            ("device_type", pa.int32())]),
        "backupfile": pa.schema([
            ("backup_set_id", pa.int64()), ("logical_name", pa.string()),
            ("physical_drive", pa.string()), ("physical_name", pa.string()),
            ("file_type", pa.string()), ("file_number", pa.int32()), ("state", pa.int32())]),
        "databases": pa.schema([("name", pa.string()), ("database_id", pa.int64())]),
        "replica_states": pa.schema([
            ("database_id", pa.int64()), ("group_id", pa.string()), ("is_local", pa.bool_())]),
        "availability_groups": pa.schema([("group_id", pa.string()), ("name", pa.string())]),
    }


def write_sources(fleet: Fleet, root: str) -> dict[str, str]:
    """Write each server's msdb tables as ``{root}/{server}/{table}.parquet``
    (the layout ``sources.readers.read_source_tables`` reads); returns
    server -> directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = _arrow_schemas()
    dirs = {}
    for server, tables in fleet.tables.items():
        d = os.path.join(root, server)
        for name in TABLES:
            os.makedirs(os.path.join(d, f"{name}.parquet"), exist_ok=True)
            table = pa.Table.from_pydict(tables[name], schema=schemas[name])
            pq.write_table(table, os.path.join(d, f"{name}.parquet", "part-0.parquet"))
        dirs[server] = d
    return dirs
