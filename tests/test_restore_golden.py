"""Golden guard for both restore planners over the domain fixture.

``restore_golden.json`` pins, for every (database, scope) of the fixture
at three offsets around every backup start time and with T omitted,
``to_script()`` in both styles and every ``RestoreStep`` field, and the
rows of ``restore_plan_all`` at the same points in time. A rewrite of
either planner must reproduce them byte for byte.

Regenerate (only when a change of output is intended) with:

    python tests/test_restore_golden.py
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import sys
from decimal import Decimal

import pytest

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "restore_golden.json")

#: (database, scope) pairs of the fixture. db_ag1 by its server is the
#: server-scoped view of an AG database: it includes the AG's rows taken
#: on that server.
SCOPES = [
    ("db_sa1", {"source_db_server": "SQLNODE01"}),
    ("db_ag1", {"source_ag_name": "AG01"}),
    ("db_ag1", {"source_db_server": "SQLNODE02"}),
]
STYLES = ["spark", "sqlserver"]


def _times() -> list[dt.datetime]:
    from sqlbackuphistoryetl_spark.sources.fixtures import consolidated_rows

    starts = sorted({r["backup_start_date"] for r in consolidated_rows()})
    minute = dt.timedelta(minutes=1)
    return [t + d for t in starts for d in (-minute, dt.timedelta(0), minute)]


def _enc(v):
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return v


def _script_case(consolidated, database, scope, when, style) -> dict:
    from sqlbackuphistoryetl_spark.plans.restore_script import generate_restore_script

    try:
        rs = generate_restore_script(
            consolidated, database, restore_to_time=when, style=style, **scope
        )
    except ValueError as e:
        return {"error": str(e)}
    return {
        "text": rs.to_script(),
        "steps": [
            {k: _enc(v) for k, v in dataclasses.asdict(s).items()} for s in rs.steps
        ],
    }


def _plan_case(consolidated, when) -> list[dict]:
    from sqlbackuphistoryetl_spark.plans.chain_all import restore_plan_all

    rows = restore_plan_all(consolidated, when).collect()
    rows.sort(key=lambda r: (r["database_name"], r["entity"], r["seq"]))
    return [{k: _enc(v) for k, v in r.asDict().items()} for r in rows]


def _key(database, scope, when, style) -> str:
    (kind, name), = scope.items()
    return f"{database}|{kind}={name}|{when.isoformat() if when else '-'}|{style}"


def capture(consolidated) -> dict:
    script = {}
    for database, scope in SCOPES:
        for when in [*_times(), None]:
            for style in STYLES:
                script[_key(database, scope, when, style)] = _script_case(
                    consolidated, database, scope, when, style
                )
    plan = {t.isoformat(): _plan_case(consolidated, t) for t in _times()}
    return {"script": script, "plan": plan}


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("database,scope", SCOPES, ids=lambda v: str(v))
@pytest.mark.parametrize("style", STYLES)
def test_restore_script_golden(consolidated, golden, database, scope, style):
    for when in [*_times(), None]:
        key = _key(database, scope, when, style)
        got = _script_case(consolidated, database, scope, when, style)
        assert got == golden["script"][key], key


def test_restore_plan_all_golden(consolidated, golden):
    for when in _times():
        assert _plan_case(consolidated, when) == golden["plan"][when.isoformat()], when


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sqlbackuphistoryetl_spark.session import get_spark
    from sqlbackuphistoryetl_spark.sources.fixtures import consolidated_df

    spark = get_spark(app_name="restore-golden", shuffle_partitions=8)
    cons = consolidated_df(spark).cache()
    out = capture(cons)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")
    spark.stop()
    print(f"wrote {len(out['script'])} script cases and {len(out['plan'])} plans to {GOLDEN}")
