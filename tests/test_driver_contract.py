"""Guards on the driver-gate registry in ``__spark_entry__``.

The driver's per-round CORRECTNESS check covers only the FIRST 50
entries of ``queries()``. These tests pin the invariants that keep that
window honest:

- every registered query has an oracle (no silent rows-only holes);
- any query that has never received a green CORRECTNESS row in a past
  round must sit inside the 50-query window, so appending new gates at
  the end can't leave them permanently unchecked (r3 verdict task 8).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _green_rounds() -> tuple[dict[str, int], int]:
    """(last driver-green round per gate, latest recorded round)."""
    last_green: dict[str, int] = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        try:
            data = json.load(open(path))
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        except Exception:
            continue
        latest = max(latest, rnd)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            # Mirror tools/rotation.py: a rows-only-by-design gate the
            # driver ran (err == "no_oracle" + recorded row count)
            # counts as driver-verified, so it rotates on the normal
            # cadence instead of camping in the window as never-green.
            ran_rows_only = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if row.get("hash_match") or ran_rows_only:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green, latest


def _greens_from_past_rounds() -> set[str]:
    return set(_green_rounds()[0])


#: gates that are rows-only BY DESIGN, each with the reason no
#: engine-independent SQL twin can exist. Anything else missing an
#: oracle is a defect.
ROWS_ONLY_BY_DESIGN = {
    "compression_ratio_signal": "zlib has no SQL twin; determinism "
    "pinned by exact-ppm unit tests instead",
}


def test_every_query_has_an_oracle():
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    missing = sorted(set(queries) - set(oracles) - set(ROWS_ONLY_BY_DESIGN))
    assert missing == [], f"rows-only gates (no oracle SQL): {missing}"
    # the allowlist itself can't rot: every entry must be a live
    # oracle-less gate
    for name in ROWS_ONLY_BY_DESIGN:
        assert name in queries and name not in oracles, name


def test_oracles_have_no_orphans():
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    orphans = sorted(set(oracles) - set(queries))
    assert orphans == [], f"oracle SQL without a query: {orphans}"


def test_never_green_queries_sit_in_driver_window():
    """A query with no green CORRECTNESS row in any recorded round must
    occupy one of the first 50 registry slots, where the driver will
    actually check it next round."""
    names = list(entry_mod.queries())
    greens = _greens_from_past_rounds()
    stranded = [
        n for i, n in enumerate(names) if i >= DRIVER_WINDOW and n not in greens
    ]
    assert stranded == [], (
        f"{len(stranded)} never-green queries are outside the driver's "
        f"{DRIVER_WINDOW}-query window: {stranded}"
    )


def test_no_stale_greens_outside_driver_window():
    """Rotation forcing function (r5 verdict task 1): a gate parked
    outside the 50-slot window must have a driver-green CORRECTNESS row
    from one of the LAST TWO recorded rounds. The moment a new round's
    CORRECTNESS file lands, any gate that would become 3-rounds-stale
    turns this red — so the rotation debt can't silently accumulate the
    way the r3 text/sampling block did.

    Exception, structural: with more than 2×50 registered gates the
    window cannot reach everything every two rounds. The overflow is
    the explicit ``ROTATION_DEFERRED`` set in ``__spark_entry__`` —
    capped at the structural deficit, members must be parked, and even
    they may be at most THREE recorded rounds stale (the hard ceiling
    that forces them into the next window). (Never-green gates are the
    previous test's job; skipped here to avoid double-reporting.)"""
    names = list(entry_mod.queries())
    deferred = getattr(entry_mod, "ROTATION_DEFERRED", frozenset())
    deficit = max(0, len(names) - 2 * DRIVER_WINDOW)
    assert len(deferred) <= deficit, (
        f"ROTATION_DEFERRED holds {len(deferred)} gates but the "
        f"structural deficit is only {deficit} ({len(names)} gates, "
        f"{DRIVER_WINDOW}-slot window) — deferral may not exceed what "
        f"the registry size forces"
    )
    in_window = set(names[:DRIVER_WINDOW])
    misplaced = sorted(deferred & in_window)
    assert misplaced == [], (
        f"ROTATION_DEFERRED gates are inside the window (defer only "
        f"parked gates): {misplaced}"
    )
    last_green, latest = _green_rounds()
    stale = [
        (n, last_green[n])
        for i, n in enumerate(names)
        if i >= DRIVER_WINDOW
        and n in last_green
        and last_green[n] < latest - (2 if n in deferred else 1)
    ]
    assert stale == [], (
        f"latest recorded round is r{latest}; these outside-window gates "
        f"exceed their staleness budget (2 rounds, 3 for "
        f"ROTATION_DEFERRED) and must rotate into the first "
        f"{DRIVER_WINDOW} slots: {stale}"
    )


def test_window_matches_computed_rotation():
    """Window assembly is no longer hand-maintained (r6 verdict task 7):
    ``tools/rotation.py`` computes next-window membership and the
    ROTATION_DEFERRED set purely from the committed CORRECTNESS_r*.json
    history (never-green first, then stalest-green, name tiebreak).
    The shipped registry must match — rotate by re-running the helper,
    not by hand-picking gates."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rotation import compute_rotation, load_green_history

    names = list(entry_mod.queries())
    last_green, latest = load_green_history(REPO)
    window_set, deferred = compute_rotation(
        names, last_green, DRIVER_WINDOW, latest=latest
    )
    shipped = set(names[:DRIVER_WINDOW])
    assert shipped == window_set, (
        f"shipped window diverges from computed rotation; "
        f"rotate IN: {sorted(window_set - shipped)}; "
        f"rotate OUT: {sorted(shipped - window_set)}"
    )
    assert set(entry_mod.ROTATION_DEFERRED) == deferred, (
        f"ROTATION_DEFERRED diverges from computed rotation; "
        f"add: {sorted(deferred - set(entry_mod.ROTATION_DEFERRED))}; "
        f"remove: {sorted(set(entry_mod.ROTATION_DEFERRED) - deferred)}"
    )


def test_window_is_full():
    """Fewer than 50 registered queries would waste driver coverage."""
    assert len(entry_mod.queries()) >= DRIVER_WINDOW


def test_no_oracle_emits_hugeint():
    """DuckDB types an uncast ``sum(INTEGER/BIGINT)`` as HUGEINT
    (int128); the driver's fetch path renders HUGEINT differently from
    BIGINT, so the value hash diverges even when every value is
    numerically identical (root cause of all 8 r4 hash-reds). Doctrine:
    oracle aggregates are always cast to a concrete width. This guard
    binds every oracle against the sf0.001 tables (``describe`` plans
    without executing) and asserts no output column types as HUGEINT."""
    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    offenders = []
    for name, sql in entry_mod.oracle_sql().items():
        if not sql:
            continue
        try:
            rows = con.execute(
                f"describe select * from ({sql.rstrip().rstrip(';')}) q"
            ).fetchall()
        except Exception as exc:  # unbindable oracle is its own failure
            offenders.append((name, f"describe failed: {exc}"))
            continue
        for col, coltype, *_ in rows:
            if "HUGEINT" in str(coltype).upper():
                offenders.append((name, f"{col}: {coltype}"))
    assert offenders == [], f"oracles emitting HUGEINT/int128: {offenders}"


def test_temperature_scale_cte_tracks_python_loop():
    """TEMPERATURE_SCALE_CTE's CASE ladder must pick the same scale as
    temperature_rates' step-down loop (curation.py: scale /= 1e2 while
    max(count)*scale >= 2**53) for every group count either side could
    see. The two can only diverge for a single group holding >= 2^53
    documents (the SQL clamps at 1e0, the loop continues to 1e-2) —
    beyond any corpus; this test pins the whole shared domain grid."""
    import duckdb

    case_sql = """
    select case
         when m * 1e12 < 9007199254740992.0 then 1e12
         when m * 1e10 < 9007199254740992.0 then 1e10
         when m * 1e8  < 9007199254740992.0 then 1e8
         when m * 1e6  < 9007199254740992.0 then 1e6
         when m * 1e4  < 9007199254740992.0 then 1e4
         when m * 1e2  < 9007199254740992.0 then 1e2
         else 1e0 end
    from (select cast(? as double) as m)
    """
    def python_scale(m: float) -> float:
        scale = 1e12
        while m * scale >= 2**53:
            scale /= 1e2
        return scale

    con = duckdb.connect()
    for m in [1, 2, 9006, 9007, 10**5 + 3, 10**7 + 11, 10**9 + 7,
              10**11 + 13, 9 * 10**13, 9_006_000_000_000_000]:
        got = con.execute(case_sql, [float(m)]).fetchone()[0]
        want = python_scale(float(m))
        assert got == want, (m, got, want)

    # and the CTE string itself still contains the same ladder rungs
    for rung in ("1e12", "1e10", "1e8", "1e6", "1e4", "1e2", "1e0"):
        assert rung in entry_mod.TEMPERATURE_SCALE_CTE


def test_rotation_policy_is_self_consistent_over_rounds():
    """Pure-function check of tools/rotation.py on synthetic histories:
    simulate rounds where the driver greens exactly the computed window
    each time, and assert the standing invariants at every step —
    never-green gates always in-window, parked gates within their
    staleness budget, deferred == parked-not-green-in-latest-round, and
    the deferred overflow exactly equal to the structural deficit once
    the rotation reaches steady state."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rotation import compute_rotation

    window = 10
    names = [f"g{i:03d}" for i in range(27)]  # deficit = 7
    last_green: dict[str, int] = {}
    for rnd in range(1, 8):
        window_set, deferred = compute_rotation(names, last_green, window)
        assert len(window_set) == window
        # never-green gates must be in the window
        for n in names:
            if n not in last_green:
                assert n in window_set or len(
                    [m for m in names if m not in last_green]
                ) > window
        # deferred gates are parked and within the 3-round cap
        latest = max(last_green.values(), default=0)
        for n in deferred:
            assert n not in window_set
            assert last_green[n] >= latest - 2
        # parked non-deferred gates are green in the latest round
        for n in names:
            if n not in window_set and n not in deferred and n in last_green:
                assert last_green[n] == latest
        # driver greens the window this round
        for n in window_set:
            last_green[n] = rnd
    # steady state: every gate green, overflow == structural deficit
    assert set(last_green) == set(names)
    window_set, deferred = compute_rotation(names, last_green, window)
    assert len(deferred) == len(names) - 2 * window
    # and no gate can be deferred twice in a row: deferring requires a
    # green in the latest round's predecessor, but a gate deferred last
    # round wasn't greened, so two consecutive deferrals would breach
    # the 3-round cap the assertions above enforce.


def test_rotation_latest_threads_through_zero_green_round():
    """r7 advice: a round whose CORRECTNESS file records ZERO
    hash-matches (driver regression) must still advance `latest` via
    the threaded parameter — inferring it from green rows would leave
    the deferred set computed against the wrong round."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rotation import compute_rotation

    names = [f"g{i}" for i in range(6)]
    last_green = {"g0": 2, "g1": 2, "g2": 1, "g3": 1}  # g4/g5 never green
    # latest recorded round is 3 (zero greens in it): every parked
    # green gate is stale relative to r3 and must be deferred
    win, deferred = compute_rotation(names, last_green, 4, latest=3)
    parked = set(names) - win
    assert parked <= deferred
    # inferred fallback (latest=None → max green = 2) would NOT defer
    # the r2 greens — the exact weakening the threading fixes
    win2, deferred2 = compute_rotation(names, last_green, 4)
    assert deferred2 < deferred


def test_python_bound_gate_stages_fan_out(spark):
    """r8 verdict task 8: every mapInPandas stage in the gate basket
    must see MORE THAN ONE input partition — a single small parquet
    file reads as ONE partition and silently serializes all Python
    codec work through one Arrow worker (the r8 JPEG-gate 15.1 s
    trap). Discovery is automatic: spy on mapInPandas while BUILDING
    every registry gate, so a future Python-bound gate without an
    explicit fan-out fails here instead of in a bench regression."""
    import pyspark.sql.classic.dataframe as D

    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")

    orig = D.DataFrame.mapInPandas
    current = {"gate": None}
    seen: dict[str, list[int]] = {}

    def spy(self, func, schema, **kw):
        seen.setdefault(current["gate"], []).append(
            self.rdd.getNumPartitions()
        )
        return orig(self, func, schema, **kw)

    D.DataFrame.mapInPandas = spy
    try:
        for name, fn in entry._FUNCS.items():
            current["gate"] = name
            fn(spark, sf_dir)  # build only — no action
    finally:
        D.DataFrame.mapInPandas = orig

    # the codec/multimodal family must be present (the spy works) ...
    assert len(seen) >= 14, sorted(seen)
    # ... and every Python-bound stage fans out
    serialized = {
        g: ns for g, ns in seen.items() if any(n <= 1 for n in ns)
    }
    assert not serialized, (
        f"single-partition mapInPandas input would serialize Python "
        f"codec work on one Arrow worker: {serialized}"
    )


def test_grouped_python_gate_stages_fan_out(spark):
    """r9 verdict task 8: the mapInPandas spy above misses the grouped
    Python family — ``GroupedData.applyInPandas`` (webdataset shard
    packing) and ``applyInPandasWithState``. For grouped stages the
    parent's partition count is irrelevant (the groupBy shuffles), so
    the serialization trap is different: an EMPTY grouping key list
    (``df.groupBy().applyInPandas``) collapses the whole input into
    one global group on one worker. Spy on groupBy + the apply family
    across every registry gate build and assert each grouped-Python
    site carries at least one grouping column."""
    import pyspark.sql.classic.dataframe as D
    import pyspark.sql.group as G

    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")

    orig_groupby = D.DataFrame.groupBy
    orig_apply = G.GroupedData.applyInPandas
    orig_state = G.GroupedData.applyInPandasWithState
    current = {"gate": None}
    seen: dict[str, list[tuple[str, int]]] = {}

    def spy_groupby(self, *cols):
        gd = orig_groupby(self, *cols)
        gd._spy_n_group_cols = len(cols)
        return gd

    def _record(gd, kind):
        seen.setdefault(current["gate"], []).append(
            (kind, getattr(gd, "_spy_n_group_cols", -1))
        )

    def spy_apply(self, func, schema):
        _record(self, "applyInPandas")
        return orig_apply(self, func, schema)

    def spy_state(self, func, *a, **kw):
        _record(self, "applyInPandasWithState")
        return orig_state(self, func, *a, **kw)

    D.DataFrame.groupBy = spy_groupby
    G.GroupedData.applyInPandas = spy_apply
    G.GroupedData.applyInPandasWithState = spy_state
    try:
        for name, fn in entry._FUNCS.items():
            current["gate"] = name
            fn(spark, sf_dir)  # build only — no action
    finally:
        D.DataFrame.groupBy = orig_groupby
        G.GroupedData.applyInPandas = orig_apply
        G.GroupedData.applyInPandasWithState = orig_state

    # the webdataset shard-packing site must be visible (spy works;
    # n_group_cols -1 would mean a groupBy the spy didn't wrap)
    flat = [(g, kind, n) for g, sites in seen.items()
            for kind, n in sites]
    assert flat, "no grouped-Python site seen — spy wiring broke"
    bad = [(g, kind, n) for g, kind, n in flat if n < 1]
    assert not bad, (
        f"grouped-Python stages without a grouping column run as ONE "
        f"global group on one worker: {bad}"
    )
