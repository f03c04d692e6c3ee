"""Driver contract for the spark-graft builder (PySpark target).

Every SURVEY.md §2 operator re-expressed over the driver's star schema
(FIXTURES.md §B mapping), each with a DuckDB oracle unless genuinely
non-SQL-expressible (those are rows-only). Engine operators from
``sqlbackuphistoryetl_spark`` are used directly so the gate exercises
the same code paths as the domain pipeline.

Determinism rules used throughout (so Spark and DuckDB hash-match):
- every computed column is aliased identically on both sides;
- float SUMs are per-row quantized to exact integer units (order-free
  bigint sums), never summed as doubles or scaled decimals;
- derived doubles only ever come from *exactly-equal* scalars
  (IEEE ops on identical inputs are bit-identical); multi-term double
  folds run in an explicit sorted order on both engines;
- every window/limit has a total deterministic order (ties broken by key);
- event times are compared and emitted as epoch-µs BIGINTs (`_ts_us` /
  `epoch_us`), never as raw timestamps — the driver owns the session,
  so its timezone, NTZ inference, and parquet ts encoding (µs vs NANOS)
  are all out of this module's control; a redundant coarse raw-ts bound
  (±2-day slack) keeps parquet pushdown alive next to each exact epoch
  filter. Verified under a hostile matrix (tools/hostile_sim.py):
  {UTC, America/New_York, Asia/Kolkata} × {inferTimestampNTZ on/off} ×
  {µs parquet, TIMESTAMP(NANOS) with nonzero sub-µs};
- oracle aggregates are ALWAYS cast to a concrete width: DuckDB types
  an uncast ``sum(INTEGER/BIGINT)`` as HUGEINT (int128), which the
  driver's fetch path renders differently from BIGINT — the sole root
  cause of all 8 round-4 hash-reds. Enforced by
  tests/test_driver_contract.py::test_no_oracle_emits_hugeint, which
  binds every oracle through DuckDB ``describe``;
- date-valued outputs are epoch-µs bigints or strings built by the
  zone-free formatter ``_fmt_wall_us`` — never ``date_format`` over an
  instant (renders in the session zone).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------- helpers

WM = "2024-01-20 00:00:00"          # events watermark for P4/J6/O4
WM_MINUS_5M = "2024-01-19 23:55:00"
RETENTION_CUT = "2024-01-21 00:00:00"  # "now"(2024-01-31) − 10 days
ORDER_PIT = "1995-06-01 00:00:00"   # orders point-in-time for U1
SHIP_CUT = "1998-09-02 00:00:00"    # TPC-H Q1 cutoff


def _fan(spark: SparkSession) -> int:
    """Fan-out for Python-bound (mapInPandas/codec) stages: one task
    wave at the session's core count. Replaces the old hard-coded 64
    (r13): every Python-stage task pays a fixed runner handshake
    (~11 ms/partition measured on a trivial mapInPandas), so at
    local[32] 64 partitions was two waves of pure overhead, and at the
    driver's lower-core scaling runs proportionally worse. Tracks
    $SPARK_GRAFT_CPUS via defaultParallelism, so the same gate code
    sizes itself to any cluster. Results are partitioning-independent
    (per-row codecs, keyed aggregates, file-scoped walks)."""
    return spark.sparkContext.defaultParallelism


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has shipped with two physical ts encodings over
        # time: TIMESTAMP(NANOS) (which Spark's parquet reader surfaces
        # only via nanosAsLong) and plain timestamp[us]. Adapt to whatever
        # the file actually holds: convert ns→µs only when ts reads back
        # as a long (legacy nanos), pass through when it is already a
        # timestamp. Integer division for the ns path — a double would
        # lose precision above 2^53.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts_us(df: DataFrame, col: str):
    """Wall-clock epoch microseconds of a timestamp column as BIGINT,
    independent of the session timezone AND of how the parquet reader
    surfaced the column (the driver owns the SparkSession, so neither is
    under this gate's control):

    - ``timestamp`` (instant): the testdata's NTZ/NANOS micros are taken
      as-is into the instant, so ``unix_micros`` — which reads the
      internal UTC micros directly — recovers the stored wall-clock
      without ever rendering in the session zone.
    - ``timestamp_ntz``: pure field extraction (``unix_date``/``hour``/
      ``minute``/``date_part('SECOND')``), all wall-clock-based and
      timezone-free.

    The DuckDB twin is ``epoch_us(col)`` (truncates ns → µs exactly like
    the ns-ingest path's ``div 1000``).
    """
    dt = dict(df.dtypes).get(col)
    c = F.col(col)
    if dt == "timestamp_ntz":
        return (
            (
                F.unix_date(c.cast("date")) * F.lit(86400)
                + F.hour(c) * F.lit(3600)
                + F.minute(c) * F.lit(60)
            ).cast("long")
            * F.lit(1000000)
            + F.expr(f"cast(date_part('SECOND', {col}) * 1000000 as bigint)")
        )
    return F.unix_micros(c)


def _us(wall_clock: str) -> int:
    """Epoch µs of a 'yyyy-MM-dd HH:mm:ss' wall-clock string (UTC-fixed,
    computed driver-side so no engine parses it in a session zone)."""
    import datetime as _dt

    d = _dt.datetime.strptime(wall_clock, "%Y-%m-%d %H:%M:%S")
    return int(d.replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000


def _coarse_before(col: str, wall_clock: str):
    """Redundant PUSHABLE upper-bound predicate for an exact epoch-µs
    filter: ``col <= wall_clock + 2 days`` on the raw timestamp column.
    The exact `_ts_us(...) <= _us(...)` comparison is a computed column,
    so Catalyst can't push it into the parquet scan — at 100 TB that
    forfeits row-group min/max skipping. This coarse literal comparison
    IS pushable, and the 2-day slack dwarfs any session-zone
    interpretation shift (≤ 14 h), so it can never exclude a row the
    exact filter would keep."""
    import datetime as _dt

    d = _dt.datetime.strptime(wall_clock, "%Y-%m-%d %H:%M:%S") + _dt.timedelta(days=2)
    return F.col(col) <= F.lit(d.strftime("%Y-%m-%d %H:%M:%S"))


def _coarse_after(col: str, wall_clock: str):
    """Pushable lower-bound twin of :func:`_coarse_before`."""
    import datetime as _dt

    d = _dt.datetime.strptime(wall_clock, "%Y-%m-%d %H:%M:%S") - _dt.timedelta(days=2)
    return F.col(col) >= F.lit(d.strftime("%Y-%m-%d %H:%M:%S"))


def _fmt_wall_us(us):
    """'yyyy-MM-dd HH:mm:ss' string from wall-clock epoch-µs, with NO
    timestamp rendering in any session zone: the date part rides DATE
    arithmetic (dates carry no zone; the cast→format round-trip through
    the session zone cancels exactly), the time part is integer mod.
    Env-proof completion of the §2.8 STOPAT formatting doctrine — the
    r5 hostile matrix caught `date_format(instant)` shifting under
    Asia/Kolkata + legacy NTZ inference."""
    import datetime as _dt

    # Integer-exact day derivation (r5 advice): us - pmod(us, day) is an
    # exact multiple of 86_400_000_000; dividing via decimal(38,0) keeps
    # the quotient exact at ANY epoch, where the old `floor(us / day)`
    # double path loses integer exactness for |us| >= 2^53 (~year 2255)
    # and could disagree with the pmod-exact time part.
    day_us = F.lit(86_400_000_000)
    days = (
        (us - F.pmod(us, day_us)).cast("decimal(38,0)")
        / day_us.cast("decimal(38,0)")
    ).cast("int")
    d = F.date_add(F.lit(_dt.date(1970, 1, 1)), days)
    secs = F.floor(F.pmod(us, F.lit(86_400_000_000)) / F.lit(1_000_000)).cast(
        "long"
    )
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    return F.concat(
        F.date_format(d, "yyyy-MM-dd"),
        F.lit(" "),
        two(F.floor(secs / 3600)),
        F.lit(":"),
        two(F.pmod(F.floor(secs / 60), F.lit(60))),
        F.lit(":"),
        two(F.pmod(secs, F.lit(60))),
    )


_IVF_CENTROID_CACHE: dict[str, list[list[float]]] = {}
_IVF_INDEX_CACHE: dict[str, str] = {}
_MINHASH_IDX_CACHE: dict[str, str] = {}

# ---------------------------------------------------------------- queries


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape, hash-red in rounds 1-3 despite locally-verified
    value equality — so round 4 removes every driver-environment-sensitive
    surface instead of iterating on the math:

    1. The ship-date filter compares epoch-µs BIGINTs on both sides
       (``_ts_us`` / ``epoch_us``) — no engine ever parses a timestamp
       literal in an unknown session timezone.
    2. Per-row quantization via ``floor(x*100 + 0.5)`` — pure IEEE double
       ops, bit-identical in every engine — then exact int64 math only.
    3. The output carries NO decimal columns at all: integer unit sums
       (cents / 1e-4 / 1e-6 units) as BIGINT, plus two doubles derived
       from those exact integers by the identical expression text on both
       sides (sums < 2^53, so the doubles are bit-equal).
    """
    l = _t(spark, sf_dir, "lineitem")
    # coarse pushable bound first (parquet row-group skipping), exact
    # epoch-µs comparison second (decides membership portably)
    l = l.filter(_coarse_before("l_shipdate", SHIP_CUT))
    l = l.filter(_ts_us(l, "l_shipdate") <= F.lit(_us(SHIP_CUT)))
    qty_c = F.floor(F.col("l_quantity") * F.lit(100.0) + F.lit(0.5))
    price_c = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
    disc_c = F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
    tax_c = F.floor(F.col("l_tax") * F.lit(100.0) + F.lit(0.5))
    disc_price_u = price_c * (F.lit(100) - disc_c)  # 1e-4 units, exact int64
    charge_u = disc_price_u * (F.lit(100) + tax_c)  # 1e-6 units, exact int64
    out = (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).cast("long").alias("sum_qty_c"),
            F.sum(price_c).cast("long").alias("sum_base_price_c"),
            F.sum(disc_price_u).cast("long").alias("sum_disc_price_u"),
            F.sum(charge_u).cast("long").alias("sum_charge_u"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.col("sum_qty_c") / F.lit(100.0) / F.col("count_order"),
        )
        .withColumn(
            "avg_price",
            F.col("sum_base_price_c") / F.lit(100.0) / F.col("count_order"),
        )
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty_c", "sum_base_price_c",
        "sum_disc_price_u", "sum_charge_u", "count_order", "avg_qty", "avg_price",
    ).orderBy("l_returnflag", "l_linestatus")


Q1_SQL = f"""
with q as (
  select l_returnflag, l_linestatus,
         cast(floor(l_quantity * 100.0 + 0.5) as bigint) as qty_c,
         cast(floor(l_extendedprice * 100.0 + 0.5) as bigint) as price_c,
         cast(floor(l_discount * 100.0 + 0.5) as bigint) as disc_c,
         cast(floor(l_tax * 100.0 + 0.5) as bigint) as tax_c
  from lineitem
  where epoch_us(l_shipdate) <= {_us(SHIP_CUT)})
select l_returnflag, l_linestatus,
       cast(sum(qty_c) as bigint) as sum_qty_c,
       cast(sum(price_c) as bigint) as sum_base_price_c,
       cast(sum(price_c * (100 - disc_c)) as bigint) as sum_disc_price_u,
       cast(sum(price_c * (100 - disc_c) * (100 + tax_c)) as bigint)
           as sum_charge_u,
       count(*) as count_order,
       cast(sum(qty_c) as bigint) / 100.0 / count(*) as avg_qty,
       cast(sum(price_c) as bigint) / 100.0 / count(*) as avg_price
from q
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
"""


def w1_latest_order_per_customer(spark, sf_dir):
    """W1: dense_rank latest-with-ties (stripe-preserving latest backup)."""
    from sqlbackuphistoryetl_spark.operators.windows import latest_with_ties

    orders = _t(spark, sf_dir, "orders")
    out = latest_with_ties(orders, ["o_custkey"], "o_orderdate", rank_col="rnk")
    return out.select("o_custkey", "o_orderkey", "o_orderdate")


W1_SQL = """
select o_custkey, o_orderkey, o_orderdate
from (select o_custkey, o_orderkey, o_orderdate,
             dense_rank() over (partition by o_custkey order by o_orderdate desc) as rnk
      from orders) t
where rnk = 1
"""


def w2_canonical_group_id(spark, sf_dir):
    """W2: min(id) over group — canonical stripe-group id."""
    from sqlbackuphistoryetl_spark.operators.windows import stripe_group_id

    li = _t(spark, sf_dir, "lineitem")
    out = stripe_group_id(li, id_col="l_linenumber", group_cols=["l_orderkey"],
                          out_col="canonical_line")
    return out.select("l_orderkey", "l_linenumber", "canonical_line")


W2_SQL = """
select l_orderkey, l_linenumber,
       min(l_linenumber) over (partition by l_orderkey) as canonical_line
from lineitem
"""


def w3_tail_two_patch(spark, sf_dir):
    """W3: last-2-per-key flag + conditional text patch (STOPAT analog)."""
    from sqlbackuphistoryetl_spark.operators.windows import tail_n_per_key

    orders = _t(spark, sf_dir, "orders")
    flagged = tail_n_per_key(
        orders,
        ["o_custkey"],
        F.struct(F.col("o_orderdate"), F.col("o_orderkey")),
        2,
        flag_col="is_tail",
    )
    return flagged.select(
        "o_orderkey",
        F.when(F.col("is_tail"), F.concat(F.col("o_orderpriority"), F.lit(" [TAIL]")))
        .otherwise(F.col("o_orderpriority"))
        .alias("patched_priority"),
    )


W3_SQL = """
select o_orderkey,
       case when rn <= 2 then o_orderpriority || ' [TAIL]' else o_orderpriority end
           as patched_priority
from (select o_orderkey, o_orderpriority,
             row_number() over (partition by o_custkey
                                order by o_orderdate desc, o_orderkey desc) as rn
      from orders) t
"""


def j1_region_revenue(spark, sf_dir):
    """J1/J2: multi-way broadcast equi-joins + grouped decimal sum."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    out = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )
    return out


J1_SQL = """
select r_name, count(*) as n_orders,
       sum(cast(o_totalprice as decimal(18,2))) as revenue
from orders join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
group by r_name
"""


def j2_customers_without_recent_orders(spark, sf_dir):
    """Anti-join (J6 shape) + grouped count. (Anti-join against *recent*
    orders so the result is non-empty at every SF — an all-customers
    anti-join matches trivially on 0 rows.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # epoch-µs threshold (env-proof; r5 hostile matrix) behind the
    # pushable coarse bound
    recent = o.filter(_coarse_after("o_orderdate", "2001-06-01 00:00:00")).filter(
        _ts_us(o, "o_orderdate") > F.lit(_us("2001-06-01 00:00:00"))
    )
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    orphans = c.join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
    return (
        orphans.join(n, orphans["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


J2_SQL = """
select n_name, count(*) as n_customers
from customer join nation on c_nationkey = n_nationkey
where not exists (select 1 from orders
                  where o_custkey = c_custkey
                    and o_orderdate > timestamp '2001-06-01 00:00:00')
group by n_name
"""


def j3_filtered_left_join(spark, sf_dir):
    """J3: left join with literal pushed into build side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    out = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("open_orders"),
            F.count(F.lit(1)).alias("joined_rows"),
        )
    )
    return out


J3_SQL = """
select c_mktsegment, count(o_orderkey) as open_orders, count(*) as joined_rows
from customer left join (select * from orders where o_orderstatus = 'O') o
     on c_custkey = o_custkey
group by c_mktsegment
"""


def j5_order_lines_json(spark, sf_dir):
    """J5: de-correlated group→to_json(collect_list(struct)) (FOR JSON PATH)."""
    li = _t(spark, sf_dir, "lineitem")
    struct = F.struct(
        F.col("l_linenumber"), F.col("l_returnflag"), F.col("l_linestatus")
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.to_json(F.array_sort(F.collect_list(struct))).alias("lines_json"))
        .select("l_orderkey", "lines_json")
    )


J5_SQL = """
select l_orderkey,
       to_json(list(struct_pack(l_linenumber := l_linenumber,
                                l_returnflag := l_returnflag,
                                l_linestatus := l_linestatus)
                    order by l_linenumber, l_returnflag, l_linestatus)) as lines_json
from lineitem
group by l_orderkey
"""


def j6_watermark_antijoin_dedup(spark, sf_dir):
    """J6+P4: replay-overlap batch minus already-loaded keys (idempotent
    sink's anti-join, on the events stream). Watermark bounds compare as
    epoch-µs bigints and the event time is emitted as epoch µs — green
    however the driver session reads/renders timestamps (ns parquet +
    non-UTC session shifted the raw-ts form)."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    new_batch = ev.filter(_coarse_after("ts", WM_MINUS_5M)).filter(
        F.col("ts_us") >= F.lit(_us(WM_MINUS_5M))
    )
    seen = ev.filter(F.col("ts_us") < F.lit(_us(WM))).select("event_id")
    out = new_batch.join(seen, "event_id", "left_anti")
    return out.select("event_id", "ts_us", "event_type", "value")


J6_SQL = f"""
select event_id, epoch_us(ts) as ts_us, event_type, value
from events e
where epoch_us(ts) >= {_us(WM_MINUS_5M)}
  and not exists (select 1 from events s
                  where epoch_us(s.ts) < {_us(WM)} and s.event_id = e.event_id)
"""


def p4_watermark_overlap_window(spark, sf_dir):
    """P4: the 5-minute replay window itself (epoch-µs bounds — see J6)."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    out = ev.filter(
        _coarse_after("ts", WM_MINUS_5M)
        & _coarse_before("ts", WM)
        & (F.col("ts_us") >= F.lit(_us(WM) - 300_000_000))
        & (F.col("ts_us") < F.lit(_us(WM)))
    )
    return out.select("event_id", "ts_us", "event_type")


P4_SQL = f"""
select event_id, epoch_us(ts) as ts_us, event_type
from events
where epoch_us(ts) >= {_us(WM) - 300_000_000} and epoch_us(ts) < {_us(WM)}
"""


def a1_watermark_advance(spark, sf_dir):
    """A1: per-source max event time (watermark candidates), as epoch µs."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    return ev.groupBy("event_type").agg(
        F.max("ts_us").alias("new_watermark_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


A1_SQL = """
select event_type, max(epoch_us(ts)) as new_watermark_us, count(*) as n_events
from events group by event_type
"""


def a3_retention_cutoff(spark, sf_dir):
    """A3: max with predicate (cleanup cutoff), as epoch µs."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    return ev.filter(
        _coarse_before("ts", RETENTION_CUT)
        & (F.col("ts_us") < F.lit(_us(RETENTION_CUT)))
    ).agg(
        F.max("ts_us").alias("cleanup_to_us"), F.count(F.lit(1)).alias("n_cleanup")
    )


A3_SQL = f"""
select max(epoch_us(ts)) as cleanup_to_us, count(*) as n_cleanup
from events where epoch_us(ts) < {_us(RETENTION_CUT)}
"""


def a4_min_after_threshold(spark, sf_dir):
    """A4: MIN past a threshold (earliest non-copy-only full after LSN).
    Threshold and output in epoch-µs (env-proof; the r5 hostile matrix
    caught the raw-timestamp form shifting a day under Asia/Kolkata +
    legacy NTZ inference)."""
    li = _t(spark, sf_dir, "lineitem")
    cut = "1998-06-15 00:00:00"
    return (
        li.filter(_coarse_after("l_shipdate", cut))
        .filter(_ts_us(li, "l_shipdate") > F.lit(_us(cut)))
        .agg(F.min(_ts_us(li, "l_shipdate")).alias("next_ship_us"))
    )


A4_SQL = """
select min(epoch_us(l_shipdate)) as next_ship_us from lineitem
where l_shipdate > timestamp '1998-06-15 00:00:00'
"""


def a6_sorted_stringagg_per_group(spark, sf_dir):
    """A6: deterministic grouped string_agg (stripe collapse)."""
    from sqlbackuphistoryetl_spark.operators.stringagg import sorted_string_agg

    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    # bound the group size like the stripe use-case: only acctbal > 9900
    rich = c.filter(F.col("c_acctbal") > 9900)
    return (
        rich.join(n, rich["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            sorted_string_agg("c_name", ", ").alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


A6_SQL = """
select n_name, string_agg(c_name, ', ' order by c_name) as members,
       count(*) as n_members
from customer join nation on c_nationkey = n_nationkey
where c_acctbal > 9900
group by n_name
"""


def a7_global_stringagg(spark, sf_dir):
    """A7: whole-relation string_agg (multi-device FROM clause)."""
    from sqlbackuphistoryetl_spark.operators.stringagg import sorted_string_agg

    r = _t(spark, sf_dir, "region")
    return r.agg(sorted_string_agg("r_name", ", ").alias("all_regions"))


A7_SQL = "select string_agg(r_name, ', ' order by r_name) as all_regions from region"


def u1_union_distinct_tail(spark, sf_dir):
    """U1+O4: as-of set ∪ first element after the point-in-time.
    Point-in-time comparison and output in epoch-µs (env-proof; r5
    hostile matrix caught the raw-timestamp form drifting 3 rows under
    Asia/Kolkata + legacy NTZ inference)."""
    o = _t(spark, sf_dir, "orders")
    o = o.select("o_orderkey", _ts_us(o, "o_orderdate").alias("o_orderdate_us"))
    pit = F.lit(_us(ORDER_PIT))
    before = o.filter(F.col("o_orderdate_us") <= pit)
    first_after = (
        o.filter(F.col("o_orderdate_us") > pit)
        .orderBy("o_orderdate_us", "o_orderkey")
        .limit(1)
    )
    return before.unionByName(first_after).dropDuplicates(
        ["o_orderkey", "o_orderdate_us"]
    )


U1_SQL = f"""
select o_orderkey, epoch_us(o_orderdate) as o_orderdate_us
from orders where o_orderdate <= timestamp '{ORDER_PIT}'
union
select o_orderkey, o_orderdate_us from
  (select o_orderkey, epoch_us(o_orderdate) as o_orderdate_us from orders
   where o_orderdate > timestamp '{ORDER_PIT}'
   order by o_orderdate_us, o_orderkey limit 1) t
"""


def o4_first_event_after(spark, sf_dir):
    """O4: top-1 after threshold (first log backup past restore point),
    on epoch-µs event time — see J6."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    return (
        ev.filter(_coarse_after("ts", WM) & (F.col("ts_us") > F.lit(_us(WM))))
        .orderBy("ts_us", "event_id")
        .limit(1)
        .select("event_id", "ts_us", "event_type")
    )


O4_SQL = f"""
select event_id, epoch_us(ts) as ts_us, event_type from events
where epoch_us(ts) > {_us(WM)} order by epoch_us(ts), event_id limit 1
"""


def scalar_path_surgery(spark, sf_dir):
    """§2.8 string fns: last-separator split via reverse/instr (the
    reference's LeafPath/FileName trick) on synthesized paths."""
    from sqlbackuphistoryetl_spark.functions.pathfns import file_name, leaf_path

    p = _t(spark, sf_dir, "part")
    with_path = p.withColumn(
        "path", F.concat(F.lit("C:\\data\\"), F.replace(F.col("p_type"), F.lit(" "), F.lit("\\")))
    )
    return with_path.select(
        "p_partkey",
        "path",
        leaf_path("path").alias("leaf"),
        file_name("path").alias("fname"),
        file_name("path", "Restored_").alias("fname_prefixed"),
    )


SCALAR_PATH_SQL = r"""
select p_partkey, path,
       substring(path, 1, length(path) - strpos(reverse(path), '\') + 1) as leaf,
       substring(path, length(path) - strpos(reverse(path), '\') + 2) as fname,
       'Restored_' || substring(path, length(path) - strpos(reverse(path), '\') + 2)
           as fname_prefixed
from (select p_partkey, 'C:\data\' || replace(p_type, ' ', '\') as path from part) t
"""


def case_type_map(spark, sf_dir):
    """§2.8 CASE/IIF: the D/I/L→Full/Diff/Log mapping shape."""
    o = _t(spark, sf_dir, "orders")
    status_word = (
        F.when(F.col("o_orderstatus") == "O", "Open")
        .when(F.col("o_orderstatus") == "F", "Finished")
        .when(F.col("o_orderstatus") == "P", "Pending")
    )
    return o.select(
        "o_orderkey",
        status_word.alias("status_word"),
        F.when(F.col("o_totalprice") > 200000.0, F.lit(1)).otherwise(F.lit(0)).alias("is_big"),
    )


CASE_SQL = """
select o_orderkey,
       case o_orderstatus when 'O' then 'Open' when 'F' then 'Finished'
            when 'P' then 'Pending' end as status_word,
       case when o_totalprice > 200000.0 then 1 else 0 end as is_big
from orders
"""


def size_trunc_math(spark, sf_dir):
    """§2.8 math: bytes→MB with truncation toward zero (convert(bigint, x/1048576))."""
    li = _t(spark, sf_dir, "lineitem")
    bytes_col = F.col("l_extendedprice") * F.lit(1000.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(bytes_col / F.lit(1048576.0)).cast("long").alias("size_mb"),
        F.floor(bytes_col / F.lit(1024.0)).cast("long").alias("size_kb"),
    )


SIZE_SQL = """
select l_orderkey, l_linenumber,
       cast(floor((l_extendedprice * 1000.0) / 1048576.0) as bigint) as size_mb,
       cast(floor((l_extendedprice * 1000.0) / 1024.0) as bigint) as size_kb
from lineitem
"""


def retention_filter_counts(spark, sf_dir):
    """S6 shape: survivors after a retention cutoff, per group
    (epoch-µs cutoff + pushable coarse bound — see J6)."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    return (
        ev.filter(
            _coarse_after("ts", RETENTION_CUT)
            & (F.col("ts_us") >= F.lit(_us(RETENTION_CUT)))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


RETENTION_SQL = f"""
select event_type, count(*) as n_kept from events
where epoch_us(ts) >= {_us(RETENTION_CUT)} group by event_type
"""


def datefmt_stopat(spark, sf_dir):
    """§2.8 datetime literal formatting (STOPAT timestamp rendering),
    via the zone-free formatter `_fmt_wall_us` — `date_format` on an
    instant renders in the session zone, which the r5 hostile matrix
    caught shifting under Asia/Kolkata + legacy NTZ inference."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        _fmt_wall_us(_ts_us(o, "o_orderdate")).alias("stopat_ts"),
    )


DATEFMT_SQL = """
select o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') as stopat_ts
from orders
"""


def json_props_extract(spark, sf_dir):
    """OPENJSON-with-schema analog on the events props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


JSON_PROPS_SQL = """
select event_id, cast(json_extract_string(props, '$.k') as integer) as k
from events
"""


# ------------------------------------------------ text analysis (extensions)


def text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


TOKEN_SQL = r"""
select doc_id, len(regexp_extract_all(text, '\S+')) as n_tokens,
       length(text) as n_chars_computed
from documents
"""


def text_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_tokens = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        (n_chars - n_nonspace).alias("n_spaces"),
        (n_nonspace.cast("double") / n_tokens).alias("avg_word_len"),
        (n_chars < 100).alias("is_short"),
    )


QUALITY_SQL = r"""
select doc_id,
       length(text) as n_chars_q,
       length(text) - length(replace(text, ' ', '')) as n_spaces,
       cast(length(replace(text, ' ', '')) as double)
           / len(regexp_extract_all(text, '\S+')) as avg_word_len,
       length(text) < 100 as is_short
from documents
"""


# Frozen quality-classifier coefficients (r5 verdict task 6): scoring
# with PINNED weights is deterministic even though L-BFGS training is
# not, so the scoring path of extensions/quality_model.py gets a full
# DuckDB hash gate. Values are arbitrary-but-plausible signs (longer /
# stopword-dense docs up, punctuation-soup down); the gate pins the
# dot-product + quantized-sigmoid machinery, not these numbers.
FROZEN_QUALITY_INTERCEPT = -0.75
FROZEN_QUALITY_WEIGHTS = {
    "f_tokens": 0.004,
    "f_chars_per_tok": -0.15,
    "f_punct_ratio": -2.5,
    "f_stopword_ratio": 3.0,
}


def quality_model_score(spark, sf_dir):
    """Frozen-weights scoring path of the trainable quality classifier
    (extensions/quality_model.py: score_with_weights) over the standard
    engine signals. The logit is quantized to 6dp pre-sigmoid (pure
    IEEE floor(z·1e6+0.5), engine-identical) so DuckDB's exp() sees the
    exact same input; the probability is round(6) both sides (the
    tfidf/entropy transcendental doctrine)."""
    from sqlbackuphistoryetl_spark.extensions.quality_model import (
        score_with_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    punct = F.size(F.expr(r"regexp_extract_all(text, '[^\\w\\s]', 0)"))
    stop = F.size(
        F.expr(r"regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in)\\b', 0)")
    )
    feats = docs.select(
        "doc_id",
        n_tokens.cast("double").alias("f_tokens"),
        (n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")).alias(
            "f_chars_per_tok"
        ),
        (punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")).alias(
            "f_punct_ratio"
        ),
        (stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")).alias(
            "f_stopword_ratio"
        ),
    )
    scored = score_with_weights(
        feats, FROZEN_QUALITY_WEIGHTS, FROZEN_QUALITY_INTERCEPT, quantize_dp=6
    )
    return scored.select(
        "doc_id",
        "f_tokens",
        F.round("f_punct_ratio", 6).alias("f_punct_ratio"),
        F.round("quality_prob", 6).alias("quality_prob"),
        "quality_pred",
    )


QUALITY_MODEL_SQL = r"""
with f as (
  select doc_id,
         cast(len(regexp_extract_all(text, '\S+')) as double) as f_tokens,
         cast(length(text) as double)
           / cast(greatest(len(regexp_extract_all(text, '\S+')), 1) as double)
           as f_chars_per_tok,
         cast(len(regexp_extract_all(text, '[^\w\s]')) as double)
           / cast(greatest(length(text), 1) as double) as f_punct_ratio,
         cast(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b'))
              as double)
           / cast(greatest(len(regexp_extract_all(text, '\S+')), 1) as double)
           as f_stopword_ratio
  from documents),
z as (
  select doc_id, f_tokens, f_punct_ratio,
         floor((-0.75 + 0.004 * f_tokens + (-0.15) * f_chars_per_tok
                + (-2.5) * f_punct_ratio + 3.0 * f_stopword_ratio) * 1e6 + 0.5)
           / 1e6 as zq
  from f)
select doc_id, f_tokens, round(f_punct_ratio, 6) as f_punct_ratio,
       round(1.0 / (1.0 + exp(-zq)), 6) as quality_prob,
       cast(1.0 / (1.0 + exp(-zq)) >= 0.5 as double) as quality_pred
from z
"""


def lang_id_stopwords(spark, sf_dir):
    """n-gram/stopword language heuristic vs the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    hits = F.size(F.expr(r"regexp_extract_all(text, '\\b(the|a|of|to|and)\\b', 0)"))
    guessed = docs.select(
        "lang", (hits >= F.lit(3)).alias("looks_english")
    )
    return guessed.groupBy("lang", "looks_english").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


LANG_SQL = r"""
select lang, len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) >= 3 as looks_english,
       count(*) as n_docs
from documents
group by 1, 2
"""


def doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


FINGERPRINT_SQL = r"""
select doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) as fingerprint
from documents
"""


def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, canonical = min(doc_id) (J6/S4 shape)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
select md5(text) as content_hash, min(doc_id) as canonical_doc_id,
       count(*) as n_copies
from documents group by md5(text)
"""


def hourly_event_rollup(spark, sf_dir):
    """§2.9 extension: tumbling-window rollup (batch form).

    Per-row quantization of the double ``value`` to 6dp is done with
    ``floor(value*1e6 + 0.5)`` — pure IEEE double ops that are bit-identical
    in every engine — then exact integer/decimal math. A plain
    ``cast(value as decimal(18,6))`` is engine-sensitive at the 6th-digit
    rounding boundary (Spark rounds the shortest decimal string HALF_UP;
    DuckDB rounds the scaled double), which is what broke the round-1 hash.
    """
    ev = _t(spark, sf_dir, "events")
    q = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
    hour_us = F.lit(3_600_000_000)
    # Round-4 hardening: the round-1/3 hash-red came from emitting the
    # bucket as a raw timestamp — date_trunc coerces a timestamp_ntz
    # input to TIMESTAMP, so under a non-UTC driver session the collected
    # bucket wall-clock shifts by the zone offset (reproduced locally
    # under America/New_York). Emit the bucket as epoch-µs BIGINT of the
    # hour start instead, and the value sum as exact 1e-6-unit BIGINT —
    # no timestamp, no decimal, nothing session-sensitive.
    return (
        ev.withColumn("_us", _ts_us(ev, "ts"))
        .groupBy(
            (F.expr("_us div 3600000000") * hour_us).alias("bucket_hour_us"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(q).cast("long").alias("sum_value_u"),
        )
    )


HOURLY_SQL = """
select (epoch_us(ts) // 3600000000) * 3600000000 as bucket_hour_us,
       event_type, count(*) as n_events,
       cast(sum(cast(floor(value * 1000000 + 0.5) as bigint)) as bigint)
           as sum_value_u
from events group by 1, 2
"""


def stream_dedup_sessions(spark, sf_dir):
    """§2.9 row 2 gate: batch twin of ``dropDuplicatesWithinWatermark``
    (streaming/ingest.py) — one kept row per (user_id, event_type)
    session, sessions split where the inter-arrival gap > 5 minutes
    (session_window's gap is inclusive). Uses Spark's native
    ``session_window``; the oracle reproduces the identical chaining
    with lag + a running sum of session breaks."""
    from sqlbackuphistoryetl_spark.streaming.ingest import dedup_within_watermark_batch

    ev = _t(spark, sf_dir, "events")
    return dedup_within_watermark_batch(
        ev, ["user_id", "event_type"], ts_col="ts", delay="5 minutes"
    )


STREAM_DEDUP_SQL = """
with ordered as (
  select user_id, event_type, ts,
         case when ts - lag(ts) over (partition by user_id, event_type order by ts)
                   <= interval 5 minute
              then 0 else 1 end as new_session
  from events),
sess as (
  select user_id, event_type, ts,
         sum(new_session) over (partition by user_id, event_type order by ts
                                rows unbounded preceding) as sid
  from ordered)
select user_id, event_type, min(ts) as kept_ts, count(*) as n_in_session
from sess
group by user_id, event_type, sid
"""


def text_tfidf_top_terms(spark, sf_dir):
    """SURVEY §7.2.8 text-analysis extension: top-5 tf-idf terms per doc.
    Deterministic ranking (tfidf desc, term asc); tfidf rounded to 6dp
    on both sides. tf/df/N are integers, idf the only transcendental —
    the oracle compare at two SFs verifies the engines' ln() agree to
    6dp on every arising (N, df) pair."""
    from sqlbackuphistoryetl_spark.functions.textfns import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=5)
    return out.select(
        "doc_id", "term", "tf", "df_t", F.round("tfidf", 6).alias("tfidf"), "rank"
    )


TFIDF_SQL = """
with toks as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            s -> s <> '')) as term
  from documents),
tf as (select doc_id, term, count(*) as tf from toks group by 1, 2),
dfreq as (select term, count(*) as df_t from tf group by 1),
n as (select count(distinct doc_id) as n from documents),
scored as (
  select tf.doc_id, tf.term, tf.tf, dfreq.df_t,
         tf.tf::double * ln(n.n::double / dfreq.df_t::double) as tfidf
  from tf join dfreq using (term) cross join n),
ranked as (
  select *, row_number() over (partition by doc_id
                               order by tfidf desc, term asc) as rank
  from scored)
select doc_id, term, tf, df_t, round(tfidf, 6) as tfidf, rank
from ranked where rank <= 5
"""


def approx_distinct_users(spark, sf_dir):
    """approx_count_distinct (HLL++) gated against the exact count per
    event_type (SURVEY §7.2.8). The raw sketch estimate is
    engine-specific, so the hashable output is ``(event_type,
    exact_users, within_5pct)`` — the oracle emits ``true`` for the flag,
    making the 5%-accuracy CONTRACT itself the cross-engine check
    instead of leaving a permanent rows-only hole (r3 verdict task 5)."""
    ev = _t(spark, sf_dir, "events")
    est = F.approx_count_distinct("user_id", rsd=0.02)
    return (
        ev.groupBy("event_type")
        .agg(
            est.alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


APPROX_DISTINCT_SQL = """
select event_type, count(distinct user_id) as exact_users, true as within_5pct
from events group by event_type order by event_type
"""


def text_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenization counts (letter runs / digit runs /
    single punctuation) alongside whitespace tokens."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        bpe_token_count,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


BPE_SQL = r"""
select doc_id,
       len(regexp_extract_all(text, '\S+')) as ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as bpe_tokens
from documents
"""


def lang_id_multi(spark, sf_dir):
    """Multi-language stopword argmax vs the labeled lang column —
    confusion counts per (truth, prediction)."""
    from sqlbackuphistoryetl_spark.functions.textfns import predicted_lang

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", predicted_lang("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


LANG_MULTI_SQL = r"""
with hits as (
  select lang,
         len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) as h_en,
         len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein)\b')) as h_de,
         len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) as h_fr,
         len(regexp_extract_all(lower(text), '\b(el|la|los|y|es|una|en)\b')) as h_es
  from documents
)
select lang,
       case when h_en > 0 and h_en >= greatest(h_en, h_de, h_fr, h_es) then 'en'
            when h_de > 0 and h_de >= greatest(h_en, h_de, h_fr, h_es) then 'de'
            when h_fr > 0 and h_fr >= greatest(h_en, h_de, h_fr, h_es) then 'fr'
            when h_es > 0 and h_es >= greatest(h_en, h_de, h_fr, h_es) then 'es'
            else 'other' end as predicted,
       count(*) as n_docs
from hits
group by 1, 2
"""


def p9_fallback_probe(spark, sf_dir):
    """P9/U2: rowcount-branch fallback — primary filter matches nothing,
    engine falls back to the alternate predicate (server→AG shape)."""
    from sqlbackuphistoryetl_spark.operators.fallback import filter_with_fallback

    c = _t(spark, sf_dir, "customer")
    picked = filter_with_fallback(
        lambda cond: c.filter(cond),
        F.col("c_mktsegment") == "NO_SUCH_SEGMENT",
        F.col("c_mktsegment") == "BUILDING",
    )
    return picked.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_rows"))


P9_SQL = """
with p as (select * from customer where c_mktsegment = 'NO_SUCH_SEGMENT'),
     f as (select * from customer where c_mktsegment = 'BUILDING'),
     chosen as (select * from p
                union all
                select * from f where not exists (select 1 from p))
select c_mktsegment, count(*) as n_rows from chosen group by c_mktsegment
"""


def o5_top2_desc(spark, sf_dir):
    """O5/W3: TOP(2) ... ORDER BY DESC (the STOPAT target selection)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(2)
        .select("o_orderkey", "o_orderdate")
    )


O5_SQL = """
select o_orderkey, o_orderdate from orders
order by o_orderdate desc, o_orderkey desc limit 2
"""


def p3_decimal_lsn_range(spark, sf_dir):
    """P3: exact range predicate over DECIMAL(25,0) LSN-style keys
    (sql:225,311,865) — synthesized from integer keys so both engines
    compute the identical exact decimal."""
    o = _t(spark, sf_dir, "orders")
    lsn = (
        F.col("o_orderkey").cast("decimal(25,0)") * F.lit(1_000_000_000)
        + F.col("o_custkey")
    ).cast("decimal(25,0)")
    return (
        o.select(lsn.alias("lsn"))
        .filter(F.col("lsn") > F.lit(3_000_000_000_000_000).cast("decimal(25,0)"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )


P3_SQL = """
with lsns as (
  select (o_orderkey::decimal(25,0) * 1000000000 + o_custkey)::decimal(25,0) as lsn
  from orders)
select count(*) as n_rows, min(lsn) as min_lsn, max(lsn) as max_lsn
from lsns where lsn > 3000000000000000::decimal(25,0)
"""


def o1_ordered_chain_page(spark, sf_dir):
    """O1: ORDER BY asc restore-sequence + page limit (sql:264,1259) —
    the limit makes ordering semantically visible to the hash gate."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


O1_SQL = """
select o_orderkey, o_orderdate, o_totalprice from orders
order by o_orderdate, o_orderkey limit 100
"""


def o3_top1_scalar(spark, sf_dir):
    """O3: TOP(1) scalar pick — first row's value into a variable
    (sql:719-721,832-833)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_shipdate").desc(), F.col("l_orderkey").desc(),
                   F.col("l_linenumber").desc())
        .limit(1)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


O3_SQL = """
select l_orderkey, l_linenumber, l_shipdate from lineitem
order by l_shipdate desc, l_orderkey desc, l_linenumber desc limit 1
"""


def a2_nonempty_guard(spark, sf_dir):
    """A2/P10: emptiness guard — `if exists (select top 1 ...)`
    (sql:674,971; Invoke-SQLBackupHistoryETL.ps1:44)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").agg(
        (F.count(F.lit(1)) > 0).alias("has_rows"),
        F.count(F.lit(1)).alias("n_rows"),
    )


A2_SQL = """
select count(*) > 0 as has_rows, count(*) as n_rows
from events where event_type = 'purchase'
"""


def a5_minmax_loop_bounds(spark, sf_dir):
    """A5: MIN/MAX loop bounds over the restore sequence
    (sql:1283-1288)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "click").agg(
        F.min("event_id").alias("lo_id"), F.max("event_id").alias("hi_id")
    )


A5_SQL = """
select min(event_id) as lo_id, max(event_id) as hi_id
from events where event_type = 'click'
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact token-3-gram Jaccard pairs via the inverted-index
    formulation (extensions.dedup.ngram_jaccard_all_pairs): pairs only
    form through a shared gram, never an N² cross join. The id slice
    bounds the DuckDB oracle's N² comparison."""
    from sqlbackuphistoryetl_spark.extensions.dedup import ngram_jaccard_all_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # max_gram_df: stop-gram bound on candidate generation (surviving
    # pairs are re-scored exactly, so the oracle hash still matches; at
    # this corpus no gram exceeds the cap — the bound exists for scale).
    scored = ngram_jaccard_all_pairs(
        docs, text_col="text", id_col="doc_id", max_gram_df=64
    )
    return scored.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).filter(F.col("jaccard") >= 0.05)


NGRAM_JACCARD_SQL = r"""
with toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 500),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks)
select a.doc_id as id_a, b.doc_id as id_b,
       round(len(list_intersect(a.g, b.g))::double
             / len(list_distinct(list_cat(a.g, b.g))), 6) as jaccard
from grams a join grams b on a.doc_id < b.doc_id
where round(len(list_intersect(a.g, b.g))::double
            / len(list_distinct(list_cat(a.g, b.g))), 6) >= 0.05
"""


EMBEDDING_TOPK_SQL = """
with q as (select vec_id as query_id, embedding as q_vec
           from embeddings where vec_id < 10),
scored as (
  select q.query_id, c.vec_id as neighbor_id,
         list_cosine_similarity(q.q_vec::double[], c.embedding::double[]) as cos_full
  from q, embeddings c where c.vec_id <> q.query_id),
ranked as (
  select query_id, neighbor_id, cos_full,
         row_number() over (partition by query_id
                            order by cos_full desc, neighbor_id) as rank
  from scored)
select query_id, neighbor_id, round(cos_full, 6) as cosine, rank
from ranked where rank <= 5
"""


def dedup_clusters(spark, sf_dir):
    """Canonical duplicate GROUPS, not just pairs: the exact 3-gram
    Jaccard pair stage (same definition as dedup_ngram_jaccard) closed
    transitively into connected components — cluster_id = min doc_id
    reachable through any chain of qualifying pairs. This is the "keep
    one copy per group" terminal a dedup pipeline actually needs (A~B,
    B~C ⇒ {A,B,C} one group even though A~C was never emitted).

    Spark side: extensions.clustering.connected_components (hash-min
    label propagation, O(diameter) keyed joins). Oracle: DuckDB
    recursive-CTE transitive closure over the identical pair set.
    """
    from sqlbackuphistoryetl_spark.extensions.clustering import (
        connected_components,
    )
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_jaccard_all_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_all_pairs(
        docs, text_col="text", id_col="doc_id", max_gram_df=64
    ).filter(F.col("jaccard") >= 0.05)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = r"""
with recursive toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 500),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
pairs as (
  select a.doc_id as id_a, b.doc_id as id_b
  from grams a join grams b on a.doc_id < b.doc_id
  where len(list_intersect(a.g, b.g))::double
        / len(list_distinct(list_cat(a.g, b.g))) >= 0.05),
edges as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b as src, id_a as dst from pairs),
reach(src, dst) as (
  select src, dst from edges
  union
  select r.src, e.dst from reach r join edges e on r.dst = e.src)
select src as doc_id, least(src, min(dst)) as cluster_id
from reach group by src order by doc_id
"""


def dedup_keep_one(spark, sf_dir):
    """The dedup pipeline's terminal: corpus reduced to one document per
    duplicate group (min-id member survives; unpaired docs pass
    through). Composes pair generation → connected components →
    anti-join of the non-representatives
    (extensions.clustering.dedup_representatives)."""
    from sqlbackuphistoryetl_spark.extensions.clustering import (
        dedup_representatives,
    )
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_jaccard_all_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_all_pairs(
        docs, text_col="text", id_col="doc_id", max_gram_df=64
    ).filter(F.col("jaccard") >= 0.05)
    kept = dedup_representatives(docs, pairs)
    return kept.select("doc_id", "lang").orderBy("doc_id")


DEDUP_KEEP_ONE_SQL = r"""
with recursive toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 500),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
pairs as (
  select a.doc_id as id_a, b.doc_id as id_b
  from grams a join grams b on a.doc_id < b.doc_id
  where len(list_intersect(a.g, b.g))::double
        / len(list_distinct(list_cat(a.g, b.g))) >= 0.05),
edges as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b as src, id_a as dst from pairs),
reach(src, dst) as (
  select src, dst from edges
  union
  select r.src, e.dst from reach r join edges e on r.dst = e.src)
select doc_id, lang from documents
where doc_id < 500
  and doc_id not in (
    select src from reach group by src having least(src, min(dst)) <> src)
order by doc_id
"""


def stratified_sample_by_lang(spark, sf_dir):
    """Deterministic per-language 20-doc sample: the k smallest md5(salt|
    id) draws per stratum — a uniform without-replacement sample that is
    reproducible across runs, engines, partitionings, and task retries
    (which rand()-based TABLESAMPLE is not). The md5 hex order statistic
    is engine-portable, so DuckDB independently draws the IDENTICAL
    sample — that is the oracle check."""
    from sqlbackuphistoryetl_spark.extensions.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, ["lang"], 20, "doc_id", salt="r3")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


STRATIFIED_SAMPLE_SQL = """
with keyed as (
  select doc_id, lang, source,
         md5(concat_ws('|', 'r3', cast(doc_id as varchar))) as k
  from documents),
ranked as (
  select doc_id, lang, source,
         row_number() over (partition by lang order by k, doc_id) as rk
  from keyed)
select doc_id, lang, source from ranked where rk <= 20 order by doc_id
"""


def weighted_source_mix(spark, sf_dir):
    """Deterministic training-mixture sampling: the corpus's two halves
    (doc_id parity stands in for two upstream datasets) mixed at
    70%/30% keep rates via the md5-threshold Bernoulli filter — a pure
    map-side predicate (no shuffle, no state), each row's fate a
    function of (salt, source, id) only."""
    from sqlbackuphistoryetl_spark.extensions.sampling import weighted_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    out = weighted_mix([("even", even, 0.7), ("odd", odd, 0.3)], "doc_id", salt="mix")
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


def _weighted_mix_sql() -> str:
    from sqlbackuphistoryetl_spark.extensions.sampling import (
        rate_threshold_hex,
    )

    return f"""
select doc_id, lang, 'even' as source from documents
where doc_id % 2 = 0
  and substring(md5(concat_ws('|', 'mix|even|0', cast(doc_id as varchar))), 1, 8)
      < '{rate_threshold_hex(0.7)}'
union all
select doc_id, lang, 'odd' as source from documents
where doc_id % 2 = 1
  and substring(md5(concat_ws('|', 'mix|odd|0', cast(doc_id as varchar))), 1, 8)
      < '{rate_threshold_hex(0.3)}'
order by doc_id
"""


def token_len_histogram(spark, sf_dir):
    """Corpus token-count distribution in 50-token buckets (n_docs +
    corpus share per bucket) — the curation first-look stats surface.
    One map-side-partial aggregate; the share denominator rides a
    window over the tiny bucket frame, not a second corpus pass."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        token_length_histogram,
    )

    docs = _t(spark, sf_dir, "documents")
    return token_length_histogram(docs, "text", 50).orderBy("bucket_lo")


TOKEN_HIST_SQL = r"""
with b as (
  select (len(regexp_extract_all(text, '\S+')) // 50) * 50 as bucket_lo
  from documents),
g as (select bucket_lo, count(*) as n_docs from b group by bucket_lo)
select bucket_lo, bucket_lo + 49 as bucket_hi, n_docs,
       n_docs::double / sum(n_docs) over () as share
from g order by bucket_lo
"""


def token_percentiles(spark, sf_dir):
    """Exact per-language token-count percentiles (p50/p90/p99) — the
    distribution cutoffs a curation pipeline turns into truncation and
    filtering thresholds. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` both define the q-quantile as linear interpolation
    at rank (n-1)·q, and the interpolation arithmetic on exactly-equal
    int inputs is bit-identical IEEE, so the values hash-match. (At
    100 TB swap in ``percentile_approx`` — t-digest, one pass, no
    per-group sort; the exact form here is the oracle-checkable
    definition that approximation is graded against.)"""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    d = docs.select("lang", n_tokens.alias("nt"))
    return (
        d.groupBy("lang")
        .agg(
            F.percentile("nt", 0.5).alias("p50"),
            F.percentile("nt", 0.9).alias("p90"),
            F.percentile("nt", 0.99).alias("p99"),
            F.max("nt").alias("max_tokens"),
        )
        .orderBy("lang")
    )


TOKEN_PCTL_SQL = r"""
select lang,
       quantile_cont(len(regexp_extract_all(text, '\S+')), 0.5) as p50,
       quantile_cont(len(regexp_extract_all(text, '\S+')), 0.9) as p90,
       quantile_cont(len(regexp_extract_all(text, '\S+')), 0.99) as p99,
       max(len(regexp_extract_all(text, '\S+'))) as max_tokens
from documents group by lang order by lang
"""


def chain_state_fold(spark, sf_dir):
    """§2.9 row 4's stateful chain monitor, driver-gated through its
    deterministic batch twin (streaming.stateful.chain_status_batch):
    the same anchor/ok/replay/gap transition table the
    applyInPandasWithState operator applies per micro-batch, expressed
    as a JVM-side sequential fold over each key's event-time-ordered
    events. Chain events are derived deterministically from the events
    table (kind from event_id mod 5, LSN interval from value/event_id),
    so DuckDB can walk the identical recurrence with a recursive CTE —
    a full cross-engine check of order-sensitive stateful semantics."""
    from sqlbackuphistoryetl_spark.streaming.stateful import (
        chain_status_batch,
    )

    ev = _t(spark, sf_dir, "events")
    first = F.floor(F.col("value") * 100).cast("long")
    # Round-4 hardening: order the fold on epoch-µs BIGINT (identical to
    # the oracle's epoch_us(ts), which truncates ns-encoded driver data
    # to the same µs the Spark ingest path keeps), and emit the LSNs as
    # BIGINT — the engine operator's DECIMAL(25,0) stays internal, the
    # gate compares integer-for-integer.
    derived = ev.select(
        "user_id",
        _ts_us(ev, "ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_id") % 5 == 0, "Full")
        .when(F.col("event_id") % 5 == 3, "Diff")
        .otherwise("Log")
        .alias("BackupType"),
        first.alias("first_lsn"),
        (first + 1 + F.col("event_id") % 50).alias("last_lsn"),
    )
    out = chain_status_batch(
        derived,
        key_cols=("user_id",),
        order_col="ts_us",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        "kind",
        F.col("first_lsn").cast("long").alias("first_lsn"),
        F.col("last_lsn").cast("long").alias("last_lsn"),
        F.col("chain_head").cast("long").alias("chain_head"),
        "status",
        "seen",
    ).orderBy("user_id", "seen")


CHAIN_FOLD_SQL = """
with recursive ev as (
  select user_id,
         row_number() over (partition by user_id
                            order by epoch_us(ts), event_id) as rn,
         case when event_id % 5 = 0 then 'Full'
              when event_id % 5 = 3 then 'Diff'
              else 'Log' end as kind,
         cast(floor(value * 100) as bigint) as first_lsn,
         cast(floor(value * 100) as bigint) + 1 + event_id % 50 as last_lsn
  from events),
walk as (
  select user_id, rn, kind, first_lsn, last_lsn,
         last_lsn as chain_head,
         case when kind in ('Full','Diff') then 'anchor'
              else 'no_anchor' end as status
  from ev where rn = 1
  union all
  select e.user_id, e.rn, e.kind, e.first_lsn, e.last_lsn,
         case when e.kind in ('Full','Diff') then e.last_lsn
              when e.first_lsn <= w.chain_head and e.last_lsn <= w.chain_head
                   then w.chain_head
              else e.last_lsn end,
         case when e.kind in ('Full','Diff') then 'anchor'
              when e.first_lsn <= w.chain_head and e.last_lsn <= w.chain_head
                   then 'replay'
              when e.first_lsn <= w.chain_head then 'ok'
              else 'gap' end
  from walk w join ev e on e.user_id = w.user_id and e.rn = w.rn + 1)
select user_id, kind, first_lsn, last_lsn, chain_head, status, rn as seen
from walk order by user_id, seen
"""


def bm25_ranking(spark, sf_dir):
    """Okapi BM25 relevance over the documents table for a fixed 3-term
    query (functions/textfns.py: bm25_scores) — the retrieval-quality
    extension next to tf-idf. Determinism: exact-integer tf/df/dl/avgdl
    inputs, idf/contribution doubles from identical IEEE expressions,
    and the per-doc score folded in TERM ORDER on both engines (double
    addition isn't associative). Score rounded to 6dp, ties broken by
    doc_id."""
    from sqlbackuphistoryetl_spark.functions.textfns import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, ["data", "model", "the"], k1=1.2, b=0.75)
    return out.select(
        "doc_id", F.round("bm25", 6).alias("bm25"), "n_matched_terms"
    )


BM25_SQL = r"""
with base as (
  select doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     s -> s <> '') as toks
  from documents),
dl as (select doc_id, len(toks) as dl,
              list_filter(toks, s -> s in ('data','model','the')) as qtoks
       from base),
stats as (select count(*) as n,
                 cast(sum(dl) as double) / count(*) as avgdl from dl),
tf as (select doc_id, dl, term, count(*) as tf
       from (select doc_id, dl, unnest(qtoks) as term from dl)
       group by 1, 2, 3),
dfreq as (select term, count(distinct doc_id) as df_t from tf group by 1),
contrib as (
  select tf.doc_id, tf.term,
         ln(1.0 + (stats.n - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) as c
  from tf join dfreq using (term) cross join stats),
folded as (
  select doc_id,
         list_aggregate(list(c order by term), 'sum') as bm25_unordered,
         count(*) as n_matched_terms
  from contrib group by doc_id)
select doc_id, round(bm25_unordered, 6) as bm25, n_matched_terms
from folded
"""


def ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment pairs (extensions/dedup.py:
    ngram_containment_pairs) — sub-document duplication Jaccard misses:
    c(A→B)=|A∩B|/|A|. Inverted-index candidates, exact integer
    shared/size counts, doubles from one division. Same id slice as the
    Jaccard gate so DuckDB's N² stays bounded. No stop-gram cap here
    (r4 ADVICE): the oracle has none, and the capped path's equality
    would silently depend on no pair sharing ONLY grams with df > cap —
    the 500-doc slice doesn't need the cap, so the gate runs the
    uncapped path whose counts ARE the output, making gate semantics
    exactly the oracle's. (dedup_ngram_jaccard keeps its cap and
    documents the measured no-hot-gram property instead — both cap
    configurations stay driver-exercised.)"""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = ngram_containment_pairs(docs, n=3, min_containment=0.3)
    return out.select(
        "id_a", "id_b", "shared", "n_a", "n_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


NGRAM_CONTAINMENT_SQL = r"""
with toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 500),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
sizes as (select doc_id, len(g) as n_grams from grams),
posting as (select doc_id, unnest(g) as gram from grams),
shared as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as shared
  from posting a join posting b
    on a.gram = b.gram and a.doc_id < b.doc_id
  group by 1, 2)
select s.id_a, s.id_b, s.shared, za.n_grams as n_a, zb.n_grams as n_b,
       round(cast(s.shared as double) / za.n_grams, 6) as containment_a,
       round(cast(s.shared as double) / zb.n_grams, 6) as containment_b
from shared s
join sizes za on s.id_a = za.doc_id
join sizes zb on s.id_b = zb.doc_id
where greatest(cast(s.shared as double) / za.n_grams,
               cast(s.shared as double) / zb.n_grams) >= 0.3
"""


def ngram_containment_capped(spark, sf_dir):
    """The CAPPED containment path under a deliberately low stop-gram
    cap (max_gram_df=25), so the r6 split is driver-exercised end to
    end: candidates come only from grams with 2 <= df <= cap, and when
    any gram exceeds the cap the exact array re-score stage runs (the
    has_hot branch). The oracle encodes the capped semantics exactly —
    a pair appears iff it shares >=1 under-cap gram, scored over its
    FULL gram sets — so the gate is hash-exact in BOTH branches; which
    branch runs depends only on the data's gram df profile."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    out = ngram_containment_pairs(
        docs, n=3, min_containment=0.3, max_gram_df=25
    )
    return out.select(
        "id_a", "id_b", "shared", "n_a", "n_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


NGRAM_CONTAINMENT_CAPPED_SQL = r"""
with toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 400),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
sizes as (select doc_id, len(g) as n_grams from grams),
posting as (select doc_id, unnest(g) as gram from grams),
gdf as (select gram, count(*) as df from posting group by 1),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b
  from posting a
  join posting b on a.gram = b.gram and a.doc_id < b.doc_id
  join gdf on gdf.gram = a.gram
  where gdf.df <= 25),
shared as (
  select c.id_a, c.id_b, count(*) as shared
  from cand c
  join posting a on a.doc_id = c.id_a
  join posting b on b.doc_id = c.id_b and b.gram = a.gram
  group by 1, 2)
select s.id_a, s.id_b, s.shared, za.n_grams as n_a, zb.n_grams as n_b,
       round(cast(s.shared as double) / za.n_grams, 6) as containment_a,
       round(cast(s.shared as double) / zb.n_grams, 6) as containment_b
from shared s
join sizes za on s.id_a = za.doc_id
join sizes zb on s.id_b = zb.doc_id
where greatest(cast(s.shared as double) / za.n_grams,
               cast(s.shared as double) / zb.n_grams) >= 0.3
"""


# ---------------- approximate paths, oracle-gated at 100% recall
#
# Each gate composes the approximate stage (banding/bucketing — the
# 100 TB path) with an EXACT re-score, with band parameters sized so the
# approximate stage provably/empirically recovers every qualifying pair
# on the gate corpus. The output then equals the exact all-pairs answer,
# which DuckDB computes independently — i.e. the oracle IS a recall gate
# at threshold 100%: if banding ever loses a qualifying pair, the hash
# mismatches. Production defaults on the library functions stay
# recall/cost-balanced; the scale smoke grades those on planted pairs.


def winnowing_overlap_pairs(spark, sf_dir):
    """Winnowing-sketch overlap: doc pairs sharing >= 40 fingerprints
    (position-robust near-dup; threshold sized for the tiny-vocabulary
    synthetic corpus, where random 7-gram collisions are common).
    hash_fn="md5_60" makes the sketch identically computable in DuckDB
    (same md5, same 60-bit truncation), so the WHOLE algorithm — gram
    hash, window-min selection, distinct, pair join — is oracle-checked
    cross-engine; xxhash64 stays the scale default."""
    from sqlbackuphistoryetl_spark.functions.textfns import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    # barrier: both self-join sides consume fps — without it the whole
    # gram-hash → window-min fingerprint pipeline executes twice
    fps = winnowing_fingerprints(docs, hash_fn="md5_60").localCheckpoint(
        eager=True
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fingerprint") == F.col("b.fingerprint"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= 40)
    )


WINNOWING_SQL = """
with h as (
  select doc_id,
         unnest(range(1, greatest(1, length(text) - 6) + 1)) as i,
         text
  from documents),
g as (
  select doc_id, i,
         ('0x' || substr(md5(substr(text, i, 7)), 1, 15))::bigint as gh
  from h),
wm as (
  select doc_id, i,
         min(gh) over (partition by doc_id order by i
                       rows between current row and 3 following) as fp,
         max(i) over (partition by doc_id) as n_grams
  from g),
fps as (
  select distinct doc_id, fp
  from wm where i <= greatest(1, n_grams - 3))
select a.doc_id as id_a, b.doc_id as id_b,
       count(*) as shared_fingerprints
from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
having count(*) >= 40
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exactly verified: 16 bands × 2 rows
    over 32 minhashes generate candidates, the exact 9-char-shingle
    Jaccard re-scores them, threshold 0.5. Equals the exact all-pairs
    computation — the oracle doubles as a 100%-recall gate for the
    banding stage. Recall math: every qualifying pair on the gate
    corpora has true j ≥ 0.83 (measured; the corpus is bimodal, nothing
    in [0.22, 0.83]), so per-band collision is j² ≥ 0.69 and
    p_miss ≤ (1−0.69)^16 ≈ 6e-9 — and the oracle equality test verifies
    the actual recall deterministically at both gate SFs.

    9-char shingles (not 5): the synthetic corpus draws from a small
    shared vocabulary, so background 5-shingle Jaccard averages 0.17 —
    with 2-row bands (collision prob j²) nearly every one of the N²/2
    pairs collides somewhere and the band join goes quadratic (measured
    30-60 s at 5k docs). 9-shingles drop background to 0.025 (~250k
    joined rows) while the qualifying pair set is IDENTICAL (measured:
    same 25/256 pairs at sf0.01/sf0.1; near-dup j ≥ 0.83, background
    ≤ 0.22 — the corpus is bimodal under both definitions). min_est 0.4
    sits in the measured est gap; the exact verify re-scores candidates
    so values never depend on the estimate."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        minhash_lsh_candidates,
        shingle_jaccard_verify,
    )

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, shingle_len=9, min_est_jaccard=0.4
    ).select("id_a", "id_b")
    scored = shingle_jaccard_verify(docs, cand, k=9)
    return scored.filter(F.col("jaccard") >= 0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


MINHASH_SQL = """
with sh as (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(1, length(text) - 8) + 1),
                                      i -> substr(text, i, 9))) as s
  from documents),
p as (
  select a.doc_id as id_a, b.doc_id as id_b,
         len(list_intersect(a.s, b.s))::double
           / len(list_distinct(list_concat(a.s, b.s))) as j
  from sh a join sh b on a.doc_id < b.doc_id)
select id_a, id_b, round(j, 6) as jaccard from p where j >= 0.5
"""


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, exactly verified: 16 bands of 4 bits —
    pigeonhole guarantees any pair within Hamming 15 shares a band, and
    every pair with token-3-gram Jaccard ≥ 0.8 on the gate corpora sits
    at Hamming ≤ 11 — then the exact n-gram Jaccard re-scores candidates,
    threshold 0.8. Output equals the exact all-pairs answer (oracle =
    100%-recall gate). Production defaults (16-bit bands, Hamming ≤ 3,
    token features) stay the scale configuration.

    The sketch hashes the SAME 3-gram features the verify metric is
    defined over (``ngram_n=3``), not single tokens: token features on
    a shared-vocabulary corpus correlate sketch bits between unrelated
    docs, flooding the narrow-band join (~1M background pairs within
    Hamming 12 at 5k docs, 38 s); 3-gram features push background to
    Hamming ≈ 32 while true near-dups stay ≤ 11 (measured ~4k
    candidates, same exact output). max_hamming 12 = measured max
    qualifying 11 + 1, under the 15 the banding covers."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_jaccard_verify,
        simhash_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    cand = simhash_buckets(
        docs, band_bits=4, max_hamming=12, ngram_n=3
    ).select("id_a", "id_b")
    scored = ngram_jaccard_verify(docs, cand, n=3)
    return scored.filter(F.col("jaccard") >= 0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SIMHASH_SQL = r"""
with toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
p as (
  select a.doc_id as id_a, b.doc_id as id_b,
         len(list_intersect(a.g, b.g))::double
           / len(list_distinct(list_concat(a.g, b.g))) as j
  from grams a join grams b on a.doc_id < b.doc_id)
select id_a, id_b, round(j, 6) as jaccard from p where j >= 0.8
"""


def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline). Cosine rounded to
    6 dp on both sides: rank uses full precision (identical IEEE ops on
    identical inputs), output is rounded so the value-hash is stable."""
    from sqlbackuphistoryetl_spark.extensions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH top-k, exactly verified: 16 bands of 2
    bits (p_miss per relevant pair < 1e-3 at cosine 0.3; empirically 0
    of 50 true neighbors missed on the gate corpora) generate
    candidates; the exact cosine re-ranks them. Output equals
    brute-force top-5, which the oracle computes independently — a
    100%-recall gate over the banding machinery. Production defaults
    (8-bit bands) stay the scale configuration."""
    from sqlbackuphistoryetl_spark.extensions.similarity import rp_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = rp_lsh_topk(emb, queries, k=5, planes=32, band_bits=2)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ANN_LSH_SQL = EMBEDDING_TOPK_SQL  # gate output IS exact top-5


def ann_ivf_topk(spark, sf_dir):
    """IVF cell-probe top-k, full-probe gate variant: with n_probe =
    n_centroids the probe join must be LOSSLESS — cells partition the
    corpus, so assignment + probe join + re-rank has to reproduce
    brute-force top-5 bit-for-bit. The oracle checks that pipeline
    invariant end-to-end (a silent row drop/dup in the cell join would
    hash-mismatch). Approximate recall at n_probe << n_centroids is
    graded by the scale smoke's planted-pair recall instead (IVF on
    uniform random vectors cannot reach deterministic 100% recall at
    partial probes).

    The index is BUILT once per sf_dir (quantizer trained + inverted
    file written cell-partitioned, ivf_build_index) and PROBED per
    call — the production contract (FAISS build/search split), and what
    the bench should measure: probe cost, not per-call corpus
    re-assignment (r3's 1.57× worst ratio was quantizer re-sampling;
    r4's residual 1.35× was the per-call O(N·C) assignment matmul).
    Output-neutral: probe-of-index equals ivf_topk equals brute force
    at full probe — the oracle pins all three."""
    import tempfile

    from sqlbackuphistoryetl_spark.extensions.similarity import (
        ivf_build_index,
        ivf_probe_index,
        sampled_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _IVF_INDEX_CACHE:
        import atexit
        import shutil

        path = tempfile.mkdtemp(prefix="ivf_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _IVF_CENTROID_CACHE[sf_dir] = sampled_centroids(emb, 32)
        ivf_build_index(
            emb, path, centroids=_IVF_CENTROID_CACHE[sf_dir]
        )
        _IVF_INDEX_CACHE[sf_dir] = path
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_probe_index(
        spark,
        _IVF_INDEX_CACHE[sf_dir],
        queries,
        _IVF_CENTROID_CACHE[sf_dir],
        k=5,
        n_probe=32,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ANN_IVF_SQL = EMBEDDING_TOPK_SQL  # full-probe IVF must equal exact top-5


def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via LSH bucketing (never
    N²), exactly verified: 16 bands of 2 bits recover every pair with
    cosine ≥ 0.35 on the gate corpora (threshold sized to the synthetic
    data's max pairwise cosine ≈ 0.5); the exact cosine filter then
    makes the output equal the exact all-pairs answer — oracle =
    100%-recall gate."""
    from sqlbackuphistoryetl_spark.extensions.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(emb, threshold=0.35, planes=32, band_bits=2)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


NEARDUP_SQL = """
with p as (
  select a.vec_id as id_a, b.vec_id as id_b,
         list_cosine_similarity(a.embedding::double[], b.embedding::double[]) as c
  from embeddings a join embeddings b on a.vec_id < b.vec_id)
select id_a, id_b, round(c, 6) as cosine from p where c >= 0.35
"""


def multimodal_metadata(spark, sf_dir):
    """Opaque-payload metadata through the Arrow-batched mapInPandas
    plumbing. Every output column is independently computable in SQL
    (byte length, sha256, static type map) ⇒ fully oracle-checked —
    a batch-boundary bug or row drop in the mapInPandas iterator would
    hash-mismatch."""
    from sqlbackuphistoryetl_spark.extensions.multimodal import extract_payload_metadata

    docs = _t(spark, sf_dir, "documents").repartition(_fan(spark), "doc_id")
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload"),
        F.lit("text/plain").alias("content_type"),
    )
    return extract_payload_metadata(payloads)


MULTIMODAL_METADATA_SQL = """
select doc_id,
       'text/plain' as content_type,
       octet_length(encode(text))::bigint as byte_len,
       sha256(text) as sha256,
       'ok' as decode_status
from documents
"""


def multimodal_featurize_ann(spark, sf_dir):
    """Opaque-payload → deterministic-fake features (mapInPandas, Arrow
    batches) → brute-force cosine top-3: the multimodal column pipeline
    feeding similarity search. The fake decode is sha256-derived, which
    DuckDB reproduces byte-for-byte (hex-pair extraction → /127.5 − 1 →
    float32), so the WHOLE pipeline — batching, schema, float32 feature
    array, cosine re-rank — is oracle-checked."""
    from sqlbackuphistoryetl_spark.extensions.multimodal import decode_and_featurize
    from sqlbackuphistoryetl_spark.extensions.similarity import brute_force_topk

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .repartition(16, "doc_id")
    )
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload"),
        F.lit("image/png").alias("content_type"),
    )
    feats = decode_and_featurize(payloads, feature_dim=16)
    queries = feats.filter(F.col("doc_id") < 5)
    out = brute_force_topk(feats, queries, k=3, id_col="doc_id", vec_col="feature")
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


MULTIMODAL_FEATURIZE_SQL = """
with feats as (
  select doc_id,
         list_transform(range(0, 16), j ->
           ((('0x' || substr(sha256(text), 2*j + 1, 2))::int / 127.5) - 1.0)::FLOAT) as f
  from documents where doc_id < 200),
n as (
  select doc_id, f,
         sqrt(list_sum(list_transform(f, x -> x::DOUBLE * x::DOUBLE))) as nrm
  from feats),
scored as (
  select q.doc_id as query_id, c.doc_id as neighbor_id,
         list_sum(list_transform(range(1, 17),
                  j -> q.f[j]::DOUBLE * c.f[j]::DOUBLE)) / (q.nrm * c.nrm) as cos_full
  from n q join n c on q.doc_id < 5 and q.doc_id <> c.doc_id),
ranked as (
  select query_id, neighbor_id, cos_full,
         row_number() over (partition by query_id
                            order by cos_full desc, neighbor_id) as rank
  from scored)
select query_id, neighbor_id, round(cos_full, 6) as cosine, rank
from ranked where rank <= 3
"""


def multimodal_frame_sample(spark, sf_dir):
    """Video-style 1→N frame fan-out inside mapInPandas (no shuffle, no
    driver). Frame arithmetic (ceil-div frame count, stride sampling) is
    SQL-computable from the payload length, so the fan-out row
    accounting is oracle-checked — a lost or duplicated frame row would
    change n_sampled and hash-mismatch."""
    from sqlbackuphistoryetl_spark.extensions.multimodal import sample_frames

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .repartition(16, "doc_id")
    )
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload"),
        F.lit("video/mp4").alias("content_type"),
    )
    frames = sample_frames(payloads, frame_size=64, stride=2)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("n_frames").alias("n_frames"),
    )


MULTIMODAL_FRAMES_SQL = """
select doc_id,
       (((octet_length(encode(text)) + 63) // 64) + 1) // 2 as n_sampled,
       ((octet_length(encode(text)) + 63) // 64)::bigint as n_frames
from documents where doc_id < 100
"""


def quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals per doc (type-token
    ratio, top-unigram share, top-bigram share) — the curation filters
    that drop boilerplate/looped text before training. Zero-shuffle:
    array_sort + run-length aggregate() per doc (see
    functions.textfns.repetition_profile's plan note)."""
    from sqlbackuphistoryetl_spark.functions.textfns import repetition_profile

    docs = _t(spark, sf_dir, "documents")
    return repetition_profile(docs).orderBy("doc_id")


REPETITION_SQL = r"""
with toks as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') as t
  from documents),
base as (select doc_id, len(t) as n, len(list_distinct(t)) as nd from toks),
u as (select doc_id, tok, count(*) as c
      from (select doc_id, unnest(t) as tok from toks) z group by 1, 2),
topu as (select doc_id, max(c) as mu from u group by 1),
bg as (select doc_id,
              case when len(t) >= 2
                   then list_transform(range(len(t)-1), i -> t[i+1] || ' ' || t[i+2])
                   else [] end as b
       from toks),
bu as (select doc_id, g, count(*) as c
       from (select doc_id, unnest(b) as g from bg) z group by 1, 2),
topb as (select doc_id, max(c) as mb from bu group by 1)
select b.doc_id, b.n as n_tokens,
       b.nd::double / greatest(b.n, 1) as distinct_ratio,
       coalesce(mu, 0)::double / greatest(b.n, 1) as top_unigram_frac,
       coalesce(mb, 0)::double / greatest(b.n - 1, 1) as top_bigram_frac
from base b left join topu using (doc_id) left join topb using (doc_id)
order by b.doc_id
"""


def contamination_ngram(spark, sf_dir):
    """Benchmark decontamination: per training doc, the count/share of
    its distinct word n-grams that appear anywhere in the benchmark
    set (source 'src0' stands in for the eval suite). Benchmark gram
    set is broadcast — the corpus-side probe is a map-side hash lookup
    (extensions.decontam). n=3 here so the synthetic corpus overlaps;
    production decontamination runs the same plan at n=8..13."""
    from sqlbackuphistoryetl_spark.extensions.decontam import (
        contamination_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return contamination_overlap(train, bench, n=3).orderBy("doc_id")


CONTAMINATION_SQL = r"""
with toks as (
  select doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') as t
  from documents),
grams as (
  select doc_id, source,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [] end as g
  from toks),
bench as (select distinct gram
          from (select unnest(g) as gram from grams where source = 'src0') z),
tg as (select doc_id, unnest(g) as gram from grams where source <> 'src0'),
hits as (select tg.doc_id, count(*) as n_hit
         from tg join bench using (gram) group by 1)
select g.doc_id, len(g.g) as n_ngrams,
       coalesce(h.n_hit, 0) as n_contaminated,
       coalesce(h.n_hit, 0)::double / greatest(len(g.g), 1) as contaminated_frac
from grams g left join hits h using (doc_id)
where g.source <> 'src0' order by g.doc_id
"""


def global_shard_ids(spark, sf_dir):
    """Corpus-export terminal: dense global ordinal in (source, doc_id)
    order plus fixed-size shard assignment — computed WITHOUT a
    single-task global window (range repartition + per-partition rank +
    broadcast prefix-sum offsets; extensions.sharding). The oracle is
    the naive global row_number(), which this plan must equal exactly."""
    from sqlbackuphistoryetl_spark.extensions.sharding import global_ordinals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = global_ordinals(docs, ["source", "doc_id"], shard_size=100)
    return out.select("doc_id", "source", "ordinal", "shard").orderBy("ordinal")


SHARD_SQL = """
select doc_id, source,
       (row_number() over (order by source, doc_id) - 1) as ordinal,
       ((row_number() over (order by source, doc_id) - 1) // 100) as shard
from documents order by ordinal
"""


def pdf_extract_text(spark, sf_dir):
    """PDF text extraction through the real stdlib chain
    (extensions/pdf_codec.py + multimodal.extract_pdf_text, r10/r11 —
    the largest single text source in crawl pipelines): each
    document's first 120 sanitized chars become a 2-page,
    3-lines-per-page PDF whose CONTAINER cycles with doc_id % 6 —
    FlateDecode, raw streams, the modern ObjStm + predictor-12
    xref-stream layout (r11: objects compressed inside /Type /ObjStm,
    invisible to the plain obj..endobj scan), LZWDecode,
    ASCII85Decode and ASCIIHexDecode content streams — all under the
    SAME oracle, which reconstructs the exact page/line text from
    ``substr`` arithmetic. An escape-decode, stream-boundary,
    filter-decode, ObjStm-expansion, operator or page-ordering bug
    hash-mismatches in whichever arm it breaks."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        extract_pdf_text,
    )
    from sqlbackuphistoryetl_spark.extensions.pdf_codec import build_pdf

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(d, t):
            s = re.sub(r"[^ -~]", "?", t)[:120].ljust(120, " ")
            lines = [s[j * 20 : (j + 1) * 20] for j in range(6)]
            pg = [lines[:3], lines[3:]]
            mode = d % 6
            if mode == 0:
                return build_pdf(pg, compress=True)
            if mode == 1:
                return build_pdf(pg)
            if mode == 2:
                return build_pdf(pg, compress=True, compress_objects=True)
            if mode == 3:
                return build_pdf(pg, content_filter="lzw")
            if mode == 4:
                return build_pdf(pg, content_filter="a85")
            return build_pdf(pg, content_filter="ahx")

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return extract_pdf_text(payloads).select(
        "doc_id",
        "n_pages",
        F.md5(F.col("text")).alias("text_md5"),
        "status",
    )


PDF_EXTRACT_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 120),
              120, ' ') as s
  from documents)
select doc_id,
       cast(2 as bigint) as n_pages,
       md5(
         substr(s, 1, 20) || chr(10) || substr(s, 21, 20) || chr(10)
         || substr(s, 41, 20) || chr(12)
         || substr(s, 61, 20) || chr(10) || substr(s, 81, 20) || chr(10)
         || substr(s, 101, 20)
       ) as text_md5,
       'ok' as status
from s
"""


def pdf_scanned_images(spark, sf_dir):
    """Embedded-image extraction from scanned PDFs
    (pdf_codec.extract_images + decode_pdf_image routing to the
    sibling codecs, r10): even doc_ids embed a G4-fax CCITTFaxDecode
    image (16x7 bit raster from the first 16 chars, fax-black =
    luminance 0), odd doc_ids a blockwise-constant DCTDecode JPEG
    (16x16 from 4 chars — float-noise-free), each inside a full
    one-page document with XObject resources and a real xref. The
    oracle recomputes the first image's filter/geometry/luminance
    stats closed-form from ``ord()``, so an object-scan,
    stream-boundary, filter-routing, fax-polarity or DCT bug
    hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        extract_pdf_image_features,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.ccitt import encode_g4
        from sqlbackuphistoryetl_spark.extensions.jpeg_codec import (
            QUANT_FLAT8,
            encode_jpeg,
        )
        from sqlbackuphistoryetl_spark.extensions.pdf_codec import (
            build_scanned_pdf,
        )

        def mk(d, t):
            if d % 2 == 0:
                s = re.sub(r"[^ -~]", "?", t)[:16].ljust(16, " ")
                rows = [
                    bytes((ord(s[x]) >> y) & 1 for x in range(16))
                    for y in range(7)
                ]
                img = {
                    "width": 16, "height": 7,
                    "filter": "CCITTFaxDecode",
                    "data": encode_g4(rows, 16), "k": -1,
                }
            else:
                s = re.sub(r"[^ -~]", "?", t)[:4].ljust(4, " ")
                px = bytes(
                    ord(s[(r // 8) * 2 + (c // 8)])
                    for r in range(16)
                    for c in range(16)
                )
                img = {
                    "width": 16, "height": 16, "filter": "DCTDecode",
                    "data": encode_jpeg(
                        px, 16, 16, 1, quant_luma=QUANT_FLAT8
                    ),
                }
            return build_scanned_pdf([img])

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return extract_pdf_image_features(payloads).select(
        "doc_id", "n_images", "filter", "width", "height",
        "mean_lum", "min_lum", "max_lum",
    )


PDF_SCANNED_SQL = r"""
with s as (
  select doc_id, doc_id % 2 as m,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 16),
              16, ' ') as s
  from documents),
fax as (
  -- fax arm: pixel (y, x) = bit y of char x; black (1) -> 0, else 255
  select doc_id,
         case when (ord(substr(s, x + 1, 1)) >> y) & 1 = 1
              then 0 else 255 end as v
  from s,
       unnest(generate_series(0, 15)) as t1(x),
       unnest(generate_series(0, 6)) as t2(y)
  where m = 0),
fax_agg as (
  select doc_id, sum(v) // 112 as mean_lum,
         min(v) as min_lum, max(v) as max_lum
  from fax group by doc_id),
dct as (
  select doc_id, cast(ord(substr(s, j + 1, 1)) as bigint) as v
  from s, unnest(generate_series(0, 3)) as u(j)
  where m = 1),
dct_agg as (
  select doc_id, sum(v * 64) // 256 as mean_lum,
         min(v) as min_lum, max(v) as max_lum
  from dct group by doc_id)
select s.doc_id,
       cast(1 as bigint) as n_images,
       case when m = 0 then 'CCITTFaxDecode' else 'DCTDecode' end
         as filter,
       cast(16 as bigint) as width,
       cast(case when m = 0 then 7 else 16 end as bigint) as height,
       cast(coalesce(f.mean_lum, d.mean_lum) as bigint) as mean_lum,
       cast(coalesce(f.min_lum, d.min_lum) as bigint) as min_lum,
       cast(coalesce(f.max_lum, d.max_lum) as bigint) as max_lum
from s
left join fax_agg f on s.doc_id = f.doc_id
left join dct_agg d on s.doc_id = d.doc_id
"""


def zorder_cluster_stats(spark, sf_dir):
    """Z-order clustering for multi-column data skipping
    (extensions/zorder.py, r10 — the OPTIMIZE ZORDER BY lever): each
    order's (custkey mod 256, orderkey mod 256) pair is Morton-
    interleaved by the pure-JVM ``morton_code`` expression (bit b of
    column j at position 2b+j, 8 bits each), rows land in 16 Z-curve
    buckets (z * 16 >> 16), and the gate emits the per-bucket counts
    and per-column min/max — exactly the file-level statistics a scan
    planner would prune on. The oracle recomputes the interleave as
    16 literal shift-and-mask terms, so a bit-position, shift-
    direction or bucket-boundary bug hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.zorder import morton_code

    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.col("o_orderkey") % 256).alias("y"),
    )
    z = orders.withColumn("zcode", morton_code(["x", "y"], 8))
    return (
        z.withColumn("bucket", F.shiftright(F.col("zcode") * 16, 16))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


ZORDER_SQL = r"""
with z as (
  select
    (o_custkey % 256) as x,
    (o_orderkey % 256) as y,
    (((o_custkey % 256) >> 0) & 1) * 1
      + (((o_orderkey % 256) >> 0) & 1) * 2
      + (((o_custkey % 256) >> 1) & 1) * 4
      + (((o_orderkey % 256) >> 1) & 1) * 8
      + (((o_custkey % 256) >> 2) & 1) * 16
      + (((o_orderkey % 256) >> 2) & 1) * 32
      + (((o_custkey % 256) >> 3) & 1) * 64
      + (((o_orderkey % 256) >> 3) & 1) * 128
      + (((o_custkey % 256) >> 4) & 1) * 256
      + (((o_orderkey % 256) >> 4) & 1) * 512
      + (((o_custkey % 256) >> 5) & 1) * 1024
      + (((o_orderkey % 256) >> 5) & 1) * 2048
      + (((o_custkey % 256) >> 6) & 1) * 4096
      + (((o_orderkey % 256) >> 6) & 1) * 8192
      + (((o_custkey % 256) >> 7) & 1) * 16384
      + (((o_orderkey % 256) >> 7) & 1) * 32768
      as zcode
  from orders)
select cast((zcode * 16) >> 16 as bigint) as bucket,
       cast(count(*) as bigint) as n,
       min(x) as min_x, max(x) as max_x,
       min(y) as min_y, max(y) as max_y
from z group by 1
"""


def asof_last_purchase(spark, sf_dir):
    """Backward as-of join (operators.asof): each 'error' event joined
    to the same user's most recent at-or-before 'purchase'. The
    reference's restore-chain walk is this exact shape — newest Full at
    or before STOPAT (sql:864-875) — generalized to a keyed feed. One
    shuffle of |L|+|R| rows; no inequality-join cross product. Oracle:
    the ANSI range-frame max(), which at-or-equal tie semantics match."""
    from sqlbackuphistoryetl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        errors, purchases, ["user_id"], "ts", ["ts"], tiebreak_cols=["event_id"]
    )
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("last_purchase_ts"),
        (um("ts") - um("asof_ts")).alias("micros_since"),
    ).orderBy("event_id")


ASOF_SQL = """
with m as (
  select event_id, user_id, ts, event_type,
         max(case when event_type = 'purchase' then ts end)
           over (partition by user_id order by ts) as last_purchase_ts
  from events)
select event_id, user_id, ts, last_purchase_ts,
       epoch_us(ts) - epoch_us(last_purchase_ts) as micros_since
from m where event_type = 'error' order by event_id
"""


def sequence_packing(spark, sf_dir):
    """Pretraining export: concat-and-chunk packing of the corpus token
    stream into 256-token sequences, as (doc → sequence, slice) span
    metadata (extensions.packing). The global token cumsum runs as a
    range repartition + per-partition window + broadcast prefix-sum
    offsets — never a single-task global window. The oracle IS that
    naive global window (plus a lateral generate_series explode), which
    the distributed plan must equal exactly."""
    from sqlbackuphistoryetl_spark.extensions.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("n_tok"),
    )
    out = pack_sequences(docs, "n_tok", ["doc_id"], seq_len=256)
    return out.select(
        "seq_id", "doc_id", "tok_begin", "tok_end", "slice_tokens"
    ).orderBy("seq_id", "doc_id")


PACKING_SQL = r"""
with t as (
  select doc_id, len(regexp_extract_all(text, '\S+')) as n_tok from documents),
c as (
  select doc_id, n_tok,
         cast(sum(n_tok) over (order by doc_id
              rows unbounded preceding) as bigint) as cum_end
  from t),
s as (
  select doc_id, n_tok, cum_end - n_tok as cum_start, cum_end
  from c where n_tok > 0)
select cast(g.seq_id as bigint) as seq_id, s.doc_id,
       cast(greatest(0, g.seq_id * 256 - s.cum_start) as bigint) as tok_begin,
       cast(least(s.cum_end, (g.seq_id + 1) * 256) - s.cum_start as bigint)
           as tok_end,
       cast(least(s.cum_end, (g.seq_id + 1) * 256) - s.cum_start
            - greatest(0, g.seq_id * 256 - s.cum_start) as bigint)
           as slice_tokens
from s, unnest(generate_series(s.cum_start // 256, (s.cum_end - 1) // 256))
       as g(seq_id)
order by seq_id, doc_id
"""


def curation_funnel(spark, sf_dir):
    """Curation filter-funnel report: every document classified by its
    FIRST failing keep-rule (length floor/ceiling → language allowlist
    → English stopword-density floor), then per-(source, reason) counts
    and mean token length. The decision column is one codegen'd CASE —
    adding a rule never adds a pass over the data, and the report is a
    single map-side-partial aggregate. This is the acceptance report a
    corpus curation run publishes alongside its output."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    stop_hits = F.size(
        F.expr(r"regexp_extract_all(text, '\\b(the|a|of|to|and)\\b', 0)")
    )
    reason = (
        F.when(n_tok < 20, F.lit("too_short"))
        .when(n_tok > 1000, F.lit("too_long"))
        .when(~F.col("lang").isin("en", "de", "fr"), F.lit("lang_not_allowed"))
        .when(
            (F.col("lang") == "en")
            & (stop_hits * 100 < n_tok * 2),  # integer form of ratio < 0.02
            F.lit("low_stopword_density"),
        )
        .otherwise(F.lit("keep"))
    )
    return (
        docs.select("source", reason.alias("reason"), n_tok.alias("n_tok"))
        .groupBy("source", "reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("source", "reason")
    )


FUNNEL_SQL = r"""
with t as (
  select source, lang,
         len(regexp_extract_all(text, '\S+')) as n_tok,
         len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) as stop_hits
  from documents)
select source,
       case when n_tok < 20 then 'too_short'
            when n_tok > 1000 then 'too_long'
            when lang not in ('en','de','fr') then 'lang_not_allowed'
            when lang = 'en' and stop_hits * 100 < n_tok * 2
                 then 'low_stopword_density'
            else 'keep' end as reason,
       count(*) as n_docs,
       cast(sum(n_tok) as bigint) as total_tokens
from t group by 1, 2 order by source, reason
"""


def knn_label_vote_gate(spark, sf_dir):
    """Embedding-space k-NN majority-vote labeling
    (extensions.similarity.knn_label_vote): modal label among the 10
    exact cosine neighbors of each query vector, deterministic
    tie-breaks (rank by neighbor id, vote by smallest label). Oracle
    recomputes the vote from DuckDB's own cosine ranking."""
    from sqlbackuphistoryetl_spark.extensions.similarity import knn_label_vote

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return knn_label_vote(emb, queries, k=10).orderBy("query_id")


KNN_VOTE_SQL = """
with q as (select vec_id as query_id, embedding as q_vec
           from embeddings where vec_id < 20),
scored as (
  select q.query_id, c.vec_id as neighbor_id, c.label,
         list_cosine_similarity(q.q_vec::double[], c.embedding::double[])
             as cos_full
  from q, embeddings c where c.vec_id <> q.query_id),
ranked as (
  select query_id, neighbor_id, label, cos_full,
         row_number() over (partition by query_id
                            order by cos_full desc, neighbor_id) as rank
  from scored),
votes as (
  select query_id, label, count(*) as votes, max(cos_full) as top_cos
  from ranked where rank <= 10 group by query_id, label),
winner as (
  select query_id, label, votes, top_cos,
         row_number() over (partition by query_id
                            order by votes desc, label) as r
  from votes)
select query_id, label as predicted_label, votes,
       round(top_cos, 6) as top_cosine
from winner where r = 1 order by query_id
"""


def incremental_dedup_cross(spark, sf_dir):
    """Incremental ingest dedup (extensions.dedup.minhash_lsh_cross):
    an 'incoming batch' (odd doc_ids) screened against the 'existing
    corpus' (even doc_ids) through the cross-corpus LSH band join, then
    the exact 9-char-shingle Jaccard re-scores candidates at 0.5 — the
    production shape where a new crawl is deduped against accepted data
    without re-pairing the accepted corpus with itself. Banding params
    match dedup_minhash_lsh (whose 100%-recall argument covers this
    pair subset), so the output equals the exact cross-corpus answer
    the oracle computes."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        minhash_lsh_cross,
        shingle_jaccard_verify,
    )

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    incoming = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
    cand = minhash_lsh_cross(
        incoming, existing,
        num_hashes=32, bands=16, shingle_len=9, min_est_jaccard=0.4,
    ).select(
        F.col("incoming_id").alias("id_a"), F.col("existing_id").alias("id_b")
    )
    scored = shingle_jaccard_verify(docs, cand, k=9)
    return (
        scored.filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("id_a").alias("incoming_id"),
            F.col("id_b").alias("existing_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy("incoming_id", "existing_id")
    )


def minhash_index_compact(spark, sf_dir):
    """Persistent-index MAINTENANCE end-to-end (r7 verdict task 7 —
    extensions/dedup_index.py): build the index from a base corpus
    (doc_id % 3 == 0), APPEND a second batch (% 3 == 2), DELETE a
    takedown set (% 12 == 0), COMPACT the entry files (pure relayout:
    same rows, fewer bucket-sorted files), then screen an incoming
    batch (% 3 == 1) against the post-compact index and exact-rescore
    at Jaccard >= 0.5. Banding params (32 hashes / 16 bands, 9-char
    shingles, est >= 0.4) are the ones whose 100%-recall argument the
    incremental_dedup_cross gate already pins, so the output must
    equal the from-scratch exact cross-Jaccard the oracle computes
    over (base + appended - deleted) x incoming — a row lost in
    compaction or a takedown id that survives hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    from sqlbackuphistoryetl_spark.extensions.dedup import (
        shingle_jaccard_verify,
    )
    from sqlbackuphistoryetl_spark.extensions.dedup_index import (
        append_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        query_minhash_index,
        write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _MINHASH_IDX_CACHE:
        path = tempfile.mkdtemp(prefix="minhash_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        base = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
        second = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
        doomed = docs.filter(F.pmod("doc_id", F.lit(12)) == 0).select("doc_id")
        write_minhash_index(
            base, path, num_hashes=32, bands=16, shingle_len=9
        )
        append_minhash_index(second, path)
        delete_from_minhash_index(spark, path, doomed)
        compact_minhash_index(spark, path)
        _MINHASH_IDX_CACHE[sf_dir] = path
    incoming = docs.filter(F.pmod("doc_id", F.lit(3)) == 1)
    cand = query_minhash_index(
        spark, incoming, _MINHASH_IDX_CACHE[sf_dir], min_est_jaccard=0.4
    ).select(F.col("incoming_id").alias("id_a"), F.col("index_id").alias("id_b"))
    scored = shingle_jaccard_verify(docs, cand, k=9)
    return (
        scored.filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("id_a").alias("incoming_id"),
            F.col("id_b").alias("index_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy("incoming_id", "index_id")
    )


MINHASH_INDEX_COMPACT_SQL = """
with sh as (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(1, length(text) - 8) + 1),
                                      i -> substr(text, i, 9))) as s
  from documents),
p as (
  select a.doc_id as incoming_id, b.doc_id as index_id,
         len(list_intersect(a.s, b.s))::double
           / len(list_distinct(list_concat(a.s, b.s))) as j
  from sh a join sh b
    on a.doc_id % 3 = 1
   and b.doc_id % 3 in (0, 2)
   and b.doc_id % 12 <> 0)
select incoming_id, index_id, round(j, 6) as jaccard
from p where j >= 0.5 order by incoming_id, index_id
"""


CROSS_DEDUP_SQL = """
with sh as (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(1, length(text) - 8) + 1),
                                      i -> substr(text, i, 9))) as s
  from documents),
p as (
  select a.doc_id as incoming_id, b.doc_id as existing_id,
         len(list_intersect(a.s, b.s))::double
           / len(list_distinct(list_concat(a.s, b.s))) as j
  from sh a join sh b on a.doc_id % 2 = 1 and b.doc_id % 2 = 0)
select incoming_id, existing_id, round(j, 6) as jaccard
from p where j >= 0.5 order by incoming_id, existing_id
"""


def pii_redaction(spark, sf_dir):
    """PII scrub + audit (functions.textfns.redact_pii / pii_counts):
    per-category hit counts over the original text and the
    byte-exact md5 of the redacted output. The corpus is word-soup, so
    both engines append the SAME deterministic doc_id-derived PII
    (email, phone, SSN, IPv4) before scrubbing — the gate then proves
    the ASCII-only patterns behave identically under Java regex and
    RE2, which is the portability property the scrub relies on. The
    whole path is a codegen'd regexp chain: zero shuffle, zero Python."""
    from sqlbackuphistoryetl_spark.functions.textfns import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    pad4 = F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
        F.lit(" call +1 555 010 "), pad4,
        F.lit(" ssn 123-45-"), pad4,
        F.lit(" ip 10.0."), F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit(".1"),
    )
    return (
        docs.select("doc_id", synth.alias("_synth"))
        .select(
            "doc_id",
            *pii_counts(F.col("_synth")),
            F.md5(redact_pii(F.col("_synth"))).alias("redacted_md5"),
            F.length(redact_pii(F.col("_synth"))).alias("redacted_len"),
        )
        .orderBy("doc_id")
    )


PII_SQL = r"""
with s as (
  select doc_id,
         text || ' contact user' || cast(doc_id as varchar)
              || '@mail.example.com'
              || ' call +1 555 010 '
              || lpad(cast(doc_id % 10000 as varchar), 4, '0')
              || ' ssn 123-45-'
              || lpad(cast(doc_id % 10000 as varchar), 4, '0')
              || ' ip 10.0.' || cast(doc_id % 256 as varchar) || '.1'
             as synth
  from documents),
r as (
  select doc_id, synth,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(synth,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+\d[\d\s().-]{8,}\d', '<PHONE>', 'g') as redacted
  from s)
select doc_id,
       len(regexp_extract_all(synth,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as n_email,
       len(regexp_extract_all(synth, '\b\d{3}-\d{2}-\d{4}\b')) as n_ssn,
       len(regexp_extract_all(synth,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as n_ip,
       len(regexp_extract_all(synth, '\+\d[\d\s().-]{8,}\d')) as n_phone,
       md5(redacted) as redacted_md5,
       length(redacted) as redacted_len
from r order by doc_id
"""


def quality_rare_tokens(spark, sf_dir):
    """Corpus-relative rarity profile (textfns.rare_token_profile):
    per-doc count and mass-fraction of word TRIGRAMS whose corpus
    frequency is below 5 — the integer-deterministic stand-in for LM
    log-prob quality scoring (a float log-sum would depend on
    aggregation order; two exact ints divided are bit-identical
    everywhere). Trigrams, not tokens: the synthetic corpus draws from
    a 31-word vocabulary where every token is frequent, while the
    trigram space (~16k at sf0.01) separates formulaic from unusual
    phrasing."""
    from sqlbackuphistoryetl_spark.functions.textfns import rare_token_profile

    docs = _t(spark, sf_dir, "documents")
    return rare_token_profile(docs, min_count=5, ngram_n=3).orderBy("doc_id")


RARE_TOKENS_SQL = r"""
with t as (
  select doc_id, regexp_extract_all(text, '\S+') as a from documents),
grams as (
  select doc_id, g
  from t, unnest(list_transform(
           range(1, greatest(len(a) - 2, 1) + 1),
           i -> array_to_string(list_slice(a, i, i + 2), ' '))) as u(g)
  where g <> ''),
freq as (
  select g, count(*) as cnt from grams group by g),
rare_hits as (
  select gr.doc_id, count(*) as n_rare
  from grams gr join freq f on gr.g = f.g
  where f.cnt < 5 group by gr.doc_id),
totals as (
  select doc_id, count(*) as n_grams from grams group by doc_id),
docs0 as (select doc_id from documents)
select d.doc_id,
       coalesce(t2.n_grams, 0) as n_grams,
       coalesce(r.n_rare, 0) as n_rare,
       cast(coalesce(r.n_rare, 0) as double)
           / greatest(coalesce(t2.n_grams, 0), 1) as rare_ratio
from docs0 d
left join totals t2 using (doc_id)
left join rare_hits r using (doc_id)
order by doc_id
"""


def label_centroid_stats(spark, sf_dir):
    """Per-class centroid component sums over the embeddings table
    (extensions.similarity.label_centroid_sums): components quantized
    to 1e-6 integers map-side, then summed as longs — exact and
    aggregation-order independent, unlike a float mean. One posexplode
    + one hash aggregate; the oracle unnests and re-sums in DuckDB."""
    from sqlbackuphistoryetl_spark.extensions.similarity import label_centroid_sums

    emb = _t(spark, sf_dir, "embeddings")
    return label_centroid_sums(emb).orderBy("label", "dim")


CENTROID_SQL = """
with e as (
  select label, g.i - 1 as dim,
         cast(floor(cast(embedding[g.i] as double) * 1000000 + 0.5)
              as bigint) as q
  from embeddings,
       unnest(generate_series(1, len(embedding))) as g(i))
select label, dim, cast(sum(q) as bigint) as qsum, count(*) as n
from e group by label, dim order by label, dim
"""


def sample_global_k(spark, sf_dir):
    """Exact-k uniform global sample (extensions.sampling.global_sample_k):
    the 100 smallest md5 draws over the whole corpus. The plan is
    TakeOrderedAndProject — per-partition bounded heap, O(k·partitions)
    merge, no global sort — and the oracle is the naive full ORDER BY
    ... LIMIT, which this plan must equal row-for-row."""
    from sqlbackuphistoryetl_spark.extensions.sampling import global_sample_k

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return global_sample_k(docs, 100, "doc_id", salt="g0")


SAMPLE_K_SQL = """
select doc_id, lang, source from documents
order by md5('g0|' || cast(doc_id as varchar)), doc_id
limit 100
"""


def heavy_hitter_grams(spark, sf_dir):
    """Corpus-level top-20 word bigrams with exact counts and share
    (functions.textfns.heavy_hitter_ngrams) — the boilerplate/template
    detector. One explode + map-side-partial hash agg, then a
    TakeOrderedAndProject top-k over the gram vocabulary; the share
    denominator is a separate 1-row aggregate broadcast in, never a
    window over the vocabulary."""
    from sqlbackuphistoryetl_spark.functions.textfns import heavy_hitter_ngrams

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitter_ngrams(docs, text_col="text", n=2, k=20)


HEAVY_HITTER_SQL = r"""
with t as (select regexp_extract_all(text, '\S+') as a from documents),
g as (
  select g from t,
    unnest(list_transform(range(1, greatest(len(a) - 1, 1) + 1),
           i -> array_to_string(list_slice(a, i, i + 1), ' '))) as u(g)
  where g <> ''),
tot as (select count(*) as total_grams from g),
c as (select g as gram, count(*) as cnt from g group by g)
select gram, cnt, total_grams, cnt::double / total_grams as share
from c, tot
order by cnt desc, gram
limit 20
"""


def embedding_quantize_profile(spark, sf_dir):
    """Per-dim int8 quantization calibration + audit
    (extensions.similarity.scalar_quantize_profile): min/max per
    dimension, then the exact long SUM of the 0..255 codes — the
    engine-portable audit of a 4× vector-store compression. The code
    expression is mirrored verbatim in the oracle so both engines run
    the identical IEEE double sequence."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        scalar_quantize_profile,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return scalar_quantize_profile(emb).orderBy("dim")


QUANTIZE_SQL = """
with x as (
  select g.i - 1 as dim, cast(embedding[g.i] as double) as x
  from embeddings,
       unnest(generate_series(1, len(embedding))) as g(i)),
calib as (select dim, min(x) as vmin, max(x) as vmax from x group by dim),
coded as (
  select x.dim, c.vmin, c.vmax,
         case when c.vmax = c.vmin then cast(0 as bigint)
              else cast(floor((x.x - c.vmin) / (c.vmax - c.vmin) * 255.0
                              + 0.5) as bigint)
         end as code
  from x join calib c on x.dim = c.dim)
select dim, vmin, vmax, count(*) as n,
       cast(sum(code) as bigint) as code_sum,
       min(code) as code_min, max(code) as code_max
from coded group by dim, vmin, vmax order by dim
"""


def dedup_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix (extensions.dedup
    .pair_source_matrix over the exact n-gram Jaccard pair stage):
    which sources near-duplicate each other, as (n_pairs, exact
    quantized-jaccard sum) per unordered source pair — the report a
    curation run reads before setting a mix. Pair definition is
    identical to dedup_ngram_jaccard (3-gram Jaccard ≥ 0.05 on the
    doc_id < 500 slice)."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_jaccard_all_pairs,
        pair_source_matrix,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_all_pairs(
        docs, text_col="text", id_col="doc_id", max_gram_df=64
    ).filter(F.col("jaccard") >= 0.05)
    return pair_source_matrix(pairs, docs).orderBy("source_a", "source_b")


SOURCE_MATRIX_SQL = r"""
with toks as (
  select doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents where doc_id < 500),
grams as (
  select doc_id,
         case when len(t) >= 3
              then list_distinct(list_transform(range(len(t)-2),
                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
              else [array_to_string(t, ' ')] end as g
  from toks),
pairs as (
  select a.doc_id as id_a, b.doc_id as id_b,
         len(list_intersect(a.g, b.g))::double
             / len(list_distinct(list_cat(a.g, b.g))) as j
  from grams a join grams b on a.doc_id < b.doc_id
  where len(list_intersect(a.g, b.g))::double
            / len(list_distinct(list_cat(a.g, b.g))) >= 0.05)
select least(sa.source, sb.source) as source_a,
       greatest(sa.source, sb.source) as source_b,
       count(*) as n_pairs,
       cast(sum(cast(floor(j * 1000000 + 0.5) as bigint)) as bigint)
           as qjaccard_sum
from pairs
join toks sa on pairs.id_a = sa.doc_id
join toks sb on pairs.id_b = sb.doc_id
group by 1, 2 order by 1, 2
"""


def corpus_version_diff(spark, sf_dir):
    """Snapshot diff (extensions.versioning.corpus_diff): documents vs a
    deterministically-derived v2 (ids ÷97 removed, ids ≡3 mod 101
    edited, ids ≡5 mod 103 re-added under id+1e6) — every doc
    classified added/removed/changed/unchanged by content md5. ONE
    full-outer equi-join on the id carrying only (id, md5); the oracle
    derives the identical v2 in SQL."""
    from sqlbackuphistoryetl_spark.extensions.versioning import corpus_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    edited = F.when(
        F.col("doc_id") % 101 == 3, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", edited.alias("text"))
        .unionByName(
            docs.filter(F.col("doc_id") % 103 == 5).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(
                    F.lit("new doc "), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    return corpus_diff(docs, new).orderBy("doc_id")


VERSION_DIFF_SQL = """
with old as (select doc_id, md5(text) as m from documents),
new as (
  select doc_id,
         md5(case when doc_id % 101 = 3 then text || ' [rev2]'
                  else text end) as m
  from documents where doc_id % 97 <> 0
  union all
  select doc_id + 1000000 as doc_id,
         md5('new doc ' || cast(doc_id as varchar)) as m
  from documents where doc_id % 103 = 5)
select coalesce(old.doc_id, new.doc_id) as doc_id,
       case when old.doc_id is null then 'added'
            when new.doc_id is null then 'removed'
            when old.m <> new.m then 'changed'
            else 'unchanged' end as status,
       old.m as old_md5, new.m as new_md5
from old full outer join new on old.doc_id = new.doc_id
order by 1
"""


def packed_sequence_export(spark, sf_dir):
    """The packing terminal end-to-end: reassemble the actual 256-token
    training sequences from the span metadata
    (extensions.packing.materialize_sequences) — every sequence except
    the final remainder must hold exactly 256 tokens, and the md5 of
    each reconstructed stream must equal the oracle's ordered
    string_agg reconstruction. Proves the span metadata tiles the
    concatenated corpus stream with no gap, overlap, or misorder."""
    from sqlbackuphistoryetl_spark.extensions.packing import (
        materialize_sequences,
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    with_tok = docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("n_tok"),
    )
    spans = pack_sequences(with_tok, "n_tok", ["doc_id"], seq_len=256)
    out = materialize_sequences(spans, docs)
    return out.select(
        "seq_id", "seq_tokens", F.md5("seq_text").alias("seq_md5")
    ).orderBy("seq_id")


PACKED_EXPORT_SQL = r"""
with t as (
  select doc_id, regexp_extract_all(text, '\S+') as toks,
         len(regexp_extract_all(text, '\S+')) as n_tok from documents),
c as (
  select doc_id, toks, n_tok,
         cast(sum(n_tok) over (order by doc_id
              rows unbounded preceding) as bigint) as cum_end
  from t),
s as (
  select doc_id, toks, n_tok, cum_end - n_tok as cum_start, cum_end
  from c where n_tok > 0),
spans as (
  select cast(g.seq_id as bigint) as seq_id, s.doc_id, s.toks,
         cast(greatest(0, g.seq_id * 256 - s.cum_start) as bigint) as tok_begin,
         cast(least(s.cum_end, (g.seq_id + 1) * 256) - s.cum_start as bigint)
             as tok_end
  from s, unnest(generate_series(s.cum_start // 256, (s.cum_end - 1) // 256))
         as g(seq_id))
select seq_id,
       cast(sum(tok_end - tok_begin) as int) as seq_tokens,
       md5(string_agg(array_to_string(toks[tok_begin + 1 : tok_end], ' '),
                      ' ' order by doc_id)) as seq_md5
from spans group by seq_id order by seq_id
"""


def chunk_dedup_spans(spark, sf_dir):
    """C4-style duplicate-span removal (extensions.dedup.chunk_dedup):
    8-token non-overlapping chunks, corpus-wide first occurrence kept
    (ordered by (doc, chunk index)), documents reassembled from the
    surviving chunks. The synthetic corpus's heavy word repetition
    plants plenty of cross-doc duplicate chunks, so n_kept < n_chunks
    for a meaningful fraction of rows. clean_md5 proves byte-exact
    reassembly, not just counts."""
    from sqlbackuphistoryetl_spark.extensions.dedup import chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    out = chunk_dedup(docs, chunk_tokens=8)
    return out.select(
        "doc_id", "n_chunks", "n_kept", F.md5("clean_text").alias("clean_md5")
    ).orderBy("doc_id")


CHUNK_DEDUP_SQL = r"""
with t as (
  select doc_id, regexp_extract_all(text, '\S+') as toks from documents),
c as (
  select doc_id, toks,
         cast(ceil(len(toks) / 8.0) as int) as n_chunks from t),
ch as (
  select doc_id, n_chunks, cast(g.i as int) as chunk_idx,
         array_to_string(toks[g.i * 8 + 1 : g.i * 8 + 8], ' ') as chunk
  from c, unnest(generate_series(0, n_chunks - 1)) as g(i)
  where n_chunks > 0),
r as (
  select *, row_number() over (
      partition by chunk order by doc_id, chunk_idx) as rn
  from ch),
k as (
  select doc_id, cast(count(*) as int) as n_kept,
         string_agg(chunk, ' ' order by chunk_idx) as clean_text
  from r where rn = 1 group by doc_id)
select c.doc_id, c.n_chunks,
       coalesce(k.n_kept, 0) as n_kept,
       md5(coalesce(k.clean_text, '')) as clean_md5
from c left join k using (doc_id)
order by doc_id
"""


def bloom_prefilter_verdicts(spark, sf_dir):
    """Bloom pre-filter for incremental dedup
    (extensions.dedup.bloom_bitmap / bloom_might_contain): the bitmap
    is built over the content md5 of the even-id half of the corpus,
    then EVERY document probes it. might_exist must be true for every
    doc whose text md5 matches an even-id doc (zero false negatives —
    the filter's contract); the oracle rebuilds the identical bitmap
    bit for bit, so the false-positive verdicts hash-match too."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        bloom_bitmap,
        bloom_might_contain,
    )

    m_bits, k_hashes = 1 << 16, 4
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_md5")
    )
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_bitmap(existing, m_bits=m_bits, k_hashes=k_hashes)
    return (
        bloom_might_contain(docs, bloom, m_bits=m_bits, k_hashes=k_hashes)
        .select("doc_id", "might_exist")
        .orderBy("doc_id")
    )


BLOOM_PREFILTER_SQL = """
with docs as (select doc_id, md5(text) as content_md5 from documents),
probes as (
  select d.content_md5,
         ('0x' || substr(md5(d.content_md5 || '|' || cast(s.seed as varchar)),
                         1, 8))::ubigint % 65536 as pos
  from docs d, unnest(generate_series(0, 3)) as s(seed)
  where d.doc_id % 2 = 0),
bloom as (
  select cast(pos // 32 as int) as word_idx,
         bit_or(1::bigint << cast(pos % 32 as int)) as word
  from probes group by 1),
q as (
  select d.doc_id, d.content_md5,
         ('0x' || substr(md5(d.content_md5 || '|' || cast(s.seed as varchar)),
                         1, 8))::ubigint % 65536 as pos
  from docs d, unnest(generate_series(0, 3)) as s(seed)),
hits as (
  select q.doc_id,
         (b.word is not null
          and (b.word & (1::bigint << cast(q.pos % 32 as int)))
              = (1::bigint << cast(q.pos % 32 as int))) as hit
  from q left join bloom b on b.word_idx = cast(q.pos // 32 as int))
select doc_id, bool_and(hit) as might_exist
from hits group by doc_id order by doc_id
"""


# ------------------------------------------------- curation extensions (r3)


def boilerplate_line_removal(spark, sf_dir):
    """CCNet/RefinedWeb-style boilerplate-line removal
    (extensions/curation.py: remove_boilerplate_lines). The gate corpus
    is line-structured deterministically on BOTH sides: every doc gets a
    per-language nav header, even doc_ids get a per-source footer, and
    doc_id % 97 == 0 docs get a unique extra line — so the line
    document-frequency split exercises removed (header/footer, df ≥ 3),
    kept-unique (body, rare line), and the empty-line-never-counted
    rule. Output proves byte-exact reassembly in original line order."""
    from sqlbackuphistoryetl_spark.extensions.curation import (
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat(
            F.concat(F.lit("NAV "), F.col("lang"), F.lit("\n")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("\nFOOTER "), F.col("source")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.lit("\nRARE-"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(lined, min_docs=3)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "kept_lines",
        "removed_lines",
    )


BOILERPLATE_SQL = r"""
with lined as (
  select doc_id,
         'NAV ' || lang || chr(10) || text
         || case when doc_id % 2 = 0 then chr(10) || 'FOOTER ' || source
                 else '' end
         || case when doc_id % 97 = 0 then chr(10) || 'RARE-' || cast(doc_id as varchar)
                 else '' end as text
  from documents),
lines as (
  select doc_id,
         unnest(range(len(string_split(text, chr(10))))) as pos,
         unnest(string_split(text, chr(10))) as line
  from lined),
heavy as (
  select trim(line) as norm
  from lines where trim(line) <> ''
  group by 1 having count(distinct doc_id) >= 3),
kept as (
  select * from lines l
  where not exists (select 1 from heavy h where h.norm = trim(l.line))),
agg as (
  select doc_id,
         string_agg(line, chr(10) order by pos) as clean_text,
         count(*) as kept_lines
  from kept group by doc_id),
tot as (select doc_id, count(*) as total from lines group by doc_id)
select t.doc_id,
       md5(coalesce(a.clean_text, '')) as clean_md5,
       coalesce(a.kept_lines, 0) as kept_lines,
       t.total - coalesce(a.kept_lines, 0) as removed_lines
from tot t left join agg a on t.doc_id = a.doc_id
"""


def corpus_token_budget(spark, sf_dir):
    """Greedy corpus selection under a global token budget
    (extensions/curation.py: select_token_budget): walk docs in
    (n_chars desc, doc_id) order, keep while the inclusive running
    whitespace-token total fits 20,000. The engine computes the running
    total with the distributed prefix-sum (no single-task window); the
    oracle is the naive single-window SQL — equality proves the
    two-phase plan computes the same cumsum."""
    from sqlbackuphistoryetl_spark.extensions.curation import select_token_budget
    from sqlbackuphistoryetl_spark.functions.textfns import whitespace_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", whitespace_token_count("text").alias("n_tok")
    )
    out = select_token_budget(docs, 20000, "n_tok", "n_chars", "doc_id")
    return out.select("doc_id", "n_tok", "cum_tokens")


TOKEN_BUDGET_SQL = r"""
with d as (
  select doc_id, n_chars,
         len(regexp_extract_all(text, '\S+')) as n_tok
  from documents),
c as (
  select doc_id, n_tok,
         sum(n_tok) over (order by n_chars desc, doc_id
                          rows between unbounded preceding and current row)
           as cum_tokens
  from d)
select doc_id, n_tok, cast(cum_tokens as bigint) as cum_tokens
from c where cum_tokens <= 20000
"""


def temperature_lang_sample(spark, sf_dir):
    """α=0.5 temperature sampling over languages
    (extensions/curation.py: temperature_sample, target 150 docs):
    dominant languages are downsampled ∝ sqrt(count)/count, rare ones
    kept whole. Rates derive from exact integer weights
    floor(sqrt(count·1e12)) + one IEEE division, and the per-row draw
    is the md5 key — the oracle recomputes the identical rates and
    draws in SQL, so membership matches row-for-row."""
    from sqlbackuphistoryetl_spark.extensions.curation import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, "lang", 150, "doc_id", salt="temp0")
    return out.select("doc_id", "lang")


TEMPERATURE_SCALE_CTE = """
mx as (select max(cnt) as m from c),
sc as (select case
         when m * 1e12 < 9007199254740992.0 then 1e12
         when m * 1e10 < 9007199254740992.0 then 1e10
         when m * 1e8  < 9007199254740992.0 then 1e8
         when m * 1e6  < 9007199254740992.0 then 1e6
         when m * 1e4  < 9007199254740992.0 then 1e4
         when m * 1e2  < 9007199254740992.0 then 1e2
         else 1e0 end as s from mx)"""
# Mirrors temperature_rates' scale step-down (curation.py: scale /= 1e2
# while max(count)·scale ≥ 2^53) so the oracle derives the identical
# integer weights at any corpus size — a hardcoded 1e12 diverged once any
# group count reached ~9007 (r3 ADVICE). 1e12/1e2 divisions are exact in
# doubles, so the CASE ladder reproduces the Python loop bit-for-bit.

TEMPERATURE_SQL = f"""
with c as (select lang, count(*) as cnt from documents group by 1),
{TEMPERATURE_SCALE_CTE},
w as (select lang, cnt,
             cast(floor(sqrt(cnt * sc.s)) as bigint) as wq
      from c cross join sc),
r as (select lang, cnt, wq, sum(wq) over () as denom from w),
rt as (select lang,
              least(1.0, cast(150 * wq as double) / cast(denom * cnt as double))
                as rate
       from r),
thr as (select lang,
               case when rate >= 1.0 then 'g'
                    else lpad(lower(to_hex(cast(floor(rate * 4294967296.0)
                                               as bigint))), 8, '0') end as t
        from rt)
select d.doc_id, d.lang
from documents d join thr on d.lang = thr.lang
where substr(md5('temp0' || '|' || cast(d.doc_id as varchar)), 1, 8) < thr.t
"""


def temperature_lang_sample_a25(spark, sf_dir):
    """α=0.25 variant of the temperature gate: weights are
    floor(sqrt(sqrt(count·1e12))·…) — the COMPOSED-sqrt determinism
    claim (curation.py: _pow_alpha) proven cross-engine: DuckDB runs
    the identical two correctly-rounded sqrts and must select the
    identical rows."""
    from sqlbackuphistoryetl_spark.extensions.curation import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, "lang", 150, "doc_id", salt="temp25",
                             alpha=0.25)
    return out.select("doc_id", "lang")


TEMPERATURE_A25_SQL = f"""
with c as (select lang, count(*) as cnt from documents group by 1),
{TEMPERATURE_SCALE_CTE},
w as (select lang, cnt,
             cast(floor(sqrt(sqrt(cnt * sc.s))) as bigint) as wq
      from c cross join sc),
r as (select lang, cnt, wq, sum(wq) over () as denom from w),
rt as (select lang,
              least(1.0, cast(150 * wq as double) / cast(denom * cnt as double))
                as rate
       from r),
thr as (select lang,
               case when rate >= 1.0 then 'g'
                    else lpad(lower(to_hex(cast(floor(rate * 4294967296.0)
                                               as bigint))), 8, '0') end as t
        from rt)
select d.doc_id, d.lang
from documents d join thr on d.lang = thr.lang
where substr(md5('temp25' || '|' || cast(d.doc_id as varchar)), 1, 8) < thr.t
"""


def train_val_test_split(spark, sf_dir):
    """Deterministic hash train/val/test assignment (extensions/
    curation.py: assign_split, 90/5/5): a doc's split is a pure function
    of (doc_id, salt) so growing the corpus never moves existing docs
    between splits. Oracle replays the same cumulative md5 thresholds."""
    from sqlbackuphistoryetl_spark.extensions.curation import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id", salt="split0").select(
        "doc_id", "lang", "split"
    )


def _split_sql() -> str:
    from sqlbackuphistoryetl_spark.extensions.curation import _rate_to_hex

    t_train = _rate_to_hex(0.9)
    t_val = _rate_to_hex(0.9 + 0.05)  # same float accumulation as assign_split
    return f"""
select doc_id, lang,
       case when substr(md5('split0' || '|' || cast(doc_id as varchar)), 1, 8)
                 < '{t_train}' then 'train'
            when substr(md5('split0' || '|' || cast(doc_id as varchar)), 1, 8)
                 < '{t_val}' then 'val'
            else 'test' end as split
from documents
"""


def event_sessionization(spark, sf_dir):
    """Gap-based sessionization of the events stream (operators/
    sessionize.py: session_stats, 6 h idle gap): lag marks session
    starts, a running sum numbers sessions, one aggregate summarizes —
    all on a single user_id shuffle. Session value totals are exact
    integer cents (the repo-wide float-SUM rule)."""
    from sqlbackuphistoryetl_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    out = session_stats(ev, gap_minutes=360)
    return out.select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", "value_cents",
    )


SESSION_SQL = """
with o as (
  select user_id, event_id, ts, value,
         lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
  from events),
m as (
  select user_id, event_id, ts, value,
         case when prev_ts is null
                   or date_diff('second', prev_ts, ts) > 360 * 60
              then 1 else 0 end as is_new
  from o),
s as (
  select user_id, ts, value,
         sum(is_new) over (partition by user_id order by ts, event_id
                           rows between unbounded preceding and current row)
           as session_seq
  from m)
select user_id, cast(session_seq as bigint) as session_seq,
       min(ts) as session_start, max(ts) as session_end,
       count(*) as n_events,
       cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint)
         as value_cents
from s group by user_id, session_seq
"""


def char_entropy_quality(spark, sf_dir):
    """Character-level Shannon entropy + diversity signals
    (functions/textfns.py: char_entropy_profile). The Σ c·log2(c) term
    is per-character-quantized to integers before summing (order-free,
    engine-exact); log2 follows the tfidf transcendental precedent —
    round(6) on both sides, verified over every arising count by the
    oracle compare."""
    from sqlbackuphistoryetl_spark.functions.textfns import char_entropy_profile

    docs = _t(spark, sf_dir, "documents")
    out = char_entropy_profile(docs)
    return out.select(
        "doc_id", "n_chars_counted", "distinct_chars",
        F.round("max_char_ratio", 6).alias("max_char_ratio"),
        F.round("entropy_bits", 6).alias("entropy_bits"),
    )


ENTROPY_SQL = """
with chars as (
  select doc_id,
         unnest(list_transform(range(length(text)),
                               i -> substr(text, cast(i as int) + 1, 1))) as ch
  from documents),
cnt as (select doc_id, ch, count(*) as c from chars group by 1, 2),
per as (
  select doc_id,
         cast(sum(c) as bigint) as n_chars_counted,
         count(*) as distinct_chars,
         max(c) as maxc,
         sum(cast(floor(cast(c as double) * log2(cast(c as double)) * 1e6 + 0.5)
                  as bigint)) as s
  from cnt group by doc_id)
select doc_id, n_chars_counted, distinct_chars,
       round(cast(maxc as double) / cast(n_chars_counted as double), 6)
         as max_char_ratio,
       round(log2(cast(n_chars_counted as double))
             - (cast(s as double) / 1e6) / cast(n_chars_counted as double), 6)
         as entropy_bits
from per
"""


def unigram_surprisal(spark, sf_dir):
    """Mean per-token surprisal under the corpus's own unigram model
    (functions/textfns.py: unigram_surprisal_score) — the cheap
    perplexity-style quality filter. Per-term surprisal quantized to
    integer micro-bits from exact corpus counts (tfidf transcendental
    precedent), summed exactly; mean rounded to 6 dp both sides."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        unigram_surprisal_score,
    )

    docs = _t(spark, sf_dir, "documents")
    out = unigram_surprisal_score(docs)
    return out.select(
        "doc_id", "n_tok",
        F.round("mean_surprisal_bits", 6).alias("mean_surprisal_bits"),
    )


SURPRISAL_SQL = r"""
with toks as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            s -> s <> '')) as term
  from documents),
tf as (select doc_id, term, count(*) as tf from toks group by 1, 2),
model as (select term, sum(tf) as ctf from tf group by 1),
grand as (select sum(ctf) as total from model),
sc as (
  select tf.doc_id, tf.tf,
         cast(floor((log2(cast(total as double)) - log2(cast(ctf as double)))
                    * 1e6 + 0.5) as bigint) as sq
  from tf join model using (term) cross join grand)
select doc_id, cast(sum(tf) as bigint) as n_tok,
       round((cast(sum(tf * sq) as double) / 1e6) / cast(sum(tf) as double), 6)
         as mean_surprisal_bits
from sc group by doc_id
"""


def length_outlier_trim(spark, sf_dir):
    """Per-language robust outlier fence median ± 1.5·MAD over doc
    length (extensions/curation.py: trim_outliers): survivors only.
    Exact percentile == quantile_cont on integer inputs (the
    token_percentiles precedent); fence arithmetic is single IEEE ops
    on those identical scalars."""
    from sqlbackuphistoryetl_spark.extensions.curation import trim_outliers

    docs = _t(spark, sf_dir, "documents")
    out = trim_outliers(docs, "lang", "n_chars", k=1.5)
    return out.select("doc_id", "lang", "n_chars")


OUTLIER_TRIM_SQL = """
with med as (
  select lang, quantile_cont(n_chars, 0.5) as med from documents group by 1),
mad as (
  select d.lang, any_value(med) as med,
         quantile_cont(abs(cast(n_chars as double) - med), 0.5) as mad
  from documents d join med using (lang) group by d.lang)
select d.doc_id, d.lang, d.n_chars
from documents d join mad using (lang)
where cast(d.n_chars as double) >= med - 1.5 * mad
  and cast(d.n_chars as double) <= med + 1.5 * mad
"""


def domain_cap_topn(spark, sf_dir):
    """RefinedWeb-style per-domain cap (extensions/curation.py:
    cap_per_group): at most 5 docs per source, best-first by
    (n_chars desc, doc_id) — a total order, so the cap boundary is
    deterministic. Spark's WindowGroupLimit rewrite bounds each
    upstream partition's shipment to n rows pre-shuffle."""
    from sqlbackuphistoryetl_spark.extensions.curation import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    out = cap_per_group(docs, "source", 5, ["-n_chars", "doc_id"])
    return out.select("doc_id", "source", "n_chars")


DOMAIN_CAP_SQL = """
select doc_id, source, n_chars from (
  select doc_id, source, n_chars,
         row_number() over (partition by source
                            order by n_chars desc, doc_id) as rk
  from documents) where rk <= 5
"""


def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel over the events stream (operators/sessionize.py:
    funnel_conversion): per user, the greedy earliest strictly-
    increasing view → click → purchase chain, as ONE user-keyed
    aggregate + a codegen'd fold (no per-step self-join cascade). The
    oracle computes the identical chain with the nested-min CTE form —
    equality proves the fold implements the greedy semantics. The gate
    runs the funnel on epoch-µs BIGINT event times (the operator is
    ts-type-generic) so the emitted step times are identical however the
    driver's session reads/renders timestamps."""
    from sqlbackuphistoryetl_spark.operators.sessionize import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", _ts_us(ev, "ts"))
    return funnel_conversion(ev, ["view", "click", "purchase"], ts_col="ts_us")


FUNNEL_STEPS_SQL = """
with ev as (select user_id, event_type, epoch_us(ts) as ts_us from events),
a as (select user_id, min(ts_us) as t0 from ev
      where event_type = 'view' group by 1),
b as (select e.user_id, min(e.ts_us) as t1 from ev e join a using (user_id)
      where e.event_type = 'click' and e.ts_us > a.t0 group by 1),
c as (select e.user_id, min(e.ts_us) as t2 from ev e join b using (user_id)
      where e.event_type = 'purchase' and e.ts_us > b.t1 group by 1)
select u.user_id, a.t0 as step_0_ts, b.t1 as step_1_ts, c.t2 as step_2_ts,
       cast(a.t0 is not null as int) + cast(b.t1 is not null as int)
         + cast(c.t2 is not null as int) as steps_completed
from (select distinct user_id from ev) u
left join a using (user_id)
left join b using (user_id)
left join c using (user_id)
"""


def rag_chunking(spark, sf_dir):
    """Overlapping character-window chunking for RAG ingestion
    (extensions/curation.py: chunk_documents; 120-char chunks, 20
    overlap). Map-side sequence+substring — the oracle rebuilds the
    identical windows, proving offsets, ragged tails, and the
    shorter-than-overlap clamp."""
    from sqlbackuphistoryetl_spark.extensions.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_chars=120, overlap=20)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


RAG_CHUNK_SQL = """
with d as (select doc_id, text, length(text) as L from documents),
n as (select doc_id, text,
             case when L <= 0 then 0
                  else greatest(1, (L - 20 + 99) // 100) end as nc
      from d),
c as (select doc_id, text, unnest(range(nc)) as cid from n)
select doc_id, cast(cid as int) as chunk_id,
       cast(cid * 100 as int) as chunk_start,
       md5(substr(text, cast(cid * 100 as int) + 1, 120)) as chunk_md5
from c
"""


def corpus_report(spark, sf_dir):
    """Per-(lang, source) corpus accounting — the summary table every
    curation run publishes. One hash-aggregate with map-side partials;
    token totals are exact integers."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(n_tok.cast("long")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


CORPUS_REPORT_SQL = r"""
select lang, source, count(*) as n_docs,
       cast(sum(n_chars) as bigint) as total_chars,
       cast(sum(len(regexp_extract_all(text, '\S+'))) as bigint)
         as total_tokens,
       min(n_chars) as min_chars, max(n_chars) as max_chars
from documents group by lang, source order by lang, source
"""


def script_composition(spark, sf_dir):
    """Per-doc writing-script composition + dominant label
    (functions/textfns.py: script_profile) — Unicode-range regexp
    counts, Java-regex/RE2-portable (the PII-chain rule); lengths are
    UTF-16-code-unit == codepoint on the BMP-only gate corpus, and the
    oracle verifies the counts char-for-char."""
    from sqlbackuphistoryetl_spark.functions.textfns import script_profile

    docs = _t(spark, sf_dir, "documents")
    return script_profile(docs).select(
        "doc_id", "n_latin", "n_cjk", "n_digit", "n_space", "n_other",
        "dominant_script",
    )


SCRIPT_SQL = r"""
with c as (
  select doc_id,
         len(regexp_extract_all(text, '[A-Za-zÀ-ɏ]')) as n_latin,
         len(regexp_extract_all(text, '[一-鿿぀-ヿ가-힯]')) as n_cjk,
         len(regexp_extract_all(text, '[0-9]')) as n_digit,
         len(regexp_extract_all(text, '\s')) as n_space,
         length(text) as n
  from documents)
select doc_id, n_latin, n_cjk, n_digit, n_space,
       n - n_latin - n_cjk - n_digit - n_space as n_other,
       case when n_latin >= n_cjk and n_latin >= n_digit and n_latin > 0
                 then 'latin'
            when n_cjk >= n_digit and n_cjk > 0 then 'cjk'
            when n_digit > 0 then 'digit'
            else 'other' end as dominant_script
from c
"""


def semantic_decontam(spark, sf_dir):
    """Embedding-space benchmark decontamination (extensions/
    similarity.py: embedding_cross_contamination): vec_id < 25 plays
    the benchmark set; every corpus vector with cosine ≥ 0.35 against
    any bench vector is flagged. Same 100%-recall construction as
    ``embedding_near_dup`` (32 planes / 2-bit bands recover every pair
    at ≥ 0.35 on the gate corpora); the exact-cosine filter makes the
    output equal the exact cross product — oracle = recall gate."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        embedding_cross_contamination,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 25)
    corpus = emb.filter(F.col("vec_id") >= 25)
    out = embedding_cross_contamination(
        corpus, bench, threshold=0.35, planes=32, band_bits=2
    )
    return out.select(
        "corpus_id", "bench_id", F.round("cosine", 6).alias("cosine")
    )


SEMANTIC_DECONTAM_SQL = """
with p as (
  select c.vec_id as corpus_id, b.vec_id as bench_id,
         list_cosine_similarity(c.embedding::double[], b.embedding::double[]) as cos
  from embeddings c join embeddings b
    on c.vec_id >= 25 and b.vec_id < 25)
select corpus_id, bench_id, round(cos, 6) as cosine
from p where cos >= 0.35
"""


def weighted_sample_docs(spark, sf_dir):
    """Weight-proportional sampling without replacement
    (extensions/sampling.py: weighted_sample_k — Efraimidis–Spirakis
    keys ln(u)/w from the deterministic md5 draw): 100 docs weighted by
    length. The oracle replays the identical key computation; ties are
    impossible (md5) and both engines order the same doubles."""
    from sqlbackuphistoryetl_spark.extensions.sampling import weighted_sample_k

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_k(docs, 100, "n_chars", "doc_id", salt="w0")
    return out.select("doc_id", "n_chars")


WEIGHTED_SAMPLE_SQL = """
with keyed as (
  select doc_id, n_chars,
         ln((('0x' || substr(md5('w0' || '|' || cast(doc_id as varchar)),
                             1, 8))::ubigint + 1.0) / 4294967297.0)
           / cast(n_chars as double) as wkey
  from documents where n_chars > 0)
select doc_id, n_chars from keyed
order by wkey desc, doc_id asc limit 100
"""


def dedup_cluster_histogram(spark, sf_dir):
    """Duplicate-group size distribution — the one-glance severity
    report of a dedup run (many big clusters = template spam; all
    pairs = benign near-dups). Same components as ``dedup_clusters``,
    reduced to (cluster_size, n_clusters)."""
    from sqlbackuphistoryetl_spark.extensions.clustering import (
        connected_components,
    )
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_jaccard_all_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_all_pairs(
        docs, text_col="text", id_col="doc_id", max_gram_df=64
    ).filter(F.col("jaccard") >= 0.05)
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


CLUSTER_HIST_SQL = (
    DEDUP_CLUSTERS_SQL.replace(
        "select src as doc_id, least(src, min(dst)) as cluster_id\n"
        "from reach group by src order by doc_id",
        """, comp as (
  select src as doc_id, least(src, min(dst)) as cluster_id
  from reach group by src),
sizes as (select cluster_id, count(*) as cluster_size from comp group by 1)
select cluster_size, count(*) as n_clusters
from sizes group by cluster_size order by cluster_size""",
    )
)


def embedding_covariance(spark, sf_dir):
    """Distributed-PCA sufficient statistics (extensions/similarity.py:
    covariance_sums): every upper-triangle Σ xq_i·xq_j plus per-dim
    sums and the count, as exact quantized integers from ONE corpus
    pass (nested-transform product generation + a single map-side-
    partial hash-agg; the shuffle carries O(d²) longs per partition).
    The oracle rebuilds the same sums via a per-vector component
    self-join — equality proves the no-join plan."""
    from sqlbackuphistoryetl_spark.extensions.similarity import covariance_sums

    emb = _t(spark, sf_dir, "embeddings").repartition(32, "vec_id")
    return covariance_sums(emb).select("i", "j", "s")


COVARIANCE_SQL = """
with comps as (
  select vec_id,
         unnest(range(len(embedding))) as i,
         unnest(list_transform(embedding,
                x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)))
           as xq
  from embeddings),
prods as (
  select cast(a.i as int) as i, cast(b.i as int) as j,
         cast(sum(a.xq * b.xq) as bigint) as s
  from comps a join comps b on a.vec_id = b.vec_id and b.i >= a.i
  group by 1, 2),
dims as (
  select cast(i as int) as i, -1 as j, cast(sum(xq) as bigint) as s
  from comps group by 1),
cnt as (select -1 as i, -1 as j, count(distinct vec_id) as s from comps)
select i, j, s from prods
union all select i, j, s from dims
union all select i, j, s from cnt
"""


# ---------------- round-6 additions: spans / SemDeDup / Gopher rules


def dup_window_spans(spark, sf_dir):
    """Exact duplicated-substring spans, the sliding-window form of
    Lee et al. 2022 (extensions/dedup.py:duplicated_window_spans):
    every corpus-duplicated 6-token window is marked and adjacent hits
    merge into maximal NON-OVERLAPPING spans via a lag() interval-merge
    (same group iff pos − prev_pos <= window length; r6 advice fix) —
    identical arithmetic both engines, so the gate is integer-exact
    (positions and counts only, no floats)."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        duplicated_window_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return duplicated_window_spans(docs, window_tokens=6, min_occurrences=2)


DUP_SPANS_SQL = r"""
with toks as (
  select doc_id, regexp_split_to_array(trim(lower(text)), '\s+') as t
  from documents),
pos as (
  select doc_id, t, unnest(range(len(t) - 5)) as p
  from toks where len(t) >= 6),
wins as (
  select doc_id, cast(p as int) as pos,
         array_to_string(t[p+1 : p+6], ' ') as win
  from pos),
dup as (select win from wins group by win having count(*) >= 2),
hits as (select w.doc_id, w.pos from wins w join dup d using (win)),
isl as (
  select doc_id, pos,
         case when pos - lag(pos) over (partition by doc_id order by pos)
                   <= 6 then 0 else 1 end as newg
  from hits),
grps as (
  select doc_id, pos,
         sum(newg) over (partition by doc_id order by pos
                         rows unbounded preceding) as grp
  from isl)
select doc_id,
       min(pos) as span_start,
       max(pos) + 5 as span_end,
       max(pos) - min(pos) + 6 as span_tokens,
       cast(count(*) as int) as n_windows
from grps
group by doc_id, grp
"""


def semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with the oracle-replicable strata
    quantizer (extensions/similarity.py:strata_centroids): md5-min
    pseudo-random centroid per id-modulo stratum, map-side argmax-cosine
    assignment, prune iff a lower-id same-cell neighbor has cosine >=
    0.35 (the corpus's near-dup bar — see embedding_near_dup). Output
    is fully discrete (id, cell, keep): assignment/threshold near-ties
    between double-precision engines would need two cosines within
    ~1e-15, which the synthetic corpus cannot produce."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        semdedup_prune as _prune,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return _prune(emb, k_clusters=16, threshold=0.35)


SEMDEDUP_SQL = """
with cents as (
  select cast(vec_id % 16 as int) as cell,
         min_by(embedding, md5(cast(vec_id as varchar))) as centroid
  from embeddings group by 1),
scored as (
  select e.vec_id, e.embedding, c.cell,
         list_cosine_similarity(e.embedding::double[],
                                c.centroid::double[]) as cos
  from embeddings e cross join cents c),
assigned as (
  select vec_id, embedding, cell from (
    select *, row_number() over (partition by vec_id
                                 order by cos desc, cell) as rn
    from scored) where rn = 1),
pruned as (
  select distinct b.vec_id as pid
  from assigned a join assigned b
    on a.cell = b.cell and a.vec_id < b.vec_id
  where list_cosine_similarity(a.embedding::double[],
                               b.embedding::double[]) >= 0.35)
select a.vec_id, a.cell, (p.pid is null) as keep
from assigned a left join pruned p on a.vec_id = p.pid
"""


def embed_hashed_text(spark, sf_dir):
    """Feature-hashed n-gram text embeddings (extensions/similarity.py:
    embed_hashed_text, r12 — Weinberger et al. 2009): unigrams+bigrams
    hash to md5[0:8] mod 16 with a ±1 sign from the 9th md5 nibble,
    signed integer counts per bucket, L2-normalized dense array. The
    output explodes the vector to (doc_id, bucket, n_grams, val) rows
    so each element value-checks individually; every element is a
    single correctly-rounded divide of exact integers (signed count /
    sqrt(integer sum of squares)), so the doubles are BIT-identical
    between engines — a bucketing, sign, assembly-order or
    normalization bug flips concrete cells."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        embed_hashed_text,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = embed_hashed_text(docs, dim=16)
    return emb.select(
        "doc_id", "n_grams", F.posexplode("embedding").alias("bucket", "val")
    ).select("doc_id", F.col("bucket").cast("int").alias("bucket"),
             "n_grams", "val")


EMBED_HASHED_SQL = r"""
with w as (select doc_id, regexp_extract_all(text, '\S+') as ws
           from documents),
g as (
  select doc_id, unnest(ws) as gram from w
  union all
  select doc_id, ws[i] || ' ' || ws[i+1] as gram
  from w, unnest(generate_series(1, len(ws)-1)) as t(i)),
f as (
  select doc_id,
         ('0x' || substr(md5(gram),1,8))::bigint % 16 as bucket,
         case when substr(md5(gram),9,1)
                   in ('0','1','2','3','4','5','6','7')
              then 1 else -1 end as s
  from g),
sp as (select doc_id, bucket, sum(s) as v, count(*) as n
       from f group by 1, 2),
agg as (select doc_id, sum(n) as n_grams, sum(v*v) as ss
        from sp group by 1)
select d.doc_id,
       cast(t.i as int) as bucket,
       cast(coalesce(a.n_grams, 0) as bigint) as n_grams,
       case when coalesce(a.ss, 0) > 0
            then coalesce(sp.v, 0)::double / sqrt(a.ss::double)
            else 0.0 end as val
from documents d
cross join generate_series(0, 15) as t(i)
left join agg a on a.doc_id = d.doc_id
left join sp on sp.doc_id = d.doc_id and sp.bucket = t.i
"""

def semdedup_text_prune(spark, sf_dir):
    """The text→vector bridge composed with SemDeDup end-to-end
    (r12): raw document text → embed_hashed_text(dim=64) → the same
    semdedup_prune chain the embeddings-fixture gate runs (strata
    quantizer, argmax-cosine assignment, lower-id same-cell prune).
    Threshold 0.90 sits in a measured empty band of the same-cell
    cosine distribution (nearest pairs 0.857 / 0.952 at both driver
    scales), so engine-vs-oracle float noise (~1e-15) can never flip
    a verdict; exact assignment ties (duplicate texts minting
    identical centroids in two cells) break on the shared
    ``cell asc`` rule over bit-identical cosines.

    k follows the published SemDeDup sizing rule — clusters stay
    ~300 docs so the intra-cell pair stage is linear-ish in the
    corpus, not quadratic: k = max(16, n // 312). At BOTH oracle
    scales this resolves to the margin-verified k = 16 (the oracle's
    literal); at bench sf0.1 it gives k = 160 (the r12 bench measured
    k=16 at 50k docs costing ~78M pair cosines / 31.7 s — the exact
    failure mode the paper's sizing rule exists to prevent)."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        embed_hashed_text,
        semdedup_prune as _prune,
    )

    docs = _t(spark, sf_dir, "documents")
    k = max(16, docs.count() // 312)
    emb = embed_hashed_text(docs, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    # pin the embedded vectors: semdedup's centroid election +
    # assignment + BOTH sides of the intra-cell pair join would
    # otherwise re-run the gram explosion 4x (measured 27.5 s -> 12 s
    # at sf0.1)
    emb = emb.localCheckpoint(eager=True)
    return _prune(emb, k_clusters=k, threshold=0.90)


SEMDEDUP_TEXT_SQL = r"""
with w as (select doc_id, regexp_extract_all(text, '\S+') as ws
           from documents),
g as (
  select doc_id, unnest(ws) as gram from w
  union all
  select doc_id, ws[i] || ' ' || ws[i+1] as gram
  from w, unnest(generate_series(1, len(ws)-1)) as t(i)),
f as (
  select doc_id,
         ('0x' || substr(md5(gram),1,8))::bigint % 64 as bucket,
         case when substr(md5(gram),9,1)
                   in ('0','1','2','3','4','5','6','7')
              then 1 else -1 end as s
  from g),
sp as (select doc_id, bucket, sum(s) as v from f group by 1, 2),
agg as (select doc_id, sum(v*v) as ss from sp group by 1),
dense as (
  select a.doc_id,
         list(coalesce(sp.v,0)::double / sqrt(a.ss::double)
              order by t.i) as vec
  from agg a
  cross join generate_series(0, 63) as t(i)
  left join sp on sp.doc_id = a.doc_id and sp.bucket = t.i
  group by a.doc_id),
cents as (
  select cast(doc_id % 16 as int) as cell,
         min_by(vec, md5(cast(doc_id as varchar))) as centroid
  from dense group by 1),
scored as (
  select d.doc_id, d.vec, c.cell,
         list_cosine_similarity(d.vec, c.centroid) as cos
  from dense d cross join cents c),
assigned as (
  select doc_id, vec, cell from (
    select *, row_number() over (partition by doc_id
                                 order by cos desc, cell) as rn
    from scored) where rn = 1),
pruned as (
  select distinct b.doc_id as pid
  from assigned a join assigned b
    on a.cell = b.cell and a.doc_id < b.doc_id
  where list_cosine_similarity(a.vec, b.vec) >= 0.90)
select a.doc_id as vec_id, a.cell, (p.pid is null) as keep
from assigned a left join pruned p on a.doc_id = p.pid
"""

def fineweb_quality(spark, sf_dir):
    """The three FineWeb custom heuristics (Penedo et al. 2024 §3.6;
    functions/textfns.py:fineweb_quality_flags): line-punctuation
    floor, short-line ceiling, duplicated-line character-mass ceiling.
    All integer stats + cross-multiplied flags — engine-exact, no
    rounding doctrine. One map-side codegen pass.

    The gate corpus is line-structured deterministically on BOTH sides
    (the boilerplate-gate pattern — the raw synthetic docs are one
    unpunctuated line, which would pin every flag constant): a nav
    header line, 5-word body lines with a period on every
    (i + doc_id) % 7 == 0 line (straddles the 0.12 punct floor), and a
    duplicated nav footer on even doc_ids (feeds dup_line_chars)."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        fineweb_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.expr(
            """
            concat(
              concat_ws('\n', 'NAV MENU',
                transform(
                  sequence(0,
                           cast(floor((size(split(text, ' ')) - 1) / 5)
                                as int)),
                  i -> concat(
                         concat_ws(' ', slice(split(text, ' '), i * 5 + 1, 5)),
                         case when (i + doc_id) % 7 = 0 then '.'
                              else '' end))),
              case when doc_id % 2 = 0 then '\nNAV MENU' else '' end)
            """
        ).alias("text"),
    )
    return lined.select("doc_id", *fineweb_quality_flags("text"))


FINEWEB_SQL = r"""
with w as (
  select doc_id, string_split(text, ' ') as ws from documents),
lined as (
  select doc_id,
         'NAV MENU' || chr(10)
         || array_to_string(
              list_transform(
                range(0, cast(floor((len(ws) - 1) / 5) as int) + 1),
                i -> array_to_string(ws[i * 5 + 1 : i * 5 + 5], ' ')
                     || case when (i + doc_id) % 7 = 0 then '.'
                             else '' end),
              chr(10))
         || case when doc_id % 2 = 0 then chr(10) || 'NAV MENU'
                 else '' end as text
  from w),
base as (
  select doc_id, string_split(text, chr(10)) as lines
  from lined),
stats as (
  select doc_id,
         cast(len(lines) as bigint) as n_lines,
         cast(len(list_filter(lines,
              l -> regexp_matches(rtrim(l), '[.!?"'']$'))) as bigint)
           as n_punct_lines,
         cast(len(list_filter(lines, l -> length(l) < 30)) as bigint)
           as n_short_lines,
         cast(coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
              as bigint) as line_chars,
         cast(coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
              - coalesce(list_sum(list_transform(list_distinct(lines),
                                                 l -> length(l))), 0)
              as bigint) as dup_line_chars
  from base)
select doc_id, n_lines, n_punct_lines, n_short_lines, line_chars,
       dup_line_chars,
       100 * n_punct_lines >= 12 * n_lines as r_line_punct,
       100 * n_short_lines <= 67 * n_lines as r_short_lines,
       10 * dup_line_chars <= line_chars as r_dup_line_chars,
       (100 * n_punct_lines >= 12 * n_lines)
         and (100 * n_short_lines <= 67 * n_lines)
         and (10 * dup_line_chars <= line_chars) as pass_fineweb
from stats
"""


def gopher_quality(spark, sf_dir):
    """The published Gopher/MassiveText rule set as one map-side pass
    (functions/textfns.py:gopher_quality_flags). Every threshold is an
    integer cross-multiplication (no float division anywhere), so the
    composite is engine-exact with zero rounding doctrine. On this
    synthetic corpus the 2-of-8 stopword floor never passes (the vocab
    carries only 'the'); n_stop_distinct still varies 0/1 and is
    value-checked."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        gopher_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *gopher_quality_flags("text"))


GOPHER_SQL = r"""
with base as (
  select doc_id,
         len(regexp_extract_all(text, '\S+')) as nw,
         length(regexp_replace(text, '\s', '', 'g')) as nns,
         length(text) - length(replace(text, '#', '')) as nh,
         len(regexp_extract_all(text, '(\.\.\.|…)')) as ne,
         len(regexp_split_to_array(text, '\n')) as nl,
         len(list_filter(regexp_split_to_array(text, '\n'),
                         l -> regexp_matches(l, '^\s*[-*•]'))) as nb,
         len(list_filter(regexp_split_to_array(text, '\n'),
                         l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) as nee,
         len(list_filter(regexp_extract_all(text, '\S+'),
                         w -> regexp_matches(w, '[a-zA-Z]'))) as na,
         (cast(regexp_matches(lower(text), '\bthe\b') as int)
          + cast(regexp_matches(lower(text), '\bbe\b') as int)
          + cast(regexp_matches(lower(text), '\bto\b') as int)
          + cast(regexp_matches(lower(text), '\bof\b') as int)
          + cast(regexp_matches(lower(text), '\band\b') as int)
          + cast(regexp_matches(lower(text), '\bthat\b') as int)
          + cast(regexp_matches(lower(text), '\bhave\b') as int)
          + cast(regexp_matches(lower(text), '\bwith\b') as int)) as nsd
  from documents),
flags as (
  select doc_id, nw, nsd,
         (nw >= 50 and nw <= 100000) as r_word_count,
         (nw > 0 and 3*nw <= nns and nns <= 10*nw) as r_mean_word_len,
         (nw > 0 and 10*(nh + ne) <= nw) as r_symbol_ratio,
         (10*nb <= 9*nl) as r_bullet_lines,
         (10*nee <= 3*nl) as r_ellipsis_lines,
         (nw > 0 and 5*na >= 4*nw) as r_alpha_words,
         (nsd >= 2) as r_stopwords
  from base)
select doc_id, nw as n_words, nsd as n_stop_distinct,
       r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
       r_ellipsis_lines, r_alpha_words, r_stopwords,
       (r_word_count and r_mean_word_len and r_symbol_ratio
        and r_bullet_lines and r_ellipsis_lines and r_alpha_words
        and r_stopwords) as pass_gopher
from flags
"""

def gopher_repetition(spark, sf_dir):
    """The repetition half of the published Gopher filter (Rae et al.
    2021, table A1): duplicate line/paragraph fractions (element + char
    mass), top 2/3/4-gram char fractions, repeated 5..10-gram coverage
    (functions/textfns.py:gopher_repetition). Every stat is an integer
    and every flag an integer cross-multiplication, so the row is
    engine-exact end to end. Coverage is DISTINCT-position based (the
    declarative form), not the order-dependent greedy scan some
    reimplementations use — documented at the function."""
    from sqlbackuphistoryetl_spark.functions.textfns import (
        gopher_repetition as _rep,
    )

    docs = _t(spark, sf_dir, "documents")
    return _rep(docs)


GOPHER_REPETITION_SQL = r"""
with base as (
  select doc_id,
         regexp_extract_all(text, '\S+') as words,
         regexp_split_to_array(text, '\n') as lines,
         regexp_split_to_array(text, '\n{2,}') as paras,
         cast(length(regexp_replace(text, '\s', '', 'g')) as bigint) as nns
  from documents),
mapside as (
  select doc_id, nns,
         cast(len(words) as bigint) as n_words,
         cast(len(lines) as bigint) as n_lines,
         cast(len(lines) - len(list_distinct(lines)) as bigint) as dup_lines,
         cast(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
              as bigint) as line_chars,
         cast(coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
            - coalesce(list_sum(list_transform(list_distinct(lines),
                                               x -> length(x))), 0)
              as bigint) as dup_line_chars,
         cast(len(paras) as bigint) as n_paras,
         cast(len(paras) - len(list_distinct(paras)) as bigint) as dup_paras,
         cast(coalesce(list_sum(list_transform(paras, x -> length(x))), 0)
              as bigint) as para_chars,
         cast(coalesce(list_sum(list_transform(paras, x -> length(x))), 0)
            - coalesce(list_sum(list_transform(list_distinct(paras),
                                               x -> length(x))), 0)
              as bigint) as dup_para_chars
  from base),
grams as (
  select doc_id, n, p,
         array_to_string(words[p : p + n - 1], ' ') as gram
  from (
    select b.doc_id, nn.n, b.words,
           unnest(generate_series(1, len(b.words) - nn.n + 1)) as p
    from base b
    cross join (select unnest([2,3,4,5,6,7,8,9,10]) as n) nn)),
counted as (
  select doc_id, n, p - 1 as pos, gram,
         cast(length(gram) - n + 1 as bigint) as glen,
         count(*) over (partition by doc_id, n, gram) as cnt
  from grams),
top as (
  select doc_id,
         cast(coalesce(max(case when n = 2 then cnt * glen end), 0)
              as bigint) as top2_chars,
         cast(coalesce(max(case when n = 3 then cnt * glen end), 0)
              as bigint) as top3_chars,
         cast(coalesce(max(case when n = 4 then cnt * glen end), 0)
              as bigint) as top4_chars
  from counted where cnt >= 2 and n <= 4 group by doc_id),
cov as (
  select distinct doc_id, n, wpos
  from (
    select doc_id, n,
           unnest(generate_series(pos, pos + n - 1)) as wpos
    from counted where cnt >= 2 and n >= 5)),
wl as (
  select doc_id, i - 1 as wpos, cast(length(words[i]) as bigint) as wlen
  from (
    select doc_id, words,
           unnest(generate_series(1, len(words))) as i
    from base)),
rep as (
  select c.doc_id,
         cast(coalesce(sum(case when c.n = 5 then w.wlen end), 0) as bigint)
           as rep5_chars,
         cast(coalesce(sum(case when c.n = 6 then w.wlen end), 0) as bigint)
           as rep6_chars,
         cast(coalesce(sum(case when c.n = 7 then w.wlen end), 0) as bigint)
           as rep7_chars,
         cast(coalesce(sum(case when c.n = 8 then w.wlen end), 0) as bigint)
           as rep8_chars,
         cast(coalesce(sum(case when c.n = 9 then w.wlen end), 0) as bigint)
           as rep9_chars,
         cast(coalesce(sum(case when c.n = 10 then w.wlen end), 0) as bigint)
           as rep10_chars
  from cov c join wl w on c.doc_id = w.doc_id and c.wpos = w.wpos
  group by c.doc_id),
joined as (
  select m.*,
         cast(coalesce(t.top2_chars, 0) as bigint) as top2_chars,
         cast(coalesce(t.top3_chars, 0) as bigint) as top3_chars,
         cast(coalesce(t.top4_chars, 0) as bigint) as top4_chars,
         cast(coalesce(r.rep5_chars, 0) as bigint) as rep5_chars,
         cast(coalesce(r.rep6_chars, 0) as bigint) as rep6_chars,
         cast(coalesce(r.rep7_chars, 0) as bigint) as rep7_chars,
         cast(coalesce(r.rep8_chars, 0) as bigint) as rep8_chars,
         cast(coalesce(r.rep9_chars, 0) as bigint) as rep9_chars,
         cast(coalesce(r.rep10_chars, 0) as bigint) as rep10_chars
  from mapside m
  left join top t using (doc_id)
  left join rep r using (doc_id))
select doc_id, n_words, nns,
       n_lines, dup_lines, line_chars, dup_line_chars,
       n_paras, dup_paras, para_chars, dup_para_chars,
       top2_chars, top3_chars, top4_chars,
       rep5_chars, rep6_chars, rep7_chars, rep8_chars, rep9_chars,
       rep10_chars,
       (10 * dup_lines <= 3 * n_lines) as r_dup_line,
       (10 * dup_paras <= 3 * n_paras) as r_dup_para,
       (5 * dup_line_chars <= line_chars) as r_dup_line_char,
       (5 * dup_para_chars <= para_chars) as r_dup_para_char,
       (5 * top2_chars <= nns) as r_top2,
       (50 * top3_chars <= 9 * nns) as r_top3,
       (25 * top4_chars <= 4 * nns) as r_top4,
       (20 * rep5_chars <= 3 * nns) as r_rep5,
       (50 * rep6_chars <= 7 * nns) as r_rep6,
       (100 * rep7_chars <= 13 * nns) as r_rep7,
       (25 * rep8_chars <= 3 * nns) as r_rep8,
       (100 * rep9_chars <= 11 * nns) as r_rep9,
       (10 * rep10_chars <= nns) as r_rep10,
       ((10 * dup_lines <= 3 * n_lines)
        and (10 * dup_paras <= 3 * n_paras)
        and (5 * dup_line_chars <= line_chars)
        and (5 * dup_para_chars <= para_chars)
        and (5 * top2_chars <= nns)
        and (50 * top3_chars <= 9 * nns)
        and (25 * top4_chars <= 4 * nns)
        and (20 * rep5_chars <= 3 * nns)
        and (50 * rep6_chars <= 7 * nns)
        and (100 * rep7_chars <= 13 * nns)
        and (25 * rep8_chars <= 3 * nns)
        and (100 * rep9_chars <= 11 * nns)
        and (10 * rep10_chars <= nns)) as pass_repetition
from joined
"""

def ccnet_perplexity(spark, sf_dir):
    """CCNet perplexity bucketing (Wenzek et al. 2020) with the corpus
    as its own reference LM (extensions/lm_filter.py). Per-bigram
    log-likelihoods are integer micro-nats, the per-doc sum is an exact
    bigint (float-order-free), nll is ONE division of exact integers,
    and the head/middle/tail split is a per-language ntile over
    (nll asc nulls last, doc_id) — a total order, so the tiles are
    engine-exact."""
    from sqlbackuphistoryetl_spark.extensions.lm_filter import (
        ccnet_perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    out = ccnet_perplexity_buckets(docs)
    return out.select(
        "doc_id", "lang", "n_bigrams", "nll_u", "nll",
        out["bucket"].cast("int").alias("bucket"), "bucket_name",
    )


CCNET_SQL = r"""
with toks as (
  select doc_id, lang, regexp_extract_all(text, '\S+') as words
  from documents),
big as (
  select doc_id, lang, words[i] as w1, words[i + 1] as w2
  from (select doc_id, lang, words,
               unnest(generate_series(1, len(words) - 1)) as i
        from toks)),
c12 as (select w1, w2, cast(count(*) as bigint) as c12
        from big group by 1, 2),
c1 as (select w1, cast(count(*) as bigint) as c1 from big group by 1),
v as (select cast(count(distinct w) as bigint) as v
      from (select unnest(words) as w from toks)),
sc as (
  select b.doc_id,
         cast(round(ln((c1.c1 + v.v) / (c12.c12 + 1)) * 1000000)
              as bigint) as ll_u
  from big b
  join c12 using (w1, w2)
  join c1 using (w1)
  cross join v),
per as (
  select doc_id, cast(count(*) as bigint) as n_bigrams,
         cast(sum(ll_u) as bigint) as nll_u
  from sc group by 1),
alldocs as (
  select d.doc_id, d.lang,
         coalesce(p.n_bigrams, 0) as n_bigrams,
         coalesce(p.nll_u, 0) as nll_u,
         case when coalesce(p.n_bigrams, 0) > 0
              then cast(p.nll_u as double)
                   / cast(p.n_bigrams * 1000000 as double)
         end as nll
  from documents d left join per p using (doc_id)),
tiled as (
  select *, cast(ntile(3) over (partition by lang
      order by nll asc nulls last, doc_id asc) as int) as bucket
  from alldocs)
select doc_id, lang, n_bigrams, nll_u, nll, bucket,
       case bucket when 1 then 'head' when 2 then 'middle'
            else 'tail' end as bucket_name
from tiled
"""

def dsir_selection(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023,
    extensions/sampling.py:dsir_resample): hashed unigram+bigram
    bag-of-n-grams models on target (lang='en') vs the full corpus,
    per-doc log-ratio weights in exact integer micro-nats, Gumbel-top-k
    selection with deterministic md5 draws. Top-100 by (key desc, id) —
    a total order."""
    from sqlbackuphistoryetl_spark.extensions.sampling import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(
        docs, docs.filter(F.col("lang") == "en"), k=100, n_buckets=4096
    )


DSIR_SQL = r"""
with toks as (
  select doc_id, lang, regexp_extract_all(text, '\S+') as words
  from documents),
grams as (
  select doc_id, lang, gram from (
    select doc_id, lang, unnest(words) as gram from toks
    union all
    select doc_id, lang, words[i] || ' ' || words[i + 1] as gram
    from (select doc_id, lang, words,
                 unnest(generate_series(1, len(words) - 1)) as i
          from toks))),
b as (
  select doc_id, lang,
         cast(('0x' || substr(md5(gram), 1, 8))::ubigint % 4096
              as bigint) as bucket
  from grams),
cq as (select bucket, cast(count(*) as bigint) as cq from b group by 1),
cp as (select bucket, cast(count(*) as bigint) as cp
       from b where lang = 'en' group by 1),
tot as (select (select cast(count(*) as bigint) from b where lang = 'en')
                 as tp,
               (select cast(count(*) as bigint) from b) as tq),
delta as (
  select cq.bucket,
         cast(round(ln(((coalesce(cp.cp, 0) + 1.0) / (tot.tp + 4096.0))
                       / ((cq.cq + 1.0) / (tot.tq + 4096.0)))
                    * 1000000.0) as bigint) as du
  from cq left join cp using (bucket) cross join tot),
sc as (
  select b.doc_id, cast(count(*) as bigint) as n_feats,
         cast(sum(d.du) as bigint) as logw_u
  from b join delta d using (bucket) group by 1),
keyed as (
  select doc_id, n_feats, logw_u,
         cast(logw_u as double) / 1000000.0
         + (-ln(-ln((('0x' || substr(md5('dsir' || '|'
                     || cast(doc_id as varchar)), 1, 8))::ubigint + 0.5)
                    / 4294967296.0))) as gkey
  from sc)
select doc_id, n_feats, logw_u
from keyed order by gkey desc, doc_id asc limit 100
"""

def edit_distance_pairs(spark, sf_dir):
    """Exact edit-distance similarity self-join via PassJoin segment
    indexing (extensions/dedup.py:edit_distance_join) — pigeonhole
    equi-join candidates, levenshtein verify, 100% recall by
    construction. Gate surface: 60-char prefixes, d = 5 (the corpus's
    near-dup bar); the oracle is the brute-force all-pairs quadratic,
    so the gate proves the pruned join loses nothing."""
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        edit_distance_join,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("text")
    )
    return edit_distance_join(docs, max_dist=5)


EDIT_DISTANCE_SQL = r"""
with d as (select doc_id, substr(text, 1, 60) as text from documents)
select a.doc_id as id_a, b.doc_id as id_b,
       cast(levenshtein(a.text, b.text) as int) as ed
from d a join d b on a.doc_id < b.doc_id
where levenshtein(a.text, b.text) <= 5
"""


def unimax_lang_budget(spark, sf_dir):
    """UniMax epoch-capped language budget split (Chung et al. 2023;
    extensions/sampling.py:unimax_allocation — closed-form waterfilling
    over prefix sums, cross-multiplied integer predicates throughout).
    Gate surface: budget = 9/5 of the corpus's own token count with a
    2-epoch cap — at the test corpus's language skew the tail languages
    hit their cap and the head language waterfills, so both branches of
    the allocation are driver-exercised. The budget scalar is ONE
    driver-side agg (sanctioned scalar collect)."""
    from sqlbackuphistoryetl_spark.extensions.sampling import unimax_allocation

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("n_tokens"),
    )
    total = tok.agg(F.sum("n_tokens").cast("bigint").alias("t")).collect()[0]["t"]
    return unimax_allocation(tok, (9 * int(total)) // 5, max_epochs=2)


UNIMAX_SQL = r"""
with tok as (
  select doc_id, lang, len(regexp_extract_all(text, '\S+')) as t
  from documents),
cnt as (select lang, cast(sum(t) as bigint) as corpus_tokens
        from tok group by lang),
tot as (select cast((9 * sum(corpus_tokens)) // 5 as bigint) as b from cnt),
w as (
  select lang, corpus_tokens,
         cast(corpus_tokens * 2 as bigint) as cap_tokens,
         row_number() over (order by corpus_tokens * 2, lang) as pos,
         cast(coalesce(sum(corpus_tokens * 2) over (
              order by corpus_tokens * 2, lang
              rows between unbounded preceding and 1 preceding), 0)
              as bigint) as prefix,
         cast(count(*) over () as bigint) as n
  from cnt),
f as (
  select w.*, b,
         case when cap_tokens * (n - pos + 1) <= b - prefix
              then 1 else 0 end as is_capped
  from w cross join tot),
s as (
  select f.*,
         cast(sum(is_capped) over () as bigint) as m,
         cast(sum(case when is_capped = 1 then cap_tokens else 0 end)
              over () as bigint) as s_m
  from f)
select lang, corpus_tokens, cap_tokens,
       cast(is_capped as int) as is_capped,
       cast(case when is_capped = 1 then cap_tokens
                 else (b - s_m) // (n - m) end as bigint) as alloc_tokens
from s
"""


def pmi_collocations_gate(spark, sf_dir):
    """Top-100 PMI collocations over the documents corpus (Church &
    Hanks 1990; extensions/lm_filter.py:pmi_collocations). PMI in
    integer micro-nats from a fixed-shape double ratio — the score_nll
    determinism doctrine; rank-k cut tie-broken on (w1, w2)."""
    from sqlbackuphistoryetl_spark.extensions.lm_filter import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=100)


PMI_SQL = r"""
with toks as (
  select regexp_extract_all(text, '\S+') as words from documents),
uni as (select unnest(words) as w from toks),
ucnt as (select w, cast(count(*) as bigint) as c from uni group by w),
big as (
  select words[i] as w1, words[i + 1] as w2
  from (select words, unnest(generate_series(1, len(words) - 1)) as i
        from toks)),
cb as (select w1, w2, cast(count(*) as bigint) as c12
       from big group by 1, 2),
tot as (select cast((select count(*) from uni) as bigint) as n_tok,
               cast((select count(*) from big) as bigint) as n_big)
select cb.w1, cb.w2, cb.c12, a.c as c1, b.c as c2,
       cast(round(ln((cast(cb.c12 as double) * n_tok * n_tok)
                     / (cast(n_big as double) * a.c * b.c))
                  * 1000000.0) as bigint) as pmi_u
from cb
join ucnt a on cb.w1 = a.w
join ucnt b on cb.w2 = b.w
cross join tot
where cb.c12 >= 5
order by pmi_u desc, cb.w1, cb.w2
limit 100
"""


def hard_negative_mining(spark, sf_dir):
    """Per-query top-5 different-label neighbors with positive-margin
    annotation (DPR-style hard-negative mining;
    extensions/similarity.py:mine_hard_negatives). Same determinism
    contract as embedding_cosine_topk: full-precision ranking, 6 dp
    rounded outputs, neighbor-id tie-break."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        mine_hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return mine_hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5)


HARD_NEGATIVE_SQL = r"""
with q as (
  select vec_id as query_id, label as q_label, embedding as q_vec
  from embeddings where vec_id < 10),
scored as (
  select q.query_id, q.q_label, c.vec_id as neighbor_id,
         c.label as neighbor_label,
         list_cosine_similarity(q.q_vec::double[],
                                c.embedding::double[]) as cos_full
  from q, embeddings c where c.vec_id <> q.query_id),
pos as (
  select query_id, max(cos_full) as pos_full
  from scored where neighbor_label = q_label group by query_id),
neg as (
  select query_id, neighbor_id, neighbor_label, cos_full,
         row_number() over (partition by query_id
                            order by cos_full desc, neighbor_id) as rank
  from scored where neighbor_label <> q_label)
select n.query_id, n.neighbor_id, n.neighbor_label,
       round(n.cos_full, 6) as cosine, n.rank,
       round(p.pos_full, 6) as pos_cosine,
       round(round(p.pos_full, 6) - round(n.cos_full, 6), 6) as margin
from neg n left join pos p using (query_id)
where n.rank <= 5
"""


def bpe_merge_candidates(spark, sf_dir):
    """Top-50 BPE merge candidates at the initial character vocab
    (Sennrich et al. 2016; functions/textfns.py:bpe_pair_counts) —
    the distributed pair-count pass of tokenizer fitting. Exact
    integer counts; (lhs, rhs) tie-break at the rank-k cut."""
    from sqlbackuphistoryetl_spark.functions.textfns import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, k=50)


BPE_PAIRS_SQL = r"""
with wc as (
  select w, cast(count(*) as bigint) as c
  from (select unnest(regexp_extract_all(text, '\S+')) as w
        from documents)
  group by w),
pos as (
  select chars, c, unnest(generate_series(1, len(chars))) as i
  from (select string_split(w, '') as chars, c from wc)),
p as (
  select chars[i] as lhs, coalesce(chars[i + 1], '</w>') as rhs, c
  from pos)
select lhs, rhs, cast(sum(c) as bigint) as pair_count
from p group by 1, 2
order by pair_count desc, lhs, rhs
limit 50
"""


def bpe_segment_fixed(spark, sf_dir):
    """BPE segmentation under a FIXED merge list (extensions/bpe.py:
    bpe_segment_corpus — the greedy left-to-right aggregate fold,
    vocab-sized application, broadcast join-back). The merge chain
    t+h → th+e → the+</w> exercises multi-char symbols, cascaded
    merges, and end-marker merges. The oracle is an INDEPENDENT
    encoding: symbol sequences as chr(31)-double-separated strings
    where one merge = one non-overlapping string replace (boundary
    separators keep partial-symbol matches impossible; fuzz-verified
    against the fold). Output is (doc_id, n_tokens, tok_md5) — md5 of
    the chr(30)-joined token stream."""
    from sqlbackuphistoryetl_spark.extensions.bpe import bpe_segment_corpus

    merges = [("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "t"), ("s", "c")]
    docs = _t(spark, sf_dir, "documents")
    seg = bpe_segment_corpus(docs, merges)
    return seg.select(
        "doc_id",
        "n_tokens",
        F.md5(F.concat_ws("\x1e", "tokens")).alias("tok_md5"),
    )


BPE_SEGMENT_SQL = r"""
with w as (
  select doc_id, words[i] as word, i as pos
  from (select doc_id, regexp_extract_all(text, '\S+') as words,
               unnest(generate_series(1, len(regexp_extract_all(text, '\S+')))) as i
        from documents)),
segd as (
  select doc_id, pos,
         trim(
           replace(replace(replace(replace(replace(
             repeat(chr(31), 2)
               || array_to_string(
                    list_append(string_split(word, ''), '</w>'),
                    repeat(chr(31), 2))
               || repeat(chr(31), 2),
             chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31),
             chr(31)||'th'||chr(31)),
             chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31),
             chr(31)||'the'||chr(31)),
             chr(31)||'the'||chr(31)||chr(31)||'</w>'||chr(31),
             chr(31)||'the</w>'||chr(31)),
             chr(31)||'a'||chr(31)||chr(31)||'t'||chr(31),
             chr(31)||'at'||chr(31)),
             chr(31)||'s'||chr(31)||chr(31)||'c'||chr(31),
             chr(31)||'sc'||chr(31)),
           chr(31)) as seg
  from w),
per_doc as (
  select doc_id,
         string_agg(seg, repeat(chr(31), 2) order by pos) as all_toks
  from segd group by doc_id)
select doc_id,
       cast(len(string_split(all_toks, repeat(chr(31), 2))) as int) as n_tokens,
       md5(replace(all_toks, repeat(chr(31), 2), chr(30))) as tok_md5
from per_doc
"""


def bpe_packed_export(spark, sf_dir):
    """END-TO-END training-data export: corpus → BPE encode (fixed
    merges, dense ids) → concat-and-chunk packing at 128 ids →
    materialized id streams (extensions/bpe.py + extensions/packing.py:
    materialize_id_sequences). The oracle recomputes the whole chain
    independently: replace-chain segmentation, VALUES-table ids,
    window cumsum packing, list-slice reassembly. Output (seq_id,
    seq_tokens, ids_md5) — md5 of the comma-joined id stream."""
    from sqlbackuphistoryetl_spark.extensions.bpe import bpe_encode_corpus
    from sqlbackuphistoryetl_spark.extensions.packing import (
        materialize_id_sequences,
        pack_sequences,
    )

    merges = [("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "t"), ("s", "c")]
    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_corpus(docs, merges)
    spans = pack_sequences(enc, "n_tokens", ["doc_id"], seq_len=128)
    seqs = materialize_id_sequences(spans, enc)
    return seqs.select(
        "seq_id",
        "seq_tokens",
        F.md5(
            F.concat_ws(",", F.transform("seq_ids", lambda x: x.cast("string")))
        ).alias("ids_md5"),
    )


BPE_PACKED_SQL = r"""
with w as (
  select doc_id, words[i] as word, i as pos
  from (select doc_id, regexp_extract_all(text, '\S+') as words,
               unnest(generate_series(1, len(regexp_extract_all(text, '\S+')))) as i
        from documents)),
segd as (
  select doc_id, pos,
         string_split(
           trim(
             replace(replace(replace(replace(replace(
               repeat(chr(31), 2)
                 || array_to_string(
                      list_append(string_split(word, ''), '</w>'),
                      repeat(chr(31), 2))
                 || repeat(chr(31), 2),
               chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31),
               chr(31)||'th'||chr(31)),
               chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31),
               chr(31)||'the'||chr(31)),
               chr(31)||'the'||chr(31)||chr(31)||'</w>'||chr(31),
               chr(31)||'the</w>'||chr(31)),
               chr(31)||'a'||chr(31)||chr(31)||'t'||chr(31),
               chr(31)||'at'||chr(31)),
               chr(31)||'s'||chr(31)||chr(31)||'c'||chr(31),
               chr(31)||'sc'||chr(31)),
             chr(31)),
           repeat(chr(31), 2)) as toks
  from w),
tok_rows as (
  select doc_id, pos, j, toks[j] as token
  from (select doc_id, pos, toks,
               unnest(generate_series(1, len(toks))) as j
        from segd)),
products(token, token_id) as (
  values ('th', 0), ('the', 1), ('the</w>', 2), ('at', 3), ('sc', 4)),
leftover as (
  select token,
         cast(row_number() over (order by token) + 4 as bigint) as token_id
  from (select distinct token from tok_rows
        where token not in (select token from products))),
ids as (
  select token, cast(token_id as bigint) as token_id from products
  union all select token, token_id from leftover),
doc_ids as (
  select t.doc_id,
         list(i.token_id order by t.pos, t.j) as token_ids,
         cast(count(*) as bigint) as n_tok
  from tok_rows t join ids i using (token) group by t.doc_id),
c as (
  select doc_id, token_ids, n_tok,
         cast(sum(n_tok) over (order by doc_id
              rows unbounded preceding) as bigint) as cum_end
  from doc_ids),
s as (
  select doc_id, token_ids, n_tok, cum_end - n_tok as cum_start, cum_end
  from c where n_tok > 0),
spans as (
  select s.doc_id, s.token_ids, cast(g.seq_id as bigint) as seq_id,
         cast(greatest(0, g.seq_id * 128 - s.cum_start) as bigint) as tb,
         cast(least(s.cum_end, (g.seq_id + 1) * 128) - s.cum_start
              as bigint) as te
  from s, unnest(generate_series(s.cum_start // 128, (s.cum_end - 1) // 128))
         as g(seq_id)),
pieces as (
  select seq_id, doc_id, token_ids[tb + 1 : te] as piece
  from spans),
seqs as (
  select seq_id,
         flatten(list(piece order by doc_id)) as seq_ids
  from pieces group by seq_id)
select seq_id,
       cast(len(seq_ids) as int) as seq_tokens,
       md5(array_to_string(list_transform(seq_ids,
                                          x -> cast(x as varchar)), ','))
           as ids_md5
from seqs
"""


def multimodal_dhash_fingerprint(spark, sf_dir):
    """Perceptual image dHash through the REAL codec chain
    (extensions/png_codec.py + multimodal.image_dhash): each document's
    first 128 sanitized-ASCII bytes become a 16×8 grayscale PNG
    (encode_png inside mapInPandas), which image_dhash then DECODES
    (zlib, filters, CRC) and fingerprints. The oracle never touches
    PNG: since the pixels ARE the text bytes, it recomputes the dHash
    arithmetic (9-column nearest-neighbor resample + row-major
    greater-than bits, signed-long fold) straight from ``ord()`` over
    the same sanitized string — so any codec, resample, or bit-order
    bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import image_dhash
    from sqlbackuphistoryetl_spark.extensions.png_codec import encode_png

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ")
            return encode_png(s.encode("ascii"), 16, 8, 1)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_dhash(payloads).select("doc_id", "dhash", "decoder")


MULTIMODAL_DHASH_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
cells as (
  select doc_id, y, x,
         case when ord(substr(s, y * 16 + (x * 16) // 9 + 1, 1))
                 > ord(substr(s, y * 16 + ((x + 1) * 16) // 9 + 1, 1))
              then 1 else 0 end as bit
  from s,
       unnest(generate_series(0, 7)) as t1(y),
       unnest(generate_series(0, 7)) as t2(x)),
h as (
  select doc_id,
         sum(cast(bit as hugeint)
             * (cast(1 as hugeint) << (63 - (y * 8 + x)))) as uh
  from cells group by doc_id)
select doc_id,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as dhash,
       'png-zlib' as decoder
from h
"""


def multimodal_jpeg_fingerprint(spark, sf_dir):
    """Perceptual dHash through the REAL JPEG codec chain
    (extensions/jpeg_codec.py + multimodal.image_dhash): each
    document's first 72 sanitized-ASCII bytes become a 72x64 grayscale
    baseline JPEG of constant 8x8 blocks (block (row r, col c) holds
    byte r*9+c; encode_jpeg with the QUANT_FLAT8 table inside
    mapInPandas), which image_dhash then DECODES — marker walk,
    Huffman entropy decode, dequantize, IDCT — and fingerprints. The
    flat-block exactness contract (jpeg_codec docstring) makes the
    decoded pixels equal the text bytes EXACTLY, so the oracle never
    touches JPEG: the 9x8 dHash grid lands one grid cell per block,
    and the oracle recomputes the greater-than bits + signed-long fold
    straight from ``ord()`` — any Huffman, DC-prediction, dequant,
    IDCT or bit-order bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import (
        QUANT_FLAT8,
        encode_jpeg,
    )
    from sqlbackuphistoryetl_spark.extensions.multimodal import image_dhash

    # Python-bound stage (~3 ms/doc of pure-Python Huffman work): a
    # single small parquet file reads as ONE partition, which would
    # serialize the whole corpus through one Arrow worker — repartition
    # first so all cores decode (r8 bench: 15.1 s -> ~1 s)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:72].ljust(72, " ").encode("ascii")
            # 8 distinct block-row patterns, each repeated 8 rows deep
            pats = [
                b"".join(bytes([s[br * 9 + bc]]) * 8 for bc in range(9))
                for br in range(8)
            ]
            px = b"".join(pats[r // 8] for r in range(64))
            return encode_jpeg(px, 72, 64, 1, quant_luma=QUANT_FLAT8)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_dhash(payloads).select("doc_id", "dhash", "decoder")


MULTIMODAL_JPEG_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 72),
              72, ' ') as s
  from documents),
cells as (
  select doc_id, y, x,
         case when ord(substr(s, y * 9 + x + 1, 1))
                 > ord(substr(s, y * 9 + x + 2, 1))
              then 1 else 0 end as bit
  from s,
       unnest(generate_series(0, 7)) as t1(y),
       unnest(generate_series(0, 7)) as t2(x)),
h as (
  select doc_id,
         sum(cast(bit as hugeint)
             * (cast(1 as hugeint) << (63 - (y * 8 + x)))) as uh
  from cells group by doc_id)
select doc_id,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as dhash,
       'jpeg-baseline' as decoder
from h
"""


def multimodal_jpeg_progressive(spark, sf_dir):
    """Perceptual dHash through the PROGRESSIVE JPEG decode chain
    (extensions/jpeg_codec.py successive-approximation scans, r9):
    same flat-block geometry as multimodal_jpeg_fingerprint but the
    payload is a full SA ladder (``progressive='sa'`` — SOF2, DC first
    scan at Al=1, banded AC first scans, then refinement scans down to
    Al=0), taken from characters 8..80 of each document so the two
    gates hash differently. A completed SA ladder reconstructs the
    sequential coefficients exactly, so the flat-block exactness
    contract still holds and the oracle recomputes the dHash straight
    from ``ord()`` — any EOBn-run, correction-bit, point-transform or
    refinement-order bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import (
        QUANT_FLAT8,
        encode_jpeg,
    )
    from sqlbackuphistoryetl_spark.extensions.multimodal import image_dhash

    # Python-bound stage: repartition before the codec mapInPandas so
    # a single-file parquet read can't serialize it (r8 lesson)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = (
                re.sub(r"[^ -~]", "?", t)[8:80].ljust(72, " ").encode("ascii")
            )
            pats = [
                b"".join(bytes([s[br * 9 + bc]]) * 8 for bc in range(9))
                for br in range(8)
            ]
            px = b"".join(pats[r // 8] for r in range(64))
            return encode_jpeg(
                px, 72, 64, 1, quant_luma=QUANT_FLAT8, progressive="sa"
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_dhash(payloads).select("doc_id", "dhash", "decoder")


MULTIMODAL_JPEG_PROGRESSIVE_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 9, 72),
              72, ' ') as s
  from documents),
cells as (
  select doc_id, y, x,
         case when ord(substr(s, y * 9 + x + 1, 1))
                 > ord(substr(s, y * 9 + x + 2, 1))
              then 1 else 0 end as bit
  from s,
       unnest(generate_series(0, 7)) as t1(y),
       unnest(generate_series(0, 7)) as t2(x)),
h as (
  select doc_id,
         sum(cast(bit as hugeint)
             * (cast(1 as hugeint) << (63 - (y * 8 + x)))) as uh
  from cells group by doc_id)
select doc_id,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as dhash,
       'jpeg-baseline' as decoder
from h
"""


def multimodal_gif_fingerprint(spark, sf_dir):
    """Perceptual dHash through the REAL GIF codec chain
    (extensions/gif_codec.py + multimodal.image_dhash): each
    document's sanitized-ASCII bytes 16..88 become a 72x64 grayscale
    INTERLACED GIF of constant 8x8 blocks (block (row r, col c) holds
    byte r*9+c as an index into a 256-gray palette; encode_gif_indexed
    with interlace=True inside mapInPandas), which image_dhash then
    DECODES — sub-block walk, LSB-first LZW across the full 12-bit
    code-width ladder, 4-pass deinterlace, palette expansion — and
    fingerprints. GIF is lossless, so the decoded pixels equal the
    text bytes EXACTLY and the 9x8 dHash grid lands one cell per block
    (resize_nearest samples x*72//9 = col 8x); the oracle recomputes
    the greater-than bits + signed fold straight from ``ord()`` — any
    LZW bit-order, code-width, interlace-pass or palette bug
    hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.gif_codec import (
        encode_gif_indexed,
    )
    from sqlbackuphistoryetl_spark.extensions.multimodal import image_dhash

    # Python-bound stage: repartition before the codec mapInPandas so
    # a single-file parquet read can't serialize it (r8 lesson)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )
    gray_palette = bytes(b for g in range(256) for b in (g, g, g))

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[16:88].ljust(72, " ").encode("ascii")
            pats = [
                b"".join(bytes([s[br * 9 + bc]]) * 8 for bc in range(9))
                for br in range(8)
            ]
            idx = b"".join(pats[r // 8] for r in range(64))
            return encode_gif_indexed(
                72, 64, gray_palette,
                [{"indices": idx, "interlace": True}],
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_dhash(payloads).select("doc_id", "dhash", "decoder")


MULTIMODAL_GIF_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 17, 72),
              72, ' ') as s
  from documents),
cells as (
  select doc_id, y, x,
         case when ord(substr(s, y * 9 + x + 1, 1))
                 > ord(substr(s, y * 9 + x + 2, 1))
              then 1 else 0 end as bit
  from s,
       unnest(generate_series(0, 7)) as t1(y),
       unnest(generate_series(0, 7)) as t2(x)),
h as (
  select doc_id,
         sum(cast(bit as hugeint)
             * (cast(1 as hugeint) << (63 - (y * 8 + x)))) as uh
  from cells group by doc_id)
select doc_id,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as dhash,
       'gif-lzw' as decoder
from h
"""


def multimodal_gif_animation(spark, sf_dir):
    """Animated-GIF compositing through the REAL codec chain
    (extensions/gif_codec.py + multimodal.sample_frames): each
    document's first 4 sanitized-ASCII bytes become a 4-frame GIF —
    frame 0 floods the 4x4 canvas with gray ord(byte 0); frames 1-3
    paint ONLY a 2x2 sub-rectangle at (1,1) with gray ord(byte f), no
    disposal, so composited canvas f shows byte 0 everywhere except
    the window, which shows byte f (last paint wins). sample_frames
    decodes with stride=2 and yields RGBA canvases 0 and 2; the md5
    compares JVM-side hex (F.hex, alpha=0xFF bytes are not
    VARCHAR-safe, unlike the ASCII-only AVI gate) against the oracle's
    canvas rebuilt straight from the text characters — any
    sub-rectangle offset, compositing-order, stride or alpha bug
    hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.gif_codec import (
        encode_gif_indexed,
    )
    from sqlbackuphistoryetl_spark.extensions.multimodal import sample_frames

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )
    gray_palette = bytes(b for g in range(256) for b in (g, g, g))

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:4].ljust(4, " ").encode("ascii")
            frames = [{"indices": bytes([s[0]] * 16)}]
            for f in range(1, 4):
                frames.append(
                    {"left": 1, "top": 1, "width": 2, "height": 2,
                     "indices": bytes([s[f]] * 4)}
                )
            return encode_gif_indexed(4, 4, gray_palette, frames)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    frames = sample_frames(payloads, stride=2)
    return frames.select(
        "doc_id",
        "frame_index",
        "n_frames",
        F.length("frame_bytes").alias("frame_len"),
        F.md5(F.hex("frame_bytes")).alias("frame_md5"),
        "decoder",
    )


MULTIMODAL_GIF_ANIM_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 4),
              4, ' ') as s
  from documents),
px as (
  select doc_id, fi, y, x,
         upper(repeat(lpad(to_hex(ord(substr(s,
             case when fi > 0 and x between 1 and 2 and y between 1 and 2
                  then fi + 1 else 1 end, 1))), 2, '0'), 3)) || 'FF' as h
  from s,
       unnest([0, 2]) as t0(fi),
       unnest(generate_series(0, 3)) as t1(y),
       unnest(generate_series(0, 3)) as t2(x)),
fb as (
  select doc_id, fi, string_agg(h, '' order by y, x) as hs
  from px group by doc_id, fi)
select doc_id,
       cast(fi as bigint) as frame_index,
       cast(4 as bigint) as n_frames,
       cast(64 as int) as frame_len,
       md5(hs) as frame_md5,
       'gif-lzw' as decoder
from fb
"""


def multimodal_ccitt_fax(spark, sf_dir):
    """Bilevel fax TIFFs through the REAL CCITT chain
    (extensions/ccitt.py + tiff_codec + multimodal.image_quality,
    r10): each document's first 16 sanitized chars become a 16x7
    WhiteIsZero bilevel raster (pixel(y,x) = bit y of ord(s[x])),
    encoded per doc_id mod 3 as Group 4 MMR, Modified Huffman, or
    Group 3 proper (EOL framing; T4Options 2-D "MR" on half of those),
    tiled 8x4 on every third document and 3-row strips otherwise — so
    ALL THREE fax codings, both layouts, and the photometric-0
    inversion sit under ONE oracle that recomputes the luminance
    stats closed-form from ``ord()`` bit arithmetic. A T.4 table
    value, G4/MR mode, EOL-framing, changing-element, bit-packing or
    inversion bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import image_quality
    from sqlbackuphistoryetl_spark.extensions.tiff_codec import (
        COMP_CCITT_MH,
        COMP_G3,
        COMP_G4,
        encode_tiff,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(d, t):
            s = re.sub(r"[^ -~]", "?", t)[:16].ljust(16, " ")
            vals = bytes(
                (ord(s[x]) >> y) & 1 for y in range(7) for x in range(16)
            )
            comp = [COMP_G4, COMP_CCITT_MH, COMP_G3][d % 3]
            kw = {"tile": (8, 4)} if d % 3 == 0 else {"rows_per_strip": 3}
            if comp == COMP_G3:
                kw["t4_options"] = 1 if d % 2 else 0  # mix 1-D and MR
            return encode_tiff(
                vals, 16, 7, 1, compression=comp, bits=1, photometric=0,
                **kw,
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_quality(payloads).select(
        "doc_id", "width", "height", "mean_lum", "min_lum", "max_lum",
        "n_distinct_lum", "is_flat", "decoder",
    )


MULTIMODAL_CCITT_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 16),
              16, ' ') as s
  from documents),
px as (
  -- WhiteIsZero: a set bit is BLACK and decodes to luminance 0
  select doc_id,
         case when (ord(substr(s, x + 1, 1)) >> y) & 1 = 1
              then 0 else 255 end as v
  from s,
       unnest(generate_series(0, 15)) as t1(x),
       unnest(generate_series(0, 6)) as t2(y))
select doc_id,
       cast(16 as bigint) as width,
       cast(7 as bigint) as height,
       cast(sum(v) // 112 as bigint) as mean_lum,
       min(v) as min_lum,
       max(v) as max_lum,
       cast(count(distinct v) as bigint) as n_distinct_lum,
       case when min(v) = max(v) then 'y' else 'n' end as is_flat,
       'tiff-baseline' as decoder
from px group by doc_id
"""


def multimodal_tiff_fingerprint(spark, sf_dir):
    """Perceptual dHash through the REAL TIFF codec chain
    (extensions/tiff_codec.py + multimodal.image_dhash): each
    document's sanitized-ASCII bytes 24..96 become a 72x64 grayscale
    TIFF of constant 8x8 blocks, written with the hard settings —
    early-change LZW, horizontal predictor, 16-row strips — which
    image_dhash then DECODES (IFD walk, per-strip LZW across the
    9→10-bit width boundary, predictor undo, strip reassembly) and
    fingerprints. TIFF is lossless, so the oracle recomputes the
    dHash straight from ``ord()`` exactly like the GIF gate — an LZW
    early-change, predictor or strip-boundary bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import image_dhash
    from sqlbackuphistoryetl_spark.extensions.tiff_codec import (
        COMP_LZW,
        encode_tiff,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[24:96].ljust(72, " ").encode("ascii")
            pats = [
                b"".join(bytes([s[br * 9 + bc]]) * 8 for bc in range(9))
                for br in range(8)
            ]
            px = b"".join(pats[r // 8] for r in range(64))
            return encode_tiff(
                px, 72, 64, 1,
                compression=COMP_LZW, predictor=2, rows_per_strip=16,
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_dhash(payloads).select("doc_id", "dhash", "decoder")


MULTIMODAL_TIFF_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 25, 72),
              72, ' ') as s
  from documents),
cells as (
  select doc_id, y, x,
         case when ord(substr(s, y * 9 + x + 1, 1))
                 > ord(substr(s, y * 9 + x + 2, 1))
              then 1 else 0 end as bit
  from s,
       unnest(generate_series(0, 7)) as t1(y),
       unnest(generate_series(0, 7)) as t2(x)),
h as (
  select doc_id,
         sum(cast(bit as hugeint)
             * (cast(1 as hugeint) << (63 - (y * 8 + x)))) as uh
  from cells group by doc_id)
select doc_id,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as dhash,
       'tiff-baseline' as decoder
from h
"""


def webdataset_roundtrip(spark, sf_dir):
    """WebDataset tar shard sink + source round-trip
    (extensions/webdataset.py): every document becomes a 2-member
    sample (``<key>.txt`` = UTF-8 text, ``<key>.lang`` = language tag;
    key = zero-padded doc_id), written as deterministic 16-sample tar
    shards via the distributed-ordinal assignment (global_ordinals —
    one range shuffle, no single-writer funnel), then read back
    through the binaryFile + tarfile walk and re-grouped into samples.
    The oracle never touches tar: byte length and md5 recompute
    straight from the documents table, so a member-naming, sample
    splitting, payload-corruption or shard-assignment bug mismatches.
    The write is EAGER and idempotent (byte-deterministic shards,
    rmtree-then-write) into a per-sf tmp dir; ``fan_out`` spreads the
    tiny fixture shards across workers (production-sized shards
    wouldn't need it — see read_webdataset's docstring)."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.extensions.webdataset import (
        group_samples,
        read_webdataset,
        write_webdataset,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    key = F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("key")
    members = docs.select(
        key, F.lit("txt").alias("ext"), F.encode("text", "UTF-8").alias("payload")
    ).unionByName(
        docs.select(
            key, F.lit("lang").alias("ext"),
            F.encode("lang", "UTF-8").alias("payload"),
        )
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_wds_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_webdataset(members, path, samples_per_shard=16)
    samples = group_samples(
        read_webdataset(spark, path, fan_out=_fan(spark)), ["txt", "lang"]
    )
    return samples.select(
        F.col("key").cast("long").alias("doc_id"),
        F.length("txt").alias("txt_bytes"),
        F.md5("txt").alias("txt_md5"),
        F.decode("lang", "UTF-8").alias("lang"),
    )


WEBDATASET_SQL = r"""
select doc_id,
       cast(octet_length(encode(text)) as int) as txt_bytes,
       md5(text) as txt_md5,
       lang
from documents
"""


def multimodal_avi_frames(spark, sf_dir):
    """Real video-frame extraction through the REAL container chain
    (extensions/avi_codec.py + multimodal.sample_frames): each
    document's first 98 sanitized-ASCII bytes become six 4x4 RGB
    frames (pixel i of frame f reads bytes f*16+i, +1, +2 as R,G,B)
    packed into an uncompressed AVI (encode_avi writes bottom-up BGR
    DIB rows inside mapInPandas), which sample_frames then PARSES for
    real — RIFF LIST walk, BITMAPINFOHEADER, BGR->RGB, bottom-up flip
    — sampling every 2nd frame. The oracle never touches AVI: frames
    are md5-compared against the RGB byte string rebuilt straight from
    the text characters, so a row-order, channel-order, padding or
    stride bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.avi_codec import encode_avi
    from sqlbackuphistoryetl_spark.extensions.multimodal import sample_frames
    from sqlbackuphistoryetl_spark.extensions.png_codec import DecodedImage

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:98].ljust(98, " ").encode("ascii")
            frames = []
            for f in range(6):
                px = bytearray(48)
                for i in range(16):
                    p = f * 16 + i
                    px[3 * i : 3 * i + 3] = s[p : p + 3]
                frames.append(DecodedImage(4, 4, 3, bytes(px)))
            return encode_avi(frames)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    frames = sample_frames(payloads, stride=2)
    return frames.select(
        "doc_id",
        "frame_index",
        "n_frames",
        F.length("frame_bytes").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
        "decoder",
    )


MULTIMODAL_AVI_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 98),
              98, ' ') as s
  from documents),
pix as (
  select doc_id, fi, i,
         substr(s, fi * 16 + i + 1, 1)
           || substr(s, fi * 16 + i + 2, 1)
           || substr(s, fi * 16 + i + 3, 1) as px
  from s,
       unnest([0, 2, 4]) as t1(fi),
       unnest(generate_series(0, 15)) as t2(i)),
fb as (
  select doc_id, fi, string_agg(px, '' order by i) as fs
  from pix group by doc_id, fi)
select doc_id,
       cast(fi as bigint) as frame_index,
       cast(6 as bigint) as n_frames,
       cast(48 as int) as frame_len,
       md5(fs) as frame_md5,
       'avi-dib' as decoder
from fb
"""


def multimodal_mjpeg_frames(spark, sf_dir):
    """Motion-JPEG frame extraction through BOTH real codec layers
    (avi_codec MJPG routing + jpeg_codec per-frame decode): each
    document's first 12 sanitized-ASCII bytes become six 16x8
    grayscale MJPEG frames (frame f = two flat 8x8 blocks holding
    bytes 2f and 2f+1, QUANT_FLAT8 so the lossy codec is byte-exact by
    the flat-block contract), packed into an AVI with fourcc MJPG.
    sample_frames walks the RIFF container, JPEG-decodes every 2nd
    frame and normalizes grayscale to the 3-channel frame contract.
    The oracle never touches either container: sampled frames
    md5-compare against RGB byte strings rebuilt from the characters
    (row = 24x byte a then 24x byte b, times 8 rows)."""
    import re

    from sqlbackuphistoryetl_spark.extensions.avi_codec import encode_avi
    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import QUANT_FLAT8
    from sqlbackuphistoryetl_spark.extensions.multimodal import sample_frames
    from sqlbackuphistoryetl_spark.extensions.png_codec import DecodedImage

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")  # Python-bound codec stage
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:12].ljust(12, " ").encode("ascii")
            frames = []
            for f in range(6):
                row = bytes([s[2 * f]]) * 8 + bytes([s[2 * f + 1]]) * 8
                frames.append(DecodedImage(16, 8, 1, row * 8))
            return encode_avi(frames, codec="mjpeg", quant_luma=QUANT_FLAT8)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    frames = sample_frames(payloads, stride=2)
    return frames.select(
        "doc_id",
        "frame_index",
        "n_frames",
        F.length("frame_bytes").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
        "decoder",
    )


MULTIMODAL_MJPEG_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 12),
              12, ' ') as s
  from documents),
fb as (
  select doc_id, fi,
         repeat(repeat(substr(s, 2 * fi + 1, 1), 24)
                  || repeat(substr(s, 2 * fi + 2, 1), 24), 8) as fs
  from s, unnest([0, 2, 4]) as t(fi))
select doc_id,
       cast(fi as bigint) as frame_index,
       cast(6 as bigint) as n_frames,
       cast(384 as int) as frame_len,
       md5(fs) as frame_md5,
       'avi-mjpeg' as decoder
from fb
"""


def multimodal_audiofp_fingerprint(spark, sf_dir):
    """Audio energy-delta fingerprint through the REAL codec chain
    (extensions/wav_codec.py + multimodal.audio_fingerprint): each
    document's first 128 sanitized-ASCII bytes become int16 PCM
    samples ((byte − 80) · 256), encoded to a WAV container inside
    mapInPandas, which audio_fingerprint then PARSES (RIFF walk, fmt,
    16-bit PCM) and fingerprints (65 contiguous energy blocks, one bit
    per adjacent rise). The oracle never touches WAV: it recomputes the
    block energies and the signed 64-bit fold straight from ``ord()``
    over the same sanitized string."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        audio_fingerprint,
    )
    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        DecodedAudio,
        encode_wav,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ")
            samples = [(b - 80) * 256 for b in s.encode("ascii")]
            return encode_wav(DecodedAudio(8000, 1, samples))

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return audio_fingerprint(payloads).select(
        "doc_id", "n_samples", "afp", "decoder"
    )


MULTIMODAL_AUDIOFP_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
cells as (
  select doc_id, b, (b * 128) // 65 as lo, ((b + 1) * 128) // 65 as hi
  from s, unnest(generate_series(0, 64)) as t(b)),
samp as (
  select c.doc_id, c.b,
         cast((ord(substr(s.s, u.j + 1, 1)) - 80) as bigint) * 256 as x
  from cells c
  join s on s.doc_id = c.doc_id,
       unnest(generate_series(c.lo, c.hi - 1)) as u(j)),
en as (
  select doc_id, b, cast(sum(x * x) // count(*) as hugeint) as e
  from samp group by doc_id, b),
bits as (
  select doc_id, b as i,
         case when lead(e) over (partition by doc_id order by b) > e
              then 1 else 0 end as bit
  from en
  qualify b < 64),
h as (
  select doc_id,
         sum(cast(bit as hugeint) * (cast(1 as hugeint) << (63 - i))) as uh
  from bits group by doc_id)
select doc_id,
       cast(128 as bigint) as n_samples,
       cast(case when uh >= cast(1 as hugeint) << 63
                 then uh - (cast(1 as hugeint) << 64)
                 else uh end as bigint) as afp,
       'wav-pcm' as decoder
from h
"""


def multimodal_audio_quality(spark, sf_dir):
    """Audio block-quality signals through the real WAV chain
    (wav_codec.block_features): the same synthesized PCM payloads as
    the fingerprint gate, decoded from their RIFF containers, reduced
    to 4 exact-integer (mean |amplitude|, zero crossings) blocks — the
    classic silence/noise filters. The oracle recomputes both signals
    from ``ord()`` over the sanitized string; output columns are the
    flattened per-block integers, fully hash-checked."""
    import re

    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        DecodedAudio,
        block_features,
        decode_wav,
        encode_wav,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ")
            samples = [(b - 80) * 256 for b in s.encode("ascii")]
            wav = encode_wav(DecodedAudio(8000, 1, samples))
            feats = block_features(decode_wav(wav), n_blocks=4)
            return [v for pair in feats for v in pair]

        for pdf in it:
            rows = pdf["text"].map(mk)
            out = {"doc_id": pdf["doc_id"]}
            for b in range(4):
                out[f"amp{b}"] = rows.map(lambda r, b=b: r[2 * b])
                out[f"zc{b}"] = rows.map(lambda r, b=b: r[2 * b + 1])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _mk,
        "doc_id long, amp0 long, zc0 long, amp1 long, zc1 long, "
        "amp2 long, zc2 long, amp3 long, zc3 long",
    )


MULTIMODAL_AUDIO_QUALITY_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
samp as (
  select doc_id, j, (j * 4) // 128 as b,
         cast((ord(substr(s, j + 1, 1)) - 80) as bigint) * 256 as x
  from s, unnest(generate_series(0, 127)) as u(j)),
samp2 as (
  select doc_id, b, x,
         lag(x) over (partition by doc_id, b order by j) as px
  from samp),
feat as (
  select doc_id, b,
         cast(sum(abs(x)) // count(*) as bigint) as amp,
         cast(sum(case when (px < 0) <> (x < 0) then 1 else 0 end)
              as bigint) as zc
  from samp2 group by doc_id, b)
select doc_id,
       max(case when b = 0 then amp end) as amp0,
       max(case when b = 0 then zc end) as zc0,
       max(case when b = 1 then amp end) as amp1,
       max(case when b = 1 then zc end) as zc1,
       max(case when b = 2 then amp end) as amp2,
       max(case when b = 2 then zc end) as zc2,
       max(case when b = 3 then amp end) as amp3,
       max(case when b = 3 then zc end) as zc3
from feat group by doc_id
"""


def multimodal_flac_audio(spark, sf_dir):
    """FLAC through the real codec chain (extensions/flac_codec.py +
    multimodal.decode_audio): each document's first 128 sanitized
    bytes become a STEREO stream (left sample i from byte i, right
    from byte (i+7) mod 128, both (ord−80)·256), encoded as mid/side
    FLAC in 64-sample frames (fixed-predictor subframes, Rice
    residuals, CRC-8/16, armed MD5) inside mapInPandas, then decoded
    through the multimodal dispatch and reduced to the 4-block
    (mean |amplitude|, zero crossings) quality integers. FLAC is
    lossless and both channels are even multiples of 256, so the mono
    fold is exact and the oracle recomputes everything CLOSED-FORM
    from ``ord()`` — any Rice, predictor, mid/side or framing bug
    hash-mismatches (and the armed MD5 catches it in-decoder first)."""
    import re

    from sqlbackuphistoryetl_spark.extensions.flac_codec import encode_flac
    from sqlbackuphistoryetl_spark.extensions.multimodal import decode_audio
    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        DecodedAudio,
        block_features,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ").encode("ascii")
            inter = []
            for i in range(128):
                inter.append((s[i] - 80) * 256)
                inter.append((s[(i + 7) % 128] - 80) * 256)
            blob = encode_flac(
                DecodedAudio(16000, 2, inter),
                stereo_mode="mid_side",
                block_size=64,
            )
            feats = block_features(decode_audio(blob), n_blocks=4)
            return [v for pair in feats for v in pair]

        for pdf in it:
            rows = pdf["text"].map(mk)
            out = {"doc_id": pdf["doc_id"]}
            for b in range(4):
                out[f"amp{b}"] = rows.map(lambda r, b=b: r[2 * b])
                out[f"zc{b}"] = rows.map(lambda r, b=b: r[2 * b + 1])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _mk,
        "doc_id long, amp0 long, zc0 long, amp1 long, zc1 long, "
        "amp2 long, zc2 long, amp3 long, zc3 long",
    )


MULTIMODAL_FLAC_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
samp as (
  select doc_id, j, (j * 4) // 128 as b,
         cast(128 * (ord(substr(s, j + 1, 1))
                     + ord(substr(s, ((j + 7) % 128) + 1, 1))
                     - 160) as bigint) as x
  from s, unnest(generate_series(0, 127)) as u(j)),
samp2 as (
  select doc_id, b, x,
         lag(x) over (partition by doc_id, b order by j) as px
  from samp),
feat as (
  select doc_id, b,
         cast(sum(abs(x)) // count(*) as bigint) as amp,
         cast(sum(case when (px < 0) <> (x < 0) then 1 else 0 end)
              as bigint) as zc
  from samp2 group by doc_id, b)
select doc_id,
       max(case when b = 0 then amp end) as amp0,
       max(case when b = 0 then zc end) as zc0,
       max(case when b = 1 then amp end) as amp1,
       max(case when b = 1 then zc end) as zc1,
       max(case when b = 2 then amp end) as amp2,
       max(case when b = 2 then zc end) as zc2,
       max(case when b = 3 then amp end) as amp3,
       max(case when b = 3 then zc end) as zc3
from feat group by doc_id
"""


def image_exif_triage(spark, sf_dir):
    """EXIF capture-metadata triage (extensions/exif_codec.py +
    multimodal.image_exif): each document's JPEG gets a real APP1/TIFF
    block — byte order alternating II/MM by doc parity, orientation,
    a two-digit-day timestamp, make (a LONG ASCII value, so the
    offset-indirection path runs), and sub-IFD pixel dims — except
    every third doc ships NO EXIF and must surface NULLs. The oracle
    recomputes all fields closed-form from doc_id and ord(), so an
    endianness, offset-base, sub-IFD-link or inline-vs-offset value
    bug mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.exif_codec import (
        build_exif_app1,
        splice_exif,
    )
    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import encode_jpeg
    from sqlbackuphistoryetl_spark.extensions.multimodal import image_exif

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )
    base_jpeg = encode_jpeg(bytes(64), 8, 8, 1)

    def _mk(it):
        import pandas as pd

        def mk(doc_id, t):
            if doc_id % 3 == 0:
                return base_jpeg
            s = re.sub(r"[^ -~]", "?", t)[:1].ljust(1, " ").encode("ascii")
            app1 = build_exif_app1(
                orientation=1 + doc_id % 8,
                datetime=f"2024:01:{1 + doc_id % 28:02d} 12:00:00",
                make=f"CAMERA-MAKER-{doc_id % 5}",
                pixel_x=100 + s[0],
                pixel_y=200 + doc_id % 50,
                endian="<" if doc_id % 2 == 0 else ">",
            )
            return splice_exif(base_jpeg, app1)

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_exif(payloads).select(
        "doc_id", "orientation", "exif_datetime", "make", "pixel_x", "pixel_y"
    )


IMAGE_EXIF_SQL = r"""
with s as (
  select doc_id,
         ord(substr(rpad(substr(
             regexp_replace(text, '[^ -~]', '?', 'g'), 1, 1), 1, ' '),
             1, 1)) as o0
  from documents)
select doc_id,
       case when doc_id % 3 <> 0
            then cast(1 + doc_id % 8 as bigint) end as orientation,
       case when doc_id % 3 <> 0
            then '2024:01:' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')
                 || ' 12:00:00' end as exif_datetime,
       case when doc_id % 3 <> 0
            then 'CAMERA-MAKER-' || (doc_id % 5) end as make,
       case when doc_id % 3 <> 0
            then cast(100 + o0 as bigint) end as pixel_x,
       case when doc_id % 3 <> 0
            then cast(200 + doc_id % 50 as bigint) end as pixel_y
from s
"""


def compression_ratio_signal(spark, sf_dir):
    """The "just compress it" quality signal
    (extensions/curation.py:compression_ratio — zlib level pinned,
    integer ppm). zlib has no engine-independent SQL twin, so this is
    the repo's one deliberately ROWS-ONLY gate (no oracle_sql entry;
    the driver records the weaker check) — determinism is instead
    pinned by unit tests asserting exact ppm values for fixed
    strings and cross-run equality."""
    from sqlbackuphistoryetl_spark.extensions.curation import (
        compression_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    return compression_ratio(docs).orderBy("doc_id")


def html_extract_text(spark, sf_dir):
    """HTML → text extraction (functions/htmlfns.py): every document's
    text (with raw &/</> blanked so entity handling stays the gate's
    own) is wrapped in a real page — head/style block, an &nbsp;
    headline, a paragraph, a script whose BODY contains markup, an
    &amp; footer div — and html_to_text must recover exactly
    headline\\ntext\\nfooter under the documented whitespace
    normalization. The oracle never parses HTML: it assembles the
    expected prose directly from the document text and applies the
    same three whitespace regexes, so a tag-stripping, script-content,
    entity-order or newline bug mismatches."""
    from sqlbackuphistoryetl_spark.functions.htmlfns import html_to_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    safe = F.regexp_replace(F.col("text"), r"[&<>]", " ")
    html = F.concat(
        F.lit(
            '<html><head><style>p{color:red}</style></head><body>'
            "<h1>Head&nbsp;Line</h1><p>"
        ),
        safe,
        F.lit(
            '</p><script>var x="<p>sneaky</p>";</script>'
            "<div>Tail &amp; more</div></body></html>"
        ),
    )
    txt = html_to_text(html)
    return docs.select(
        "doc_id",
        F.length(txt).alias("n_chars"),
        F.md5(txt).alias("txt_md5"),
    )


HTML_EXTRACT_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[&<>]', ' ', 'g') as st
  from documents),
raw as (
  select doc_id,
         'Head Line' || chr(10) || st || chr(10) || 'Tail & more' as r
  from s),
norm as (
  select doc_id,
         regexp_replace(regexp_replace(trim(
           regexp_replace(regexp_replace(regexp_replace(r,
             '[ \t\r\f]+', ' ', 'g'),
             ' ?\n ?', chr(10), 'g'),
             '\n{2,}', chr(10), 'g')),
           '^\n+', ''), '\n+$', '') as txt
  from raw)
select doc_id,
       cast(length(txt) as int) as n_chars,
       md5(txt) as txt_md5
from norm
"""


def url_dedup_domain_stats(spark, sf_dir):
    """URL canonicalization + registered-domain rollup
    (functions/urlfns.py): every doc synthesizes TWO crawl variants of
    one page — uppercase host, explicit :443, tracking params, a
    fragment vs. the clean form — entirely with JVM expressions;
    normalize_url must collapse the pair to one exact string, and
    registered_domain (eTLD+1 incl. two-level suffixes like co.uk)
    keys the rollup. The oracle never normalizes anything: it emits
    the expected canonical string closed-form from doc_id, so a port,
    case, param-sort, tracking-filter or suffix-table bug
    mismatches."""
    from sqlbackuphistoryetl_spark.functions.urlfns import (
        normalize_url,
        registered_domain,
        url_host,
    )

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 7).alias("k"),
        (F.col("doc_id") % 20).cast("string").alias("s"),
        (F.col("doc_id") % 50).cast("string").alias("p"),
        (F.col("doc_id") % 3).cast("string").alias("m"),
    )
    tld = F.element_at(
        F.array(*[F.lit(t) for t in
                  ("com", "co.uk", "org", "com.au", "net", "io", "de")]),
        (F.col("k") + 1).cast("int"),
    )
    host = F.concat(F.lit("www.site"), F.col("s"), F.lit("."), tld)
    path = F.concat(F.lit("/p/"), F.col("p"))
    va = F.concat(
        F.lit("HTTPS://"), F.upper(host), F.lit(":443"), path,
        F.lit("?utm_source=x&b="), F.col("m"), F.lit("&a=1#f"),
    )
    vb = F.concat(
        F.lit("https://"), host, path, F.lit("?a=1&b="), F.col("m")
    )
    urls = d.select(F.explode(F.array(va, vb)).alias("url"))
    norm = urls.select(normalize_url("url").alias("url"))
    return (
        norm.withColumn("domain", registered_domain(url_host("url")))
        .groupBy("domain")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max"),
        )
    )


URL_DEDUP_SQL = r"""
with d as (
  select doc_id % 7 as k,
         doc_id % 20 as s,
         doc_id % 50 as p,
         doc_id % 3 as m
  from documents),
u as (
  select ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m
  from d),
urls as (
  select distinct
         'https://www.site' || s || '.' || tld || '/p/' || p
           || '?a=1&b=' || m as url,
         'site' || s || '.' || tld as domain
  from u)
select domain,
       cast(count(*) as bigint) as n_urls,
       min(url) as url_min,
       max(url) as url_max
from urls group by domain
"""


def parquet_compact_roundtrip(spark, sf_dir):
    """Small-file compaction (extensions/maintenance.py): the
    documents table is deliberately fragmented into 48 files in a tmp
    dir, compacted (coalesce to the byte target, atomic rename swap),
    and read back — the oracle reads the ORIGINAL table, so any row
    lost, duplicated or corrupted through the rewrite+swap
    mismatches. The no-op guard and partitioned layout are
    unit-tested; like the webdataset gate, the side effects are
    rmtree-then-write idempotent per sf."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.extensions.maintenance import (
        compact_parquet,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_compact_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".compacting", ignore_errors=True)
    shutil.rmtree(path + ".pre-compact", ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.repartition(48).write.mode("overwrite").parquet(path)
    stats = compact_parquet(spark, path, target_bytes=1 << 30)
    assert stats["skipped"] is False and stats["files_after"] < 48
    return spark.read.parquet(path).select(
        "doc_id", F.md5("text").alias("txt_md5"), "lang"
    )


PARQUET_COMPACT_SQL = r"""
select doc_id, md5(text) as txt_md5, lang from documents
"""


def sentence_split_stats(spark, sf_dir):
    """Rule-based sentence segmentation
    (functions/textfns.py:split_sentences): the deliberately
    lookaround-free pattern runs verbatim under Java regex AND RE2, so
    the oracle applies the SAME pattern + trim + drop-empty chain in
    DuckDB and every (doc, index, sentence) row must hash-match — a
    pattern-semantics, trim, index or empty-fragment bug
    mismatches."""
    from sqlbackuphistoryetl_spark.functions.textfns import split_sentences

    docs = _t(spark, sf_dir, "documents")
    return split_sentences(docs).select(
        "doc_id",
        "sent_idx",
        F.md5("sentence").alias("sent_md5"),
        "n_chars",
    )


SENTENCE_SPLIT_SQL = r"""
with s as (
  select doc_id,
         list_filter(list_transform(
             regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+'),
             x -> trim(x)), x -> x <> '') as sents
  from documents),
e as (
  select doc_id, i - 1 as sent_idx, sents[i] as sentence
  from s, unnest(generate_series(1, len(sents))) as t(i))
select doc_id,
       cast(sent_idx as int) as sent_idx,
       md5(sentence) as sent_md5,
       cast(length(sentence) as int) as n_chars
from e
"""


def pq_adc_search(spark, sf_dir):
    """Product-quantization encode + asymmetric-distance search
    (extensions/similarity.py: pq_encode / pq_adc_topk — the IVF-PQ
    memory architecture's other half: a 64-dim vector becomes 4 codes
    here). The gate is INTEGER-EXACT end to end: embeddings floor-
    quantize to milli-units JVM-side before encoding, and the fixed
    codebooks are integer constant-fills (value 250(c+1) − 600 + 50j),
    so every distance, argmin and ADC sum is the same exact integer in
    numpy, Spark and DuckDB — constant-fill centroids collapse the
    argmin to a scalar threshold on sum(x), where float ulp noise
    flipped codes between engines until the quantization (found by the
    sf0.001 sim). The oracle recomputes encode, the query's m×k table,
    the ADC and the ranked top-10 entirely in SQL; ``code_sig`` pins
    the codes themselves, not just the distance they imply."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    books = [
        [[float(250 * (c + 1) - 600 + 50 * j)] * 16 for c in range(4)]
        for j in range(4)
    ]
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("double")
        ).alias("embedding"),
    )
    codes = pq_encode(emb, books)
    out = pq_adc_topk(codes, books, emb.filter(F.col("vec_id") == 0), topk=10)
    return (
        out.join(codes, out["neighbor_id"] == codes["vec_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.concat_ws("-", F.col("codes").cast("array<string>")).alias(
                "code_sig"
            ),
            F.col("adc").cast("long").alias("adc"),
            "rank",
        )
    )


PQ_ADC_SQL = r"""
with p as (select unnest(generate_series(0, 3)) as j),
cc as (select unnest(generate_series(0, 3)) as c),
d as (
  select e.vec_id, p.j, cc.c,
         list_sum(list_transform(
             e.embedding[p.j * 16 + 1 : p.j * 16 + 16],
             x -> (floor(x::double * 1000)
                   - (250 * (cc.c + 1) - 600 + 50 * p.j)) ^ 2))::bigint
           as dist
  from embeddings e, p, cc),
codes as (
  select vec_id, j, c as code
  from (select *, row_number() over (partition by vec_id, j
                                     order by dist, c) as rn
        from d)
  where rn = 1),
sig as (
  select vec_id, string_agg(code, '-' order by j) as code_sig
  from codes group by vec_id),
qt as (select j, c, dist from d where vec_id = 0),
adc as (
  select codes.vec_id as neighbor_id, sum(qt.dist) as adc_full
  from codes join qt on codes.j = qt.j and codes.code = qt.c
  group by codes.vec_id),
ranked as (
  select neighbor_id, adc_full,
         row_number() over (order by adc_full, neighbor_id) as rank
  from adc)
select cast(0 as bigint) as query_id,
       r.neighbor_id,
       s.code_sig,
       cast(r.adc_full as bigint) as adc,
       r.rank
from ranked r join sig s on s.vec_id = r.neighbor_id
where r.rank <= 10
"""

def ivf_pq_search(spark, sf_dir):
    """The full IVF-PQ architecture end to end
    (extensions/similarity.py: ivf_pq_encode / ivf_pq_topk): coarse
    cell assignment, RESIDUAL PQ codes, and a 2-probe ADC search whose
    per-cell lookup tables come from the query's residual against each
    probed cell. Integer-exact like the PQ gate (floor-quantized
    embeddings, constant-fill integer coarse centroids 400c − 600 and
    residual codebooks 125(c+1) − 300 + 25j), so the oracle replays
    cell argmin, residual encode, probe selection, per-cell tables,
    ADC and the ranked top-10 entirely in SQL with no float
    ambiguity — a residual-vs-raw, probe-order or per-cell-table bug
    mismatches."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        ivf_pq_encode,
        ivf_pq_topk,
    )

    coarse = [[float(400 * c - 600)] * 64 for c in range(4)]
    books = [
        [[float(125 * (c + 1) - 300 + 25 * j)] * 16 for c in range(4)]
        for j in range(4)
    ]
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("double")
        ).alias("embedding"),
    )
    idx = ivf_pq_encode(emb, coarse, books)
    out = ivf_pq_topk(
        idx, coarse, books, emb.filter(F.col("vec_id") == 0),
        n_probe=2, topk=10,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("adc").cast("long").alias("adc"),
        "rank",
    )


IVF_PQ_SQL = r"""
with e as (
  select vec_id,
         list_transform(embedding,
             x -> cast(floor(x::double * 1000) as bigint)) as v
  from embeddings),
cells as (select unnest(generate_series(0, 3)) as c),
dc as (
  select e.vec_id, c.c,
         cast(list_sum(list_transform(e.v,
             x -> (x - (400 * c.c - 600)) ^ 2)) as bigint) as d
  from e, cells c),
assign as (
  select vec_id, c as cell
  from (select *, row_number() over (partition by vec_id
                                     order by d, c) as rn from dc)
  where rn = 1),
subs as (select unnest(generate_series(0, 3)) as j),
ks as (select unnest(generate_series(0, 3)) as k2),
dsub as (
  select e.vec_id, a.cell, s.j, k2.k2,
         cast(list_sum(list_transform(
             e.v[s.j * 16 + 1 : s.j * 16 + 16],
             x -> (x - (400 * a.cell - 600)
                   - (125 * (k2.k2 + 1) - 300 + 25 * s.j)) ^ 2))
           as bigint) as d
  from e join assign a using (vec_id), subs s, ks k2),
codes as (
  select vec_id, cell, j, k2 as code
  from (select *, row_number() over (partition by vec_id, j
                                     order by d, k2) as rn from dsub)
  where rn = 1),
probe as (
  select c as cell
  from (select c, row_number() over (order by d, c) as rn
        from dc where vec_id = 0)
  where rn <= 2),
qtab as (
  select p.cell, s.j, k2.k2,
         cast(list_sum(list_transform(
             q.v[s.j * 16 + 1 : s.j * 16 + 16],
             x -> (x - (400 * p.cell - 600)
                   - (125 * (k2.k2 + 1) - 300 + 25 * s.j)) ^ 2))
           as bigint) as d
  from (select v from e where vec_id = 0) q, probe p, subs s, ks k2),
adc as (
  select c.vec_id as neighbor_id, c.cell, sum(t.d) as adc_full
  from codes c
  join qtab t on t.cell = c.cell and t.j = c.j and t.k2 = c.code
  group by c.vec_id, c.cell),
ranked as (
  select neighbor_id, cell, adc_full,
         row_number() over (order by adc_full, neighbor_id) as rank
  from adc)
select cast(0 as bigint) as query_id,
       neighbor_id,
       cast(cell as int) as cell,
       cast(adc_full as bigint) as adc,
       rank
from ranked where rank <= 10
"""


UNIGRAM_GATE_VOCAB = {
    "th": 3, "he": 3, "an": 4,
    "a": 6, "t": 6, "h": 7, "e": 5, "s": 6, "o": 6, "i": 6, "n": 6, "d": 7,
}


def unigram_segment_viterbi(spark, sf_dir):
    """Unigram-LM Viterbi segmentation under a FIXED integer-cost
    vocab (extensions/unigram.py — SentencePiece's inference: the
    GLOBALLY cheapest split, which disagrees with WordPiece's greedy
    exactly where a long piece forces an expensive tail; 'the' splits
    th+e at cost 8 where greedy's th+e ties but 'than' splits th+an=7
    vs greedy th+a+n=16... the vocab is built so both regimes occur).
    The DP value is the single integer cost*1024+pieces, so the oracle
    REPLAYS the recurrence as a recursive CTE carrying the two-slot
    sliding window (dp[j-1], dp[j-2]) — one recursion step per
    character, min over the 1-char (UNK-backed) and 2-char
    transitions — and equality of the summed encoded DP values proves
    the whole lattice, not just a sampled path."""
    from sqlbackuphistoryetl_spark.extensions.unigram import (
        unigram_segment_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    seg = unigram_segment_corpus(
        docs, UNIGRAM_GATE_VOCAB, word_pattern=r"[a-z]+", lowercase=True
    )
    return seg.select("doc_id", "n_tokens", "total_cost", "encoded_total")


UNIGRAM_SQL = r"""
with recursive
w as (
  -- r9 advice: mirror unigram.MAX_WORD_CHARS — the engine collapses
  -- words over 200 chars to [UNK] (enc = 20*1024 + 1), which is
  -- exactly one unknown char ('x' is outside the gate vocab, unknown
  -- chars cost UNK_COST = 20), so substitute instead of recursing
  select doc_id, i as pos,
         case when len(words[i]) > 200 then 'x' else words[i] end as word
  from (select doc_id, regexp_extract_all(lower(text), '[a-z]+') as words,
               unnest(generate_series(1,
                      len(regexp_extract_all(lower(text), '[a-z]+')))) as i
        from documents)),
step as (
  select doc_id, pos, word, 0 as j,
         cast(0 as bigint) as d1, cast(null as bigint) as d2
  from w
  union all
  select doc_id, pos, word, j + 1,
         least(
           d1 + case substr(word, j + 1, 1)
                  when 'a' then 6 when 't' then 6 when 'h' then 7
                  when 'e' then 5 when 's' then 6 when 'o' then 6
                  when 'i' then 6 when 'n' then 6 when 'd' then 7
                  else 20 end * 1024 + 1,
           coalesce(
             d2 + case substr(word, j, 2)
                    when 'th' then 3 when 'he' then 3 when 'an' then 4
                    end * 1024 + 1,
             (cast(1 as bigint) << 60))
         ) as d1,
         d1 as d2
  from step
  where j < len(word)),
terminal as (
  select doc_id, pos, d1 as enc from step where j = len(word)),
per_doc as (
  select doc_id,
         sum(enc % 1024) as n_tokens,
         sum(enc // 1024) as total_cost,
         sum(enc) as encoded_total
  from terminal group by doc_id)
select d.doc_id,
       cast(coalesce(n_tokens, 0) as int) as n_tokens,
       cast(coalesce(total_cost, 0) as bigint) as total_cost,
       cast(coalesce(encoded_total, 0) as bigint) as encoded_total
from documents d left join per_doc p on d.doc_id = p.doc_id
"""


def unigram_fit_segment(spark, sf_dir):
    """Unigram-LM TRAINING end-to-end (extensions/unigram.py:
    unigram_fit, r12 — Kudo 2018 seed→EM→prune as hard-EM with
    integer bit-costs): fit a vocab on the corpus itself (all single
    chars + top-20 bigram substrings, one Viterbi-EM iteration, prune
    to 12 multi pieces, costs = bit_length((total<<4)//count)), then
    segment the corpus under the FITTED vocab. The oracle re-derives
    the ENTIRE fit in SQL — substring seed counts, a recursive-CTE
    Viterbi forward pass under seed costs, a second recursive
    BACKTRACE walk re-extracting the best-path pieces (choose the
    1-char arm iff it reproduces dp[j], the engine's shortest-piece
    tie-break), expected-count pruning, add-one char smoothing, the
    integer re-cost, and a THIRD recursion segmenting under the
    refit costs — so a seed-selection, EM-count, prune-order,
    smoothing or re-cost bug shifts the summed encoded DP values and
    hash-mismatches. Every quantity is an integer end-to-end (no libm
    in either engine or oracle)."""
    from sqlbackuphistoryetl_spark.extensions.unigram import (
        unigram_fit,
        unigram_segment_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = unigram_fit(
        docs,
        seed_multi=20,
        prune_to_multi=12,
        n_iters=1,
        max_piece_len=2,
        word_pattern=r"[a-z]+",
        lowercase=True,
    )
    seg = unigram_segment_corpus(
        docs, vocab, word_pattern=r"[a-z]+", lowercase=True
    )
    return seg.select("doc_id", "n_tokens", "total_cost", "encoded_total")


#: shared CTE prefix: seed counts → Viterbi → backtrace → prune →
#: refit costs (cost1) — unigram_fit_segment appends the second
#: segmentation pass, unigram_fit_vocab reads cost1 directly
_UNIGRAM_FIT_CTES = r"""
with recursive
wc as (
  select word, count(*) as wcount
  from (select unnest(regexp_extract_all(lower(text), '[a-z]+')) as word
        from documents)
  group by word),
cand as (
  select piece, sum(wcount) as cnt
  from (select substr(word, i, l) as piece, wcount
        from wc,
             unnest(generate_series(1, len(word))) as t(i),
             unnest(generate_series(1, 2)) as u(l)
        where i + l - 1 <= len(word))
  group by piece),
chars as (select piece, cnt from cand where len(piece) = 1),
multi0 as (
  select piece, cnt from cand where len(piece) = 2
  order by cnt desc, piece limit 20),
seed as (select * from chars union all select * from multi0),
cost0 as (
  select piece,
         length(bin(((select sum(cnt) from seed) * 16) // cnt)) as cost
  from seed),
step1 as (
  select word, wcount, 0 as j,
         cast(0 as bigint) as d1, cast(null as bigint) as d2
  from wc
  union all
  select s.word, s.wcount, s.j + 1,
         least(
           s.d1 + c1.cost * 1024 + 1,
           coalesce(s.d2 + c2.cost * 1024 + 1, cast(1 as bigint) << 60)
         ) as d1,
         s.d1 as d2
  from step1 s
  left join cost0 c1 on c1.piece = substr(s.word, s.j + 1, 1)
  left join cost0 c2 on s.j >= 1 and c2.piece = substr(s.word, s.j - 1 + 1, 2)
  where s.j < len(s.word)),
back as (
  select word, wcount, len(word) as j, cast(null as varchar) as piece
  from wc
  union all
  select b.word, b.wcount,
         case when f1.d1 + c1.cost * 1024 + 1 = fj.d1
              then b.j - 1 else b.j - 2 end as j,
         case when f1.d1 + c1.cost * 1024 + 1 = fj.d1
              then substr(b.word, b.j, 1)
              else substr(b.word, b.j - 1, 2) end as piece
  from back b
  join step1 fj on fj.word = b.word and fj.j = b.j
  join step1 f1 on f1.word = b.word and f1.j = b.j - 1
  join cost0 c1 on c1.piece = substr(b.word, b.j, 1)
  where b.j > 0),
ecount as (
  select piece, sum(wcount) as cnt from back
  where piece is not null
  group by piece),
keep as (
  select piece, cnt from ecount where len(piece) = 2
  order by cnt desc, piece limit 12),
m1 as (
  select c.piece, greatest(coalesce(e.cnt, 0), 1) as cnt
  from chars c left join ecount e on e.piece = c.piece
  union all
  select piece, cnt from keep),
cost1 as (
  select piece,
         length(bin(((select sum(cnt) from m1) * 16) // cnt)) as cost
  from m1)"""

UNIGRAM_FIT_SQL = _UNIGRAM_FIT_CTES + r""",
step2 as (
  select word, 0 as j, cast(0 as bigint) as d1, cast(null as bigint) as d2
  from wc
  union all
  select s.word, s.j + 1,
         least(
           s.d1 + c1.cost * 1024 + 1,
           coalesce(s.d2 + c2.cost * 1024 + 1, cast(1 as bigint) << 60)
         ) as d1,
         s.d1 as d2
  from step2 s
  left join cost1 c1 on c1.piece = substr(s.word, s.j + 1, 1)
  left join cost1 c2 on s.j >= 1 and c2.piece = substr(s.word, s.j - 1 + 1, 2)
  where s.j < len(s.word)),
term as (select word, d1 as enc from step2 where j = len(word)),
docw as (
  select doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) as word
  from documents),
per_doc as (
  select d.doc_id,
         sum(t.enc % 1024) as n_tokens,
         sum(t.enc // 1024) as total_cost,
         sum(t.enc) as encoded_total
  from docw d join term t on t.word = d.word
  group by d.doc_id)
select doc.doc_id,
       cast(coalesce(p.n_tokens, 0) as int) as n_tokens,
       cast(coalesce(p.total_cost, 0) as bigint) as total_cost,
       cast(coalesce(p.encoded_total, 0) as bigint) as encoded_total
from documents doc left join per_doc p on doc.doc_id = p.doc_id
"""

def unigram_fit_vocab(spark, sf_dir):
    """The unigram trainer's learned MODEL pinned directly (r12,
    extensions/unigram.py: unigram_fit — same fixture and parameters
    as unigram_fit_segment): the fitted vocabulary surfaces as
    (piece, cost) rows, so the oracle's replay of the fit (seed
    counts, Viterbi + backtrace E-step, prune, add-one smoothing,
    integer bit-cost M-step) is compared piece-by-piece instead of
    through downstream segmentations — a pruning-order or smoothing
    bug that happens not to move any segmentation still
    hash-mismatches here."""
    from sqlbackuphistoryetl_spark.extensions.unigram import unigram_fit

    docs = _t(spark, sf_dir, "documents")
    vocab = unigram_fit(
        docs,
        seed_multi=20,
        prune_to_multi=12,
        n_iters=1,
        max_piece_len=2,
        word_pattern=r"[a-z]+",
        lowercase=True,
    )
    return spark.createDataFrame(
        sorted(vocab.items()), "piece string, cost int"
    )


UNIGRAM_VOCAB_SQL = _UNIGRAM_FIT_CTES + """
select piece, cast(cost as int) as cost from cost1
"""


WORDPIECE_GATE_VOCAB = [
    "th", "he", "an",
    "a", "t", "h", "e", "s", "o", "i", "n", "d",
    "##th", "##he", "##an",
    "##a", "##t", "##h", "##e", "##s", "##o", "##i", "##n", "##d",
]


def wordpiece_segment_fixed(spark, sf_dir):
    """WordPiece greedy longest-match segmentation under a FIXED vocab
    (extensions/wordpiece.py — the BERT inference tokenizer: longest
    piece at each position, ``##`` continuation prefix, whole-word
    [UNK] on any failure; Python runs once per DISTINCT word, the
    corpus re-assembles JVM-side). The oracle REPLAYS the greedy scan
    as a recursive CTE (the stateful-oracle pattern the ADPCM gate
    established): one recursion step per consumed piece, 2-char
    candidates tried before 1-char, failure collapsing the word to
    [UNK] — so a longest-match ordering, continuation-prefix or
    fallback bug mismatches. Output (doc_id, n_tokens, tok_md5) like
    the BPE segmentation gate."""
    from sqlbackuphistoryetl_spark.extensions.wordpiece import (
        wordpiece_segment_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    seg = wordpiece_segment_corpus(
        docs, WORDPIECE_GATE_VOCAB, word_pattern=r"[a-z]+", lowercase=True
    )
    return seg.select(
        "doc_id",
        "n_tokens",
        F.md5(F.concat_ws("\x1e", "tokens")).alias("tok_md5"),
    )


WORDPIECE_SQL = r"""
with recursive
w as (
  -- r9 advice: mirror wordpiece's 200-char guard — over-long words
  -- collapse to whole-word [UNK]; a single out-of-vocab char ('x')
  -- takes the same failure branch in one recursion step
  select doc_id, i as pos,
         case when len(words[i]) > 200 then 'x' else words[i] end as word
  from (select doc_id, regexp_extract_all(lower(text), '[a-z]+') as words,
               unnest(generate_series(1,
                      len(regexp_extract_all(lower(text), '[a-z]+')))) as i
        from documents)),
step as (
  select doc_id, pos, word, 1 as cur, cast('' as varchar) as toks
  from w
  union all
  select doc_id, pos, word,
         case when l2 then cur + 2
              when l1 then cur + 1
              else len(word) + 1 end as cur,
         case when not (l1 or l2) then '[UNK]'
              else toks
                   || case when toks = '' then '' else chr(30) end
                   || case when cur > 1 then '##' else '' end
                   || substr(word, cur, case when l2 then 2 else 1 end)
         end as toks
  from (select doc_id, pos, word, cur, toks,
               cur + 1 <= len(word)
                 and substr(word, cur, 2) in ('th', 'he', 'an') as l2,
               substr(word, cur, 1)
                 in ('a','t','h','e','s','o','i','n','d') as l1
        from step
        where cur <= len(word))),
terminal as (
  select doc_id, pos, toks from step where cur > len(word)),
per_doc as (
  select doc_id, string_agg(toks, chr(30) order by pos) as all_toks
  from terminal group by doc_id)
select d.doc_id,
       cast(case when coalesce(all_toks, '') = '' then 0
                 else len(string_split(all_toks, chr(30))) end as int)
         as n_tokens,
       md5(coalesce(all_toks, '')) as tok_md5
from documents d left join per_doc p on d.doc_id = p.doc_id
"""


def media_info_mixed(spark, sf_dir):
    """Header-only media triage over a MIXED-format corpus
    (extensions/multimodal.media_info): each document becomes a
    payload whose container rotates by doc_id mod 4 — grayscale PNG,
    grayscale baseline JPEG, multi-frame GIF, or mono FLAC — with
    geometry/frame-count/sample-count derived from the first text
    bytes. media_info then parses HEADERS ONLY (IHDR, SOF, GIF block
    walk, STREAMINFO; no entropy decode) and the oracle recomputes
    every field closed-form from doc_id and ``ord()`` — a dispatch,
    dimension-endianness, frame-count or channel-map bug mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.flac_codec import encode_flac
    from sqlbackuphistoryetl_spark.extensions.gif_codec import (
        encode_gif_indexed,
    )
    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import encode_jpeg
    from sqlbackuphistoryetl_spark.extensions.multimodal import media_info
    from sqlbackuphistoryetl_spark.extensions.png_codec import encode_png
    from sqlbackuphistoryetl_spark.extensions.wav_codec import DecodedAudio

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )
    gray_palette = bytes(b for g in range(16) for b in (g, g, g))

    def _mk(it):
        import pandas as pd

        def mk(doc_id, t):
            s = re.sub(r"[^ -~]", "?", t)[:3].ljust(3, " ").encode("ascii")
            m = doc_id % 4
            w, h = 1 + s[0] % 16, 1 + s[1] % 16
            if m == 0:
                return encode_png(bytes(w * h), w, h, 1)
            if m == 1:
                return encode_jpeg(bytes(w * h), w, h, 1)
            if m == 2:
                frames = [{"indices": bytes(w * h)}] * (1 + s[2] % 3)
                return encode_gif_indexed(w, h, gray_palette, frames)
            n = 32 + s[0]
            return encode_flac(
                DecodedAudio(16000, 1, [(i * 3) - 100 for i in range(n)])
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return media_info(payloads)


MEDIA_INFO_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 3),
              3, ' ') as s
  from documents),
o as (
  select doc_id, doc_id % 4 as m,
         ord(substr(s, 1, 1)) as o0,
         ord(substr(s, 2, 1)) as o1,
         ord(substr(s, 3, 1)) as o2
  from s)
select doc_id,
       case m when 0 then 'png' when 1 then 'jpeg'
              when 2 then 'gif' else 'flac' end as format,
       case when m <= 2 then cast(1 + o0 % 16 as bigint) end as width,
       case when m <= 2 then cast(1 + o1 % 16 as bigint) end as height,
       case when m <= 1 then cast(1 as bigint)
            when m = 2 then cast(1 + o2 % 3 as bigint) end as n_frames,
       cast(case when m = 2 then 3 else 1 end as bigint) as channels,
       case when m = 3 then cast(16000 as bigint) end as sample_rate,
       case when m = 3 then cast(32 + o0 as bigint) end as n_samples,
       cast(case when m = 3 then 16 else 8 end as bigint) as bit_depth
from o
"""


def media_info_mp4(spark, sf_dir):
    """MP4/ISO-BMFF header triage (extensions/mp4_codec.py, r10): each
    document becomes a two-track MP4 whose geometry, frame count,
    channel layout, sample rate and sample count derive from the first
    text bytes; the full-box version (v0 32-bit vs v1 64-bit layouts)
    alternates by doc_id parity and every third payload carries a
    64-bit-largesize mdat, so BOTH offset layouts and the largesize
    header sit under the oracle. media_info walks boxes only (mdat is
    skipped by its size field — H.264/AAC stay un-decoded per the
    perceptual-codec doctrine); the oracle recomputes every field
    closed-form from ``ord()``, so a box-offset, fixed-point-16.16, or
    version-branch bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import media_info

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.mp4_codec import build_mp4

        def mk(d, t):
            s = re.sub(r"[^ -~]", "?", t)[:3].ljust(3, " ").encode("ascii")
            return build_mp4(
                brand="mp42",
                timescale=1000,
                duration=1000 * (1 + s[2] % 60),
                width=100 + s[0],
                height=50 + s[1],
                n_frames=10 + s[2],
                channels=1 + s[0] % 2,
                sample_rate=8000 * (1 + s[1] % 4),
                bit_depth=16,
                n_samples=977 + s[2] * 7,
                version=d % 2,
                mdat_largesize=(d % 3 == 0),
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return media_info(payloads)


MEDIA_INFO_MP4_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 3),
              3, ' ') as s
  from documents),
o as (
  select doc_id,
         ord(substr(s, 1, 1)) as o0,
         ord(substr(s, 2, 1)) as o1,
         ord(substr(s, 3, 1)) as o2
  from s)
select doc_id,
       'mp4' as format,
       cast(100 + o0 as bigint) as width,
       cast(50 + o1 as bigint) as height,
       cast(10 + o2 as bigint) as n_frames,
       cast(1 + o0 % 2 as bigint) as channels,
       cast(8000 * (1 + o1 % 4) as bigint) as sample_rate,
       cast(977 + o2 * 7 as bigint) as n_samples,
       cast(16 as bigint) as bit_depth
from o
"""


def multimodal_jpeg_12bit(spark, sf_dir):
    """12-bit extended-sequential JPEG (SOF1, r10) through the real
    codec chain: each document's first 4 sanitized chars become the
    four 8x8 blocks of a 16x16 grayscale frame, encoded at precision
    12 (16-bit DQT entries, wide Huffman tables, coded samples << 4)
    and decoded back at the pipeline's 8-bit depth — blockwise-
    constant content keeps the FDCT/IDCT float-noise-free, so the
    oracle recomputes the exact luminance stats from ``ord()``. A
    precision-byte, 16-bit-DQT, wide-table or >>4 emission bug
    hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.jpeg_codec import (
        QUANT_FLAT8,
        encode_jpeg,
    )
    from sqlbackuphistoryetl_spark.extensions.multimodal import image_quality

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:4].ljust(4, " ").encode("ascii")
            px = bytes(
                s[(r // 8) * 2 + (c // 8)]
                for r in range(16)
                for c in range(16)
            )
            return encode_jpeg(
                px, 16, 16, 1, quant_luma=QUANT_FLAT8, precision=12
            )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_quality(payloads).select(
        "doc_id", "width", "height", "mean_lum", "min_lum", "max_lum",
        "n_distinct_lum", "is_flat", "decoder",
    )


MULTIMODAL_JPEG12_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 4),
              4, ' ') as s
  from documents),
b as (
  select doc_id, cast(ord(substr(s, j + 1, 1)) as bigint) as v
  from s, unnest(generate_series(0, 3)) as u(j))
select doc_id,
       cast(16 as bigint) as width,
       cast(16 as bigint) as height,
       cast(sum(v * 64) // 256 as bigint) as mean_lum,
       min(v) as min_lum,
       max(v) as max_lum,
       cast(count(distinct v) as bigint) as n_distinct_lum,
       case when min(v) = max(v) then 'y' else 'n' end as is_flat,
       'jpeg-baseline' as decoder
from b group by doc_id
"""


def media_info_web(spark, sf_dir):
    """Header triage for the open-web trio (r10): WebP (lossy, VP8L
    lossless, VP8X extended+animation — rotating by text byte), MP3
    (Layer III frame-header walk, frame count x 1152 = duration), and
    Ogg (OpusHead/Vorbis identification + last-page granule, Opus
    pre-skip subtracted). Entropy decode stays gated per the
    perceptual-codec doctrine; every reported field is a header walk
    the oracle recomputes closed-form from ``ord()`` — a 14-bit
    dimension unpack, frame-length computation, granule or pre-skip
    bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import media_info

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.mp3_codec import build_mp3
        from sqlbackuphistoryetl_spark.extensions.ogg_codec import build_ogg
        from sqlbackuphistoryetl_spark.extensions.webp_codec import build_webp

        def mk(d, t):
            s = re.sub(r"[^ -~]", "?", t)[:3].ljust(3, " ").encode("ascii")
            m = d % 3
            if m == 0:
                form = ["lossy", "lossless", "extended"][s[2] % 3]
                return build_webp(
                    form, 100 + s[0], 20 + s[1],
                    has_alpha=(form != "lossy" and s[0] % 2 == 1),
                    n_frames=(1 + s[2] % 4) if form == "extended" else 1,
                )
            if m == 1:
                return build_mp3(
                    5 + s[0] % 20,
                    [44100, 48000, 32000][s[1] % 3],
                    128,
                    1 + s[2] % 2,
                    id3=(s[0] % 2 == 0),
                )
            return build_ogg(
                "opus" if s[0] % 2 else "vorbis",
                1 + s[1] % 2,
                8000 * (1 + s[2] % 5),
                500 + s[0] * 3,
                pre_skip=312 if s[0] % 2 else 0,
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return media_info(payloads)


MEDIA_INFO_WEB_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 3),
              3, ' ') as s
  from documents),
o as (
  select doc_id, doc_id % 3 as m,
         ord(substr(s, 1, 1)) as o0,
         ord(substr(s, 2, 1)) as o1,
         ord(substr(s, 3, 1)) as o2
  from s)
select doc_id,
       case m when 0 then 'webp' when 1 then 'mp3' else 'ogg' end
         as format,
       case when m = 0 then cast(100 + o0 as bigint) end as width,
       case when m = 0 then cast(20 + o1 as bigint) end as height,
       case when m = 0 then
              cast(case when o2 % 3 = 2 then 1 + o2 % 4 else 1 end
                   as bigint)
            when m = 1 then cast(5 + o0 % 20 as bigint) end as n_frames,
       case when m = 0 then
              cast(case when o2 % 3 != 0 and o0 % 2 = 1 then 4 else 3 end
                   as bigint)
            when m = 1 then cast(1 + o2 % 2 as bigint)
            else cast(1 + o1 % 2 as bigint) end as channels,
       case when m = 1 then
              cast(case o1 % 3 when 0 then 44100 when 1 then 48000
                   else 32000 end as bigint)
            when m = 2 then cast(8000 * (1 + o2 % 5) as bigint)
         end as sample_rate,
       case when m = 1 then cast((5 + o0 % 20) * 1152 as bigint)
            when m = 2 then cast(500 + o0 * 3 as bigint)
         end as n_samples,
       case when m = 0 then cast(8 as bigint) end as bit_depth
from o
"""


def multimodal_g711_audio(spark, sf_dir):
    """G.711 mu-law telephony audio through the real WAV chain
    (wav_codec format tag 7, r8): each document's first 128 sanitized
    bytes (doubled mod 256, so expanded samples carry both signs)
    become the companded byte stream of a mu-law WAV; decode expands
    every byte through the standard G.711 table to the int16 range and
    the gate emits the 4-block (mean |amplitude|, zero crossings)
    quality integers. The oracle recomputes the expansion CLOSED-FORM
    from ``ord()`` — u = 255 - v, magnitude ((8m + 132) << e) - 132 —
    so a table, sign, or exponent bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        block_features,
        decode_wav,
        encode_g711_wav,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ")
            data = bytes((b * 2) % 256 for b in s.encode("ascii"))
            wav = encode_g711_wav(data, 8000, 1, law="ulaw")
            feats = block_features(decode_wav(wav), n_blocks=4)
            return [v for pair in feats for v in pair]

        for pdf in it:
            rows = pdf["text"].map(mk)
            out = {"doc_id": pdf["doc_id"]}
            for b in range(4):
                out[f"amp{b}"] = rows.map(lambda r, b=b: r[2 * b])
                out[f"zc{b}"] = rows.map(lambda r, b=b: r[2 * b + 1])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        _mk,
        "doc_id long, amp0 long, zc0 long, amp1 long, zc1 long, "
        "amp2 long, zc2 long, amp3 long, zc3 long",
    )


MULTIMODAL_G711_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
expanded as (
  select doc_id, j, (j * 4) // 128 as b,
         255 - ((ord(substr(s, j + 1, 1)) * 2) % 256) as u
  from s, unnest(generate_series(0, 127)) as t(j)),
samp as (
  select doc_id, j, b,
         cast(case when u >= 128 then -1 else 1 end
              * ((((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))) - 132)
              as bigint) as x
  from expanded),
samp2 as (
  select doc_id, b, x,
         lag(x) over (partition by doc_id, b order by j) as px
  from samp),
feat as (
  select doc_id, b,
         cast(sum(abs(x)) // count(*) as bigint) as amp,
         cast(sum(case when (px < 0) <> (x < 0) then 1 else 0 end)
              as bigint) as zc
  from samp2 group by doc_id, b)
select doc_id,
       max(case when b = 0 then amp end) as amp0,
       max(case when b = 0 then zc end) as zc0,
       max(case when b = 1 then amp end) as amp1,
       max(case when b = 1 then zc end) as zc1,
       max(case when b = 2 then amp end) as amp2,
       max(case when b = 2 then zc end) as zc2,
       max(case when b = 3 then amp end) as amp3,
       max(case when b = 3 then zc end) as zc3
from feat group by doc_id
"""


def multimodal_adpcm_audio(spark, sf_dir):
    """IMA ADPCM (WAV format tag 0x11) — the STATEFUL codec gate: each
    document's first 64 sanitized bytes become the nibble stream of a
    one-block mono ADPCM WAV (initial predictor 0, step index 0);
    decode runs the real block walk (header parse + 128
    ``ima_adpcm_step`` transitions, cross-validated byte-for-byte
    against CPython's audioop) and the gate emits exact stream
    reductions (sample count, final predictor, sum, abs-sum). The
    oracle replays the SAME recurrence in pure SQL — a RECURSIVE CTE
    stepping (predictor, index) through the step/index tables — so a
    clamp, sign, nibble-order or table bug hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        decode_wav,
        encode_ima_adpcm_wav,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:64].ljust(64, " ")
            a = decode_wav(encode_ima_adpcm_wav(s.encode("ascii")))
            xs = list(a.samples)
            return (
                len(xs),
                xs[-1],
                sum(xs),
                sum(abs(x) for x in xs),
            )

        for pdf in it:
            rows = pdf["text"].map(mk)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": rows.map(lambda r: r[0]),
                    "last_sample": rows.map(lambda r: r[1]),
                    "sum_samples": rows.map(lambda r: r[2]),
                    "sum_abs": rows.map(lambda r: r[3]),
                }
            )

    return docs.mapInPandas(
        _mk,
        "doc_id long, n_samples long, last_sample long, "
        "sum_samples long, sum_abs long",
    )


def _adpcm_oracle_sql() -> str:
    from sqlbackuphistoryetl_spark.extensions.wav_codec import (
        IMA_INDEX_ADJUST,
        IMA_STEP_TABLE,
    )

    steps = ", ".join(
        f"({i}, {s})" for i, s in enumerate(IMA_STEP_TABLE)
    )
    adjs = ", ".join(f"({k}, {a})" for k, a in enumerate(IMA_INDEX_ADJUST))
    delta = (
        "(st.st // 8)"
        " + case when nib.n % 8 >= 4 then st.st else 0 end"
        " + case when (nib.n // 2) % 2 = 1 then st.st // 2 else 0 end"
        " + case when nib.n % 2 = 1 then st.st // 4 else 0 end"
    )
    return f"""
with recursive s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 64),
              64, ' ') as s
  from documents),
nib as (
  select doc_id, j,
         case when j % 2 = 0
              then ord(substr(s, j // 2 + 1, 1)) % 16
              else ord(substr(s, j // 2 + 1, 1)) // 16 end as n
  from s, unnest(generate_series(0, 127)) as t(j)),
stepmap(i, st) as (values {steps}),
adjmap(k, adj) as (values {adjs}),
walk(doc_id, j, pred, idx, ssum, sabs) as (
  select doc_id, -1, 0, 0, cast(0 as bigint), cast(0 as bigint) from s
  union all
  select doc_id, j, pred2, idx2,
         ssum + pred2, sabs + abs(pred2)
  from (
    select w.doc_id, nib.j as j, w.ssum, w.sabs,
           cast(greatest(-32768, least(32767,
             w.pred + case when nib.n >= 8
                           then -({delta}) else ({delta}) end))
                as bigint) as pred2,
           greatest(0, least(88, w.idx + a.adj)) as idx2
    from walk w
    join nib on nib.doc_id = w.doc_id and nib.j = w.j + 1
    join stepmap st on st.i = w.idx
    join adjmap a on a.k = nib.n % 8) q)
select doc_id,
       cast(129 as bigint) as n_samples,
       cast(pred as bigint) as last_sample,
       ssum as sum_samples,
       sabs as sum_abs
from walk where j = 127
"""


MULTIMODAL_ADPCM_SQL = _adpcm_oracle_sql()


def multimodal_image_quality(spark, sf_dir):
    """Image quality signals through the real PNG chain
    (multimodal.image_quality): the dhash gate's 16x8 grayscale
    payloads, decoded from their containers, reduced to exact-integer
    luminance stats — geometry, floor-mean, min/max, distinct level
    count, and the flat-image flag that drops blank thumbnails. The
    oracle recomputes every stat from ``ord()`` over the sanitized
    string; a decode, luminance or integer-division discrepancy
    hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import image_quality
    from sqlbackuphistoryetl_spark.extensions.png_codec import encode_png

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:128].ljust(128, " ")
            return encode_png(s.encode("ascii"), 16, 8, 1)

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["text"].map(mk)}
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return image_quality(payloads).select(
        "doc_id", "width", "height", "mean_lum", "min_lum", "max_lum",
        "n_distinct_lum", "is_flat", "decoder",
    )


MULTIMODAL_IMAGE_QUALITY_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 128),
              128, ' ') as s
  from documents),
px as (
  select doc_id, cast(ord(substr(s, j + 1, 1)) as bigint) as v
  from s, unnest(generate_series(0, 127)) as u(j))
select doc_id,
       cast(16 as bigint) as width,
       cast(8 as bigint) as height,
       cast(sum(v) // 128 as bigint) as mean_lum,
       min(v) as min_lum,
       max(v) as max_lum,
       cast(count(distinct v) as bigint) as n_distinct_lum,
       case when min(v) = max(v) then 'y' else 'n' end as is_flat,
       'png-zlib' as decoder
from px group by doc_id
"""


def bpe_fertility_lang(spark, sf_dir):
    """Per-language tokenizer fertility audit (extensions/bpe.py:
    bpe_fertility) under the fixed merge chain — exact integer sums
    (docs, words, tokens, nonspace chars) per language, the standard
    multilingual tokenizer diagnostic. The oracle recomputes token
    counts through the independent replace-chain segmentation."""
    from sqlbackuphistoryetl_spark.extensions.bpe import bpe_fertility

    merges = [("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "t"), ("s", "c")]
    docs = _t(spark, sf_dir, "documents")
    return bpe_fertility(docs, merges, group_col="lang")


BPE_FERTILITY_SQL = r"""
with w as (
  select doc_id, words[i] as word, i as pos
  from (select doc_id, regexp_extract_all(text, '\S+') as words,
               unnest(generate_series(1, len(regexp_extract_all(text, '\S+')))) as i
        from documents)),
segd as (
  select doc_id, pos,
         trim(
           replace(replace(replace(replace(replace(
             repeat(chr(31), 2)
               || array_to_string(
                    list_append(string_split(word, ''), '</w>'),
                    repeat(chr(31), 2))
               || repeat(chr(31), 2),
             chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31),
             chr(31)||'th'||chr(31)),
             chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31),
             chr(31)||'the'||chr(31)),
             chr(31)||'the'||chr(31)||chr(31)||'</w>'||chr(31),
             chr(31)||'the</w>'||chr(31)),
             chr(31)||'a'||chr(31)||chr(31)||'t'||chr(31),
             chr(31)||'at'||chr(31)),
             chr(31)||'s'||chr(31)||chr(31)||'c'||chr(31),
             chr(31)||'sc'||chr(31)),
           chr(31)) as seg
  from w),
per_doc as (
  select doc_id,
         cast(sum(len(string_split(seg, repeat(chr(31), 2)))) as bigint)
           as n_tokens
  from segd group by doc_id),
base as (
  -- LEFT join + coalesce: a zero-word doc has no per_doc row but the
  -- engine's bpe_fertility still counts it (segment emits n_tokens=0
  -- by documented contract) — an inner join would silently drop it
  select d.lang, d.doc_id,
         cast(len(regexp_extract_all(d.text, '\S+')) as bigint) as nw,
         cast(length(regexp_replace(d.text, '\s', '', 'g')) as bigint) as nc,
         coalesce(p.n_tokens, 0) as n_tokens
  from documents d left join per_doc p using (doc_id))
select lang,
       cast(count(*) as bigint) as n_docs,
       cast(sum(nw) as bigint) as total_words,
       cast(sum(n_tokens) as bigint) as total_tokens,
       cast(sum(nc) as bigint) as total_chars
from base group by lang
"""


def bpe_roundtrip_decode(spark, sf_dir):
    """Full corpus→ids→corpus BPE round trip (r6 verdict task 2):
    encode under the fixed merge chain, decode the id streams back to
    text (extensions/bpe.py:bpe_decode_corpus — one-row broadcast
    id→token map, map-side transform, end-marker word rebuild), and
    emit the md5 of the reconstructed text. The oracle never touches
    BPE at all: decode(encode(x)) must equal x with whitespace
    normalized to single spaces, so the expected text is just the
    '\\S+' tokens of the original document joined by ' ' — the
    strongest possible round-trip check (any segmentation, id
    assignment, or decode bug diverges from it)."""
    from sqlbackuphistoryetl_spark.extensions.bpe import (
        bpe_decode_corpus,
        bpe_encode_corpus,
        bpe_vocab_table,
    )

    merges = [("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "t"), ("s", "c")]
    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_corpus(docs, merges)
    vocab = bpe_vocab_table(docs, merges)
    dec = bpe_decode_corpus(enc, vocab)
    return dec.select(
        "doc_id",
        F.length("text").cast("int").alias("text_len"),
        F.md5("text").alias("text_md5"),
    )


BPE_ROUNDTRIP_SQL = r"""
with norm as (
  select doc_id,
         array_to_string(regexp_extract_all(text, '\S+'), ' ') as t
  from documents)
select doc_id,
       cast(len(t) as int) as text_len,
       md5(t) as text_md5
from norm
"""


def hybrid_rrf_retrieval(spark, sf_dir):
    """Reciprocal Rank Fusion of a BM25 list and a dense-cosine list
    (Cormack et al. 2009; extensions/similarity.py:rrf_fuse). Sparse
    side: the bm25_ranking gate's fixed 3-term query, top-100. Dense
    side: brute-force cosine top-100 for the vec_id-0 query vector
    (documents and embeddings share the id space). rrf folds sparse
    then dense — fixed order, one IEEE division per term."""
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        brute_force_topk,
        rrf_fuse,
    )
    from sqlbackuphistoryetl_spark.functions.textfns import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    w_s = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    sparse = (
        bm25_scores(docs, ["data", "model", "the"], k1=1.2, b=0.75)
        .withColumn("rank", F.row_number().over(w_s))
        .filter(F.col("rank") <= 100)
    )
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=100
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    fused = rrf_fuse([sparse, dense], topn=20)
    return fused.select(
        "doc_id",
        F.col("rank_1").alias("rank_sparse"),
        F.col("rank_2").alias("rank_dense"),
        F.round("rrf", 9).alias("rrf"),
    )


HYBRID_RRF_SQL = r"""
with base as (
  select doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     s -> s <> '') as toks
  from documents),
dl as (select doc_id, len(toks) as dl,
              list_filter(toks, s -> s in ('data','model','the')) as qtoks
       from base),
stats as (select count(*) as n,
                 cast(sum(dl) as double) / count(*) as avgdl from dl),
tf as (select doc_id, dl, term, count(*) as tf
       from (select doc_id, dl, unnest(qtoks) as term from dl)
       group by 1, 2, 3),
dfreq as (select term, count(distinct doc_id) as df_t from tf group by 1),
contrib as (
  select tf.doc_id, tf.term,
         ln(1.0 + (stats.n - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) as c
  from tf join dfreq using (term) cross join stats),
folded as (
  select doc_id, list_aggregate(list(c order by term), 'sum') as bm25
  from contrib group by doc_id),
sparse as (
  select doc_id,
         row_number() over (order by bm25 desc, doc_id) as rank_sparse
  from folded
  qualify rank_sparse <= 100),
q as (select embedding as q_vec from embeddings where vec_id = 0),
dense as (
  select c.vec_id as doc_id,
         row_number() over (
           order by list_cosine_similarity(q.q_vec::double[],
                                           c.embedding::double[]) desc,
                    c.vec_id) as rank_dense
  from q, embeddings c where c.vec_id <> 0
  qualify rank_dense <= 100)
select coalesce(s.doc_id, d.doc_id) as doc_id,
       cast(s.rank_sparse as bigint) as rank_sparse,
       cast(d.rank_dense as bigint) as rank_dense,
       round(coalesce(1.0 / (60.0 + s.rank_sparse), 0.0)
             + coalesce(1.0 / (60.0 + d.rank_dense), 0.0), 9) as rrf
from sparse s full outer join dense d using (doc_id)
order by coalesce(1.0 / (60.0 + s.rank_sparse), 0.0)
         + coalesce(1.0 / (60.0 + d.rank_dense), 0.0) desc,
         coalesce(s.doc_id, d.doc_id)
limit 20
"""






# ---------------------------------------------------------------- registry

_ORACLES: dict[str, str | None] = {
    "q1_pricing_summary": Q1_SQL,
    "w1_latest_order_per_customer": W1_SQL,
    "w2_canonical_group_id": W2_SQL,
    "w3_tail_two_patch": W3_SQL,
    "j1_region_revenue": J1_SQL,
    "j2_customers_without_recent_orders": J2_SQL,
    "j3_filtered_left_join": J3_SQL,
    "j5_order_lines_json": J5_SQL,
    "j6_watermark_antijoin_dedup": J6_SQL,
    "p4_watermark_overlap_window": P4_SQL,
    "a1_watermark_advance": A1_SQL,
    "a3_retention_cutoff": A3_SQL,
    "a4_min_after_threshold": A4_SQL,
    "a6_sorted_stringagg_per_group": A6_SQL,
    "a7_global_stringagg": A7_SQL,
    "u1_union_distinct_tail": U1_SQL,
    "o4_first_event_after": O4_SQL,
    "scalar_path_surgery": SCALAR_PATH_SQL,
    "case_type_map": CASE_SQL,
    "size_trunc_math": SIZE_SQL,
    "retention_filter_counts": RETENTION_SQL,
    "datefmt_stopat": DATEFMT_SQL,
    "json_props_extract": JSON_PROPS_SQL,
    "text_token_count": TOKEN_SQL,
    "text_quality_score": QUALITY_SQL,
    "quality_model_score": QUALITY_MODEL_SQL,
    "lang_id_stopwords": LANG_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "hourly_event_rollup": HOURLY_SQL,
    "stream_dedup_sessions": STREAM_DEDUP_SQL,
    "text_tfidf_top_terms": TFIDF_SQL,
    "approx_distinct_users": APPROX_DISTINCT_SQL,  # 5%-contract gate
    "text_bpe_token_count": BPE_SQL,
    "lang_id_multi": LANG_MULTI_SQL,
    "p9_fallback_probe": P9_SQL,
    "o5_top2_desc": O5_SQL,
    "p3_decimal_lsn_range": P3_SQL,
    "o1_ordered_chain_page": O1_SQL,
    "o3_top1_scalar": O3_SQL,
    "a2_nonempty_guard": A2_SQL,
    "a5_minmax_loop_bounds": A5_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_keep_one": DEDUP_KEEP_ONE_SQL,
    "stratified_sample_by_lang": STRATIFIED_SAMPLE_SQL,
    "weighted_source_mix": _weighted_mix_sql(),
    "token_len_histogram": TOKEN_HIST_SQL,
    "chain_state_fold": CHAIN_FOLD_SQL,
    "token_percentiles": TOKEN_PCTL_SQL,
    "embedding_cosine_topk": EMBEDDING_TOPK_SQL,
    "quality_repetition": REPETITION_SQL,
    "contamination_ngram": CONTAMINATION_SQL,
    "global_shard_ids": SHARD_SQL,
    "asof_last_purchase": ASOF_SQL,
    "sequence_packing": PACKING_SQL,
    "curation_funnel": FUNNEL_SQL,
    "knn_label_vote": KNN_VOTE_SQL,
    "incremental_dedup_cross": CROSS_DEDUP_SQL,
    "minhash_index_compact": MINHASH_INDEX_COMPACT_SQL,
    "pii_redaction": PII_SQL,
    "quality_rare_tokens": RARE_TOKENS_SQL,
    "label_centroid_stats": CENTROID_SQL,
    "packed_sequence_export": PACKED_EXPORT_SQL,
    "sample_global_k": SAMPLE_K_SQL,
    "heavy_hitter_grams": HEAVY_HITTER_SQL,
    "embedding_quantize_profile": QUANTIZE_SQL,
    "dedup_source_matrix": SOURCE_MATRIX_SQL,
    "corpus_version_diff": VERSION_DIFF_SQL,
    "chunk_dedup_spans": CHUNK_DEDUP_SQL,
    "bloom_prefilter_verdicts": BLOOM_PREFILTER_SQL,
    "boilerplate_line_removal": BOILERPLATE_SQL,
    "corpus_token_budget": TOKEN_BUDGET_SQL,
    "temperature_lang_sample": TEMPERATURE_SQL,
    "temperature_lang_sample_a25": TEMPERATURE_A25_SQL,
    "train_val_test_split": _split_sql(),
    "event_sessionization": SESSION_SQL,
    "char_entropy_quality": ENTROPY_SQL,
    "unigram_surprisal": SURPRISAL_SQL,
    "length_outlier_trim": OUTLIER_TRIM_SQL,
    "domain_cap_topn": DOMAIN_CAP_SQL,
    "funnel_view_click_purchase": FUNNEL_STEPS_SQL,
    "rag_chunking": RAG_CHUNK_SQL,
    "corpus_report": CORPUS_REPORT_SQL,
    "embedding_covariance": COVARIANCE_SQL,
    "semantic_decontam": SEMANTIC_DECONTAM_SQL,
    "script_composition": SCRIPT_SQL,
    "dedup_cluster_histogram": CLUSTER_HIST_SQL,
    "weighted_sample_docs": WEIGHTED_SAMPLE_SQL,
    # approximate/Python paths, oracle-gated at 100% recall (the exact
    # re-score makes outputs equal the exact answer — see each docstring)
    "dup_window_spans": DUP_SPANS_SQL,
    "semdedup_prune": SEMDEDUP_SQL,
    "embed_hashed_text": EMBED_HASHED_SQL,
    "semdedup_text_prune": SEMDEDUP_TEXT_SQL,
    "gopher_quality": GOPHER_SQL,
    "gopher_repetition": GOPHER_REPETITION_SQL,
    "ccnet_perplexity": CCNET_SQL,
    "dsir_selection": DSIR_SQL,
    "edit_distance_pairs": EDIT_DISTANCE_SQL,
    "unimax_lang_budget": UNIMAX_SQL,
    "pmi_collocations": PMI_SQL,
    "hard_negative_mining": HARD_NEGATIVE_SQL,
    "bpe_merge_candidates": BPE_PAIRS_SQL,
    "bpe_segment_fixed": BPE_SEGMENT_SQL,
    "bpe_packed_export": BPE_PACKED_SQL,
    "bpe_roundtrip_decode": BPE_ROUNDTRIP_SQL,
    "bpe_fertility_lang": BPE_FERTILITY_SQL,
    "multimodal_dhash_fingerprint": MULTIMODAL_DHASH_SQL,
    "multimodal_jpeg_fingerprint": MULTIMODAL_JPEG_SQL,
    "multimodal_jpeg_progressive": MULTIMODAL_JPEG_PROGRESSIVE_SQL,
    "multimodal_gif_fingerprint": MULTIMODAL_GIF_SQL,
    "multimodal_gif_animation": MULTIMODAL_GIF_ANIM_SQL,
    "webdataset_roundtrip": WEBDATASET_SQL,
    "multimodal_tiff_fingerprint": MULTIMODAL_TIFF_SQL,
    "multimodal_flac_audio": MULTIMODAL_FLAC_SQL,
    "media_info_mixed": MEDIA_INFO_SQL,
    "media_info_mp4": MEDIA_INFO_MP4_SQL,
    "multimodal_ccitt_fax": MULTIMODAL_CCITT_SQL,
    "media_info_web": MEDIA_INFO_WEB_SQL,
    "multimodal_jpeg_12bit": MULTIMODAL_JPEG12_SQL,
    "zorder_cluster_stats": ZORDER_SQL,
    "pdf_extract_text": PDF_EXTRACT_SQL,
    "pdf_scanned_images": PDF_SCANNED_SQL,
    "wordpiece_segment_fixed": WORDPIECE_SQL,
    "unigram_fit_segment": UNIGRAM_FIT_SQL,
    "unigram_fit_vocab": UNIGRAM_VOCAB_SQL,
    "unigram_segment_viterbi": UNIGRAM_SQL,
    "pq_adc_search": PQ_ADC_SQL,
    "ivf_pq_search": IVF_PQ_SQL,
    "sentence_split_stats": SENTENCE_SPLIT_SQL,
    "parquet_compact_roundtrip": PARQUET_COMPACT_SQL,
    "url_dedup_domain_stats": URL_DEDUP_SQL,
    "html_extract_text": HTML_EXTRACT_SQL,
    "image_exif_triage": IMAGE_EXIF_SQL,
    # rows-only by design: zlib has no engine-independent SQL twin
    "compression_ratio_signal": None,
    "multimodal_avi_frames": MULTIMODAL_AVI_SQL,
    "multimodal_mjpeg_frames": MULTIMODAL_MJPEG_SQL,
    "multimodal_audiofp_fingerprint": MULTIMODAL_AUDIOFP_SQL,
    "multimodal_audio_quality": MULTIMODAL_AUDIO_QUALITY_SQL,
    "multimodal_image_quality": MULTIMODAL_IMAGE_QUALITY_SQL,
    "multimodal_g711_audio": MULTIMODAL_G711_SQL,
    "multimodal_adpcm_audio": MULTIMODAL_ADPCM_SQL,
    "hybrid_rrf_retrieval": HYBRID_RRF_SQL,
    "dedup_minhash_lsh": MINHASH_SQL,
    "bm25_ranking": BM25_SQL,
    "ngram_containment": NGRAM_CONTAINMENT_SQL,
    "ngram_containment_capped": NGRAM_CONTAINMENT_CAPPED_SQL,
    "winnowing_overlap_pairs": WINNOWING_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "embedding_near_dup": NEARDUP_SQL,
    "multimodal_metadata": MULTIMODAL_METADATA_SQL,
    "fineweb_quality": FINEWEB_SQL,
    "multimodal_featurize_ann": MULTIMODAL_FEATURIZE_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAMES_SQL,
}


_JSONL_CACHE: dict[str, str] = {}


def jsonl_roundtrip_ingest(spark, sf_dir):
    """Source-format round trip: documents → sharded JSONL export
    (extensions/sharding.py: write_sharded_jsonl — stable global order,
    exact shard sizes) → schema-enforced JSONL ingest
    (sources/text_corpus.py: read_jsonl_corpus, FAILFAST, no
    inference). Output is one row per document with md5(text), and the
    oracle reads the ORIGINAL parquet — equality proves the export +
    ingest cycle is lossless down to text bytes (JSON escaping,
    encoding, shard partitioning all round-trip), which is the property
    a training pipeline needs before it trusts JSONL interchange."""
    import atexit
    import shutil
    import tempfile

    from sqlbackuphistoryetl_spark.extensions.sharding import (
        write_sharded_jsonl,
    )
    from sqlbackuphistoryetl_spark.sources.text_corpus import (
        read_jsonl_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _JSONL_CACHE:
        path = tempfile.mkdtemp(prefix="jsonl_corpus_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write_sharded_jsonl(docs, path, ["doc_id"], shard_size=200)
        _JSONL_CACHE[sf_dir] = path
    back = read_jsonl_corpus(
        spark,
        _JSONL_CACHE[sf_dir],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, ordinal long",
    )
    return back.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


JSONL_ROUNDTRIP_SQL = """
select doc_id, lang, source, n_chars, md5(text) as text_md5
from documents
"""

_ORACLES["jsonl_roundtrip_ingest"] = JSONL_ROUNDTRIP_SQL


def jsonl_zst_roundtrip(spark, sf_dir):
    """``.zst`` interchange round trip (extensions/zstd_codec.py, RFC
    8878, r12): documents → sharded ``shard-*.jsonl.zst`` export
    (raw-block zstd frames — conformant files any real zstd tool
    reads; entropy-coded blocks are the gated half, see the module
    doc + COVERAGE.md r12 decision) → schema-enforced FAILFAST
    re-ingest (one shard per task, frame walk in the task, JVM
    from_json). The oracle reads the ORIGINAL parquet — equality
    proves frame framing, block boundaries, JSON escaping and shard
    partitioning all round-trip losslessly."""
    import atexit
    import shutil
    import tempfile

    from sqlbackuphistoryetl_spark.extensions.zstd_codec import (
        read_jsonl_zst,
        write_jsonl_zst,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _JSONL_ZST_CACHE:
        path = tempfile.mkdtemp(prefix="jsonl_zst_corpus_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write_jsonl_zst(docs, path, "doc_id", records_per_shard=200)
        _JSONL_ZST_CACHE[sf_dir] = path
    back = read_jsonl_zst(
        spark,
        _JSONL_ZST_CACHE[sf_dir],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
        fan_out=_fan(spark),
    )
    return back.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("text_md5"),
    )


_JSONL_ZST_CACHE: dict[str, str] = {}

_ORACLES["jsonl_zst_roundtrip"] = JSONL_ROUNDTRIP_SQL


def skew_salted_agg(spark, sf_dir):
    """Two-stage skew-safe aggregation (operators/skew.py: salted_agg):
    stage 1 aggregates on (user_id, salt) so a hot key fans out across
    reducers, stage 2 merges the per-salt partials on the true key. The
    oracle is the PLAIN one-stage group-by — equality proves the
    algebraic merge (sum-of-sums, sum-of-counts, min-of-mins,
    max-of-maxs) reconstructs the whole-key aggregate exactly for every
    key, independent of how the salt split the rows. Values are
    integer-exact by construction (cents / epoch-µs / counts), so no
    float reassociation rides on the salt layout."""
    from sqlbackuphistoryetl_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    ev = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        _ts_us(ev, "ts").alias("ts_us"),
    )
    out = salted_agg(
        ev,
        ["user_id"],
        [
            ("cents", "sum", "value_cents"),
            ("event_id", "count", "n_events"),
            ("ts_us", "min", "first_us"),
            ("ts_us", "max", "last_us"),
        ],
        buckets=16,
        salt_col="event_id",
    )
    return out.orderBy("user_id")


SKEW_SALTED_SQL = """
select user_id,
       cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint)
         as value_cents,
       count(*) as n_events,
       min(epoch_us(ts)) as first_us,
       max(epoch_us(ts)) as last_us
from events group by user_id order by user_id
"""

_ORACLES["skew_salted_agg"] = SKEW_SALTED_SQL


def curation_pipeline_e2e(spark, sf_dir):
    """Composite gate for the full curation pipeline
    (plans/curation_pipeline.py: curate_corpus): exact dedup → MinHash
    near-dup keep-one (candidates → exact 5-shingle Jaccard ≥ 0.8 →
    connected components → min-id survivor) → boilerplate-line removal
    → per-language median ± 3·MAD token-count trim → per-source cap
    (15, best-first by token count) → 90/5/5 hash split → train-side
    512-token sequence packing. Output: one 'doc' row per surviving
    document (split + token count) UNION the 'stage' count funnel, so
    the driver checks the COMPOSITION — survivors AND per-stage
    cardinalities — not just the independently-gated stages.

    Oracle equivalence for the banded stage: all-pairs 5-shingle
    Jaccard ≥ 0.8 (the dedup_minhash_lsh precedent — on the gate
    corpora every qualifying pair's signature clears both the banding
    and the est-jaccard floor, verified deterministically by this very
    equality at both gate SFs)."""
    from sqlbackuphistoryetl_spark.plans.curation_pipeline import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    out, _spans, rep = curate_corpus(
        docs, per_source_cap=15, seq_len=512, report=True
    )
    doc_rows = out.select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("split"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )
    stage_rows = spark.createDataFrame(
        [(k, int(v)) for k, v in rep.stage_counts.items()],
        "key string, n_tok long",
    ).select(
        F.lit("stage").alias("kind"),
        "key",
        F.lit(None).cast("string").alias("split"),
        "n_tok",
    )
    return doc_rows.unionByName(stage_rows)


def _curation_e2e_sql() -> str:
    from sqlbackuphistoryetl_spark.extensions.curation import _rate_to_hex

    t_train = _rate_to_hex(0.9)
    t_val = _rate_to_hex(0.9 + 0.05)  # same float accumulation as assign_split
    return f"""
with recursive
d1 as materialized (
  select doc_id, text, lang, source from documents
  where doc_id in (select min(doc_id) from documents group by md5(text))),
sh as materialized (
  select doc_id,
         list_distinct(list_transform(range(1, greatest(1, length(text) - 4) + 1),
                                      i -> substr(text, i, 5))) as s
  from d1),
-- exact 5-shingle Jaccard via inverted index (explode + equi-join):
-- the list_intersect all-pairs form is O(N^2 * |s|) and re-evaluated
-- per CTE reference by the planner — 30 s vs 0.8 s at the gate SF.
ex as materialized (select doc_id, unnest(s) as g from sh),
shared as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as inter
  from ex a join ex b on a.g = b.g and a.doc_id < b.doc_id
  group by 1, 2),
sizes as materialized (select doc_id, len(s) as n from sh),
pairs as materialized (
  select id_a, id_b from shared
  join sizes sa on sa.doc_id = id_a
  join sizes sb on sb.doc_id = id_b
  where inter::double / (sa.n + sb.n - inter) >= 0.8),
edges as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b as src, id_a as dst from pairs),
reach(src, dst) as (
  select src, dst from edges
  union
  select r.src, e.dst from reach r join edges e on r.dst = e.src),
losers as (
  select src as doc_id from reach group by src having min(dst) < src),
d2 as materialized (
  select * from d1 where doc_id not in (select doc_id from losers)),
lines as (
  select doc_id,
         unnest(range(len(string_split(text, chr(10))))) as pos,
         unnest(string_split(text, chr(10))) as line
  from d2),
heavy as (
  select trim(line) as norm from lines
  where trim(line) <> '' group by 1 having count(distinct doc_id) >= 3),
kept as (
  select * from lines l
  where not exists (select 1 from heavy h where h.norm = trim(l.line))),
d3 as materialized (
  select d2.doc_id, d2.lang, d2.source,
         coalesce(a.clean_text, '') as text
  from d2 left join (
    select doc_id, string_agg(line, chr(10) order by pos) as clean_text
    from kept group by doc_id) a using (doc_id)),
d3t as materialized (
  select doc_id, lang, source,
         cast(len(regexp_extract_all(text, '\\S+')) as bigint) as n_tok
  from d3),
med as (select lang, quantile_cont(n_tok, 0.5) as med from d3t group by 1),
mad as (
  select d.lang, any_value(med) as med,
         quantile_cont(abs(cast(n_tok as double) - med), 0.5) as mad
  from d3t d join med using (lang) group by d.lang),
d4 as materialized (
  select d3t.* from d3t join mad using (lang)
  where cast(n_tok as double) >= med - 3.0 * mad
    and cast(n_tok as double) <= med + 3.0 * mad),
d5 as materialized (
  select doc_id, lang, source, n_tok from (
    select *, row_number() over (partition by source
                                 order by n_tok desc, doc_id) as rk
    from d4) where rk <= 15),
d6 as materialized (
  select *,
         case when substr(md5('split0' || '|' || cast(doc_id as varchar)), 1, 8)
                   < '{t_train}' then 'train'
              when substr(md5('split0' || '|' || cast(doc_id as varchar)), 1, 8)
                   < '{t_val}' then 'val'
              else 'test' end as split
  from d5),
tr as (
  select doc_id, n_tok,
         cast(sum(n_tok) over (order by doc_id rows unbounded preceding)
              as bigint) as cum_end
  from d6 where split = 'train'),
spans as (
  select s.doc_id, g.seq_id
  from (select doc_id, n_tok, cum_end - n_tok as cum_start, cum_end
        from tr where n_tok > 0) s,
       unnest(generate_series(s.cum_start // 512, (s.cum_end - 1) // 512))
         as g(seq_id)),
counts(key, n_tok) as (
  select 'input', count(*) from documents union all
  select 'exact_dedup', count(*) from d1 union all
  select 'near_dedup', count(*) from d2 union all
  select 'boilerplate', count(*) from d3 union all
  select 'outlier_trim', count(*) from d4 union all
  select 'source_cap', count(*) from d5 union all
  select 'train_split', count(*) from d6 where split = 'train' union all
  select 'packed_spans', count(*) from spans)
select 'doc' as kind, cast(doc_id as varchar) as key, split,
       cast(n_tok as bigint) as n_tok
from d6
union all
select 'stage' as kind, key, cast(null as varchar) as split,
       cast(n_tok as bigint) as n_tok
from counts
"""


_ORACLES["curation_pipeline_e2e"] = _curation_e2e_sql()


def warc_ingest_stats(spark, sf_dir):
    """WARC crawl-archive sink + source round-trip (sources/warc.py,
    r11): every document becomes TWO records — a ``response`` whose
    block is a deterministic ``HTTP/1.1 200 OK`` envelope around the
    UTF-8 text (the Common Crawl WARC shape), and a ``conversion``
    (WET shape) whose block is the lang-prefixed text — written as
    one-gzip-member-per-record ``shard-NNNNNN.warc.gz`` files via the
    distributed-ordinal shard assignment (ONE range shuffle, one
    packer task per shard), then read back through the binaryFile +
    streaming multi-member-gzip record walk. The oracle never touches
    WARC: byte lengths and md5s recompute straight from the documents
    table, so a framing, Content-Length, HTTP-envelope-split,
    gzip-member or header-parse bug mismatches. Write is EAGER and
    rmtree-then-write idempotent into a per-sf tmp dir; ``fan_out``
    spreads the tiny fixture shards (production ~1 GB shards are
    their own parallelism, see read_warc_gz's docstring)."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        MALFORMED,
        read_warc_gz,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # parsed exprs (r14, guide §7.3): identical concat/lpad/encode trees
    uri_sql = (
        "concat('http://example.com/doc/', "
        "lpad(CAST(doc_id AS STRING), 9, '0')) AS target_uri"
    )
    resp = docs.selectExpr(
        uri_sql, "'response' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        "encode(text, 'UTF-8') AS payload",
        "'text/plain' AS http_content_type",
    )
    conv = docs.selectExpr(
        uri_sql, "'conversion' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        "encode(concat(lang, '\\n', text), 'UTF-8') AS payload",
        "CAST(NULL AS STRING) AS http_content_type",
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_warc_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(resp.unionByName(conv), path, records_per_shard=64)
    back = read_warc_gz(spark, path, fan_out=_fan(spark))
    return back.filter(F.col("warc_type") != MALFORMED).selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "warc_type",
        "CAST(http_status AS INT) AS http_status",
        "CAST(length(payload) AS INT) AS body_bytes",
        "md5(payload) AS body_md5",
    )


WARC_INGEST_SQL = """
select doc_id, 'response' as warc_type, cast(200 as int) as http_status,
       cast(octet_length(encode(text)) as int) as body_bytes,
       md5(text) as body_md5
from documents
union all
select doc_id, 'conversion' as warc_type, cast(null as int) as http_status,
       cast(octet_length(encode(lang || chr(10) || text)) as int)
         as body_bytes,
       md5(lang || chr(10) || text) as body_md5
from documents
"""

_ORACLES["warc_ingest_stats"] = WARC_INGEST_SQL


def pdf_tounicode_text(spark, sf_dir):
    """ToUnicode CMap text mapping (pdf_codec._parse_cmap/_apply_cmap,
    r11): each document's first 60 sanitized chars become a 1-page PDF
    whose Helvetica font carries a ToUnicode CMap mapping a-z to A-Z
    (bfrange <61> <7a> <0041>), written inside the modern ObjStm
    layout on even doc_ids and the classic table layout on odd — so
    the glyph-code → unicode path runs through both containers. The
    oracle is plain ``upper()`` over the same substrings: a CMap
    parse, code-width, range-increment or font-selection (Tf) bug
    changes the extracted text and hash-mismatches."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        extract_pdf_text,
    )
    from sqlbackuphistoryetl_spark.extensions.pdf_codec import build_pdf

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        def mk(d, t):
            s = re.sub(r"[^ -~]", "?", t)[:60].ljust(60, " ")
            lines = [s[j * 20 : (j + 1) * 20] for j in range(3)]
            return build_pdf(
                [lines],
                compress=True,
                compress_objects=(d % 2 == 0),
                tounicode=[(0x61, 0x7A, 0x0041)],
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return extract_pdf_text(payloads).select(
        "doc_id",
        "n_pages",
        F.md5(F.col("text")).alias("text_md5"),
        "status",
    )


PDF_TOUNICODE_SQL = r"""
with s as (
  select doc_id,
         upper(rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'),
                           1, 60), 60, ' ')) as s
  from documents)
select doc_id,
       cast(1 as bigint) as n_pages,
       md5(substr(s, 1, 20) || chr(10) || substr(s, 21, 20) || chr(10)
           || substr(s, 41, 20)) as text_md5,
       'ok' as status
from s
"""

_ORACLES["pdf_tounicode_text"] = PDF_TOUNICODE_SQL


#: lookahead-free GPT-2 pretokenizer shared by the gate's Spark side
#: (Java regex) and oracle (RE2 — no lookahead support): differs from
#: bpe.GPT2_PRETOKEN_RE only on multi-space runs, where the whole run
#: tokenizes as whitespace instead of donating its last space to the
#: following word. Both engines are leftmost-first, so the split is
#: engine-identical.
_BYTE_PRETOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)

_BYTE_MERGES = [
    ("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"), ("i", "n"), ("e", "r"),
]


def bpe_byte_level(spark, sf_dir):
    """Byte-level (GPT-2-form) BPE segmentation + decode
    (extensions/bpe.py: byte_initial_vocab / bpe_segment_corpus_bytes /
    bpe_decode_bytes, r11): documents sanitized to printable ASCII
    (multibyte byte-fallback is pinned by unit tests; the oracle needs
    byte==char) are pretokenized with the GPT-2 regex, byte-mapped
    (space → Ġ, everything else identity on this alphabet), and
    segmented under FIXED merges incl. the space-prefixed ``Ġth``/
    ``Ġthe`` chain that is the signature of the byte-level form. The
    oracle re-derives the token stream with the same chr(31)
    replace-chain encoding as ``bpe_segment_fixed`` — no end marker,
    space mapped via chr(288) — and the ``decoded_md5`` column proves
    the decode path reproduces the input EXACTLY (tokens → translate →
    UTF-8), which plain-text md5 recomputes independently."""
    from sqlbackuphistoryetl_spark.extensions.bpe import (
        bpe_decode_bytes,
        bpe_segment_corpus_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"[^ -~]", "?").alias("text"),
    )
    seg = bpe_segment_corpus_bytes(
        docs, _BYTE_MERGES, pretoken_re=_BYTE_PRETOKEN_RE
    )
    dec = bpe_decode_bytes(seg, out_col="decoded")
    return dec.select(
        "doc_id",
        "n_tokens",
        F.md5(F.concat_ws("\x1e", "tokens")).alias("tok_md5"),
        F.md5("decoded").alias("decoded_md5"),
    )


BPE_BYTE_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[^ -~]', '?', 'g') as s
  from documents),
w as (
  select doc_id, toks[i] as word, i as pos
  from (select doc_id, s,
               regexp_extract_all(
                 s,
                 '''s|''t|''re|''ve|''m|''ll|''d'
                 || '| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+') as toks,
               unnest(generate_series(1, len(regexp_extract_all(
                 s,
                 '''s|''t|''re|''ve|''m|''ll|''d'
                 || '| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))) as i
        from s)),
segd as (
  select doc_id, pos,
         trim(
           replace(replace(replace(replace(replace(
             repeat(chr(31), 2)
               || array_to_string(
                    string_split(replace(word, ' ', chr(288)), ''),
                    repeat(chr(31), 2))
               || repeat(chr(31), 2),
             chr(31)||chr(288)||chr(31)||chr(31)||'t'||chr(31),
             chr(31)||chr(288)||'t'||chr(31)),
             chr(31)||chr(288)||'t'||chr(31)||chr(31)||'h'||chr(31),
             chr(31)||chr(288)||'th'||chr(31)),
             chr(31)||chr(288)||'th'||chr(31)||chr(31)||'e'||chr(31),
             chr(31)||chr(288)||'the'||chr(31)),
             chr(31)||'i'||chr(31)||chr(31)||'n'||chr(31),
             chr(31)||'in'||chr(31)),
             chr(31)||'e'||chr(31)||chr(31)||'r'||chr(31),
             chr(31)||'er'||chr(31)),
           chr(31)) as seg
  from w),
per_doc as (
  select doc_id,
         string_agg(seg, repeat(chr(31), 2) order by pos) as all_toks
  from segd group by doc_id)
select p.doc_id,
       cast(len(string_split(p.all_toks, repeat(chr(31), 2))) as int)
         as n_tokens,
       md5(replace(p.all_toks, repeat(chr(31), 2), chr(30))) as tok_md5,
       md5(s.s) as decoded_md5
from per_doc p join s on p.doc_id = s.doc_id
"""

_ORACLES["bpe_byte_level"] = BPE_BYTE_SQL


def media_info_webm(spark, sf_dir):
    """WebM/Matroska EBML header triage (extensions/webm_codec.py,
    r11 — the other dominant crawl video container next to MP4): each
    document's first four sanitized bytes parameterize a build_webm
    fixture (geometry, channels, rate, bit depth, webm-vs-matroska
    DocType, and the all-ones unknown-Segment-size streaming layout on
    even o2), pushed through the same O(header-bytes) media_info
    dispatch as the other twelve containers. Every reported field is a
    varint walk the oracle recomputes closed-form from ``ord()`` — an
    ID/size-varint, float-sampling-rate, track-selection or
    unknown-size-scope bug hash-mismatches. VP9/Opus Cluster decode
    stays gated per the perceptual-codec doctrine."""
    import re

    from sqlbackuphistoryetl_spark.extensions.multimodal import media_info

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(_fan(spark), "doc_id")
    )

    def _mk(it):
        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.webm_codec import (
            build_webm,
        )

        def mk(t):
            s = re.sub(r"[^ -~]", "?", t)[:4].ljust(4, " ").encode("ascii")
            return build_webm(
                100 + s[0] * 4,
                20 + s[1] * 2,
                1 + s[2] % 2,
                8000 * (1 + s[3] % 6),
                bit_depth=16 + 8 * (s[0] % 2),
                duration_ms=1000 + s[1],
                doc_type="webm" if s[1] % 2 else "matroska",
                unknown_segment_size=(s[2] % 2 == 0),
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [mk(t) for t in pdf["text"]],
                }
            )

    payloads = docs.mapInPandas(_mk, "doc_id long, payload binary")
    return media_info(payloads)


MEDIA_INFO_WEBM_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', '?', 'g'), 1, 4),
              4, ' ') as s
  from documents),
o as (
  select doc_id,
         ord(substr(s, 1, 1)) as o0,
         ord(substr(s, 2, 1)) as o1,
         ord(substr(s, 3, 1)) as o2,
         ord(substr(s, 4, 1)) as o3
  from s)
select doc_id,
       case when o1 % 2 = 1 then 'webm' else 'mkv' end as format,
       cast(100 + o0 * 4 as bigint) as width,
       cast(20 + o1 * 2 as bigint) as height,
       cast(null as bigint) as n_frames,
       cast(1 + o2 % 2 as bigint) as channels,
       cast(8000 * (1 + o3 % 6) as bigint) as sample_rate,
       cast(null as bigint) as n_samples,
       cast(16 + 8 * (o0 % 2) as bigint) as bit_depth
from o
"""

_ORACLES["media_info_webm"] = MEDIA_INFO_WEBM_SQL


def warc_html_prose(spark, sf_dir):
    """End-to-end crawl text path (r11 composite): documents wrapped
    in the SAME real-page HTML as the ``html_extract_text`` gate
    become WARC ``response`` records (HTTP 200, text/html) written as
    Common Crawl gzip-member shards (sources/warc.py), read back
    through the record walk + HTTP envelope split, and reduced to
    prose by the pure-JVM ``response_text`` → ``html_to_text`` chain
    — WARC framing, Content-Length arithmetic, HTTP header parse
    (incl. the ``; charset=utf-8`` content-type tail the startswith
    filter must tolerate), UTF-8 decode and tag stripping all under
    ONE oracle, which assembles the expected prose directly from the
    document text (never parsing HTML or WARC), exactly like
    HTML_EXTRACT_SQL."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        read_warc_gz,
        response_text,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # parsed exprs (r14, guide §7.3): identical regexp/concat/encode
    # trees to the former Column chains; the HTML scaffold strings ride
    # as SQL literals (no quote/backslash content beyond the escaped ")
    html_sql = (
        "concat('<html><head><style>p{color:red}</style></head><body>"
        "<h1>Head&nbsp;Line</h1><p>', "
        "regexp_replace(text, '[&<>]', ' '), "
        "'</p><script>var x=\"<p>sneaky</p>\";</script>"
        "<div>Tail &amp; more</div></body></html>')"
    )
    recs = docs.selectExpr(
        "concat('http://example.com/page/', "
        "lpad(CAST(doc_id AS STRING), 9, '0')) AS target_uri",
        "'response' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        f"encode({html_sql}, 'UTF-8') AS payload",
        "'text/html; charset=utf-8' AS http_content_type",
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_warc_html_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(recs, path, records_per_shard=64)
    prose = response_text(read_warc_gz(spark, path, fan_out=_fan(spark)))
    return prose.selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "CAST(http_status AS INT) AS http_status",
        "length(text) AS n_chars",
        "md5(text) AS txt_md5",
    )


WARC_HTML_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[&<>]', ' ', 'g') as st
  from documents),
raw as (
  select doc_id,
         'Head Line' || chr(10) || st || chr(10) || 'Tail & more' as r
  from s),
norm as (
  select doc_id,
         regexp_replace(regexp_replace(trim(
           regexp_replace(regexp_replace(regexp_replace(r,
             '[ \t\r\f]+', ' ', 'g'),
             ' ?\n ?', chr(10), 'g'),
             '\n{2,}', chr(10), 'g')),
           '^\n+', ''), '\n+$', '') as txt
  from raw)
select doc_id,
       cast(200 as int) as http_status,
       cast(length(txt) as int) as n_chars,
       md5(txt) as txt_md5
from norm
"""

_ORACLES["warc_html_prose"] = WARC_HTML_SQL


def html_numeric_refs(spark, sf_dir):
    """Numeric character reference decoding
    (functions/htmlfns.py: decode_numeric_refs, r11 — pure JVM, the
    module's documented "out of regexp reach" limitation retired):
    each document's sanitized prefix gets a decimal ref (Latin-1
    supplement, byte-parameterized), a hex ref (Greek block), a
    malformed ref (``&#zz;``), a supplementary-plane ref (``&#128512;``
    — BMP-only by doctrine, stays literal) and a surrogate ref
    (``&#55296;``, stays literal) appended; the decoder must decode
    exactly the two valid BMP refs and pass everything else through
    byte-identical. The oracle builds the expected string with
    DuckDB's own unicode ``chr()`` — a tokenizer-coverage, hex/dec
    parse, UTF-16BE or pass-through bug hash-mismatches."""
    from sqlbackuphistoryetl_spark.functions.htmlfns import (
        decode_numeric_refs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = F.rpad(
        F.substring(F.regexp_replace("text", r"[^ -~]|[&<>]", "?"), 1, 40),
        40, " ",
    )
    dec_code = (F.ascii(F.substring(s, 1, 1)) % 32 + 192).cast("long")
    hex_code = (F.ascii(F.substring(s, 2, 1)) % 16 + 945).cast("long")
    fixture = F.concat(
        s,
        F.lit("&#"), dec_code.cast("string"), F.lit(";"),
        F.lit("&#x"), F.hex(hex_code), F.lit(";"),
        F.lit("&#zz;&#128512;&#55296;"),
    )
    out = decode_numeric_refs(fixture)
    return docs.select(
        "doc_id",
        F.length(out).alias("n_chars"),
        F.md5(out).alias("txt_md5"),
    )


HTML_NUMREF_SQL = r"""
with s as (
  select doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]|[&<>]', '?', 'g'),
                     1, 40), 40, ' ') as s
  from documents),
e as (
  select doc_id,
         s || chr(ord(substr(s, 1, 1)) % 32 + 192)
           || chr(ord(substr(s, 2, 1)) % 16 + 945)
           || '&#zz;&#128512;&#55296;' as expected
  from s)
select doc_id,
       cast(length(expected) as int) as n_chars,
       md5(expected) as txt_md5
from e
"""

_ORACLES["html_numeric_refs"] = HTML_NUMREF_SQL


#: stopword-dense, link-free, apostrophe-free second content block —
#: long enough to clear min_chars on its own
_MCE_FILLER = (
    "Stopword-dense filler: this is the story of it all and we went "
    "on with them to see what was there for everyone else around."
)


def main_content_extract(spark, sf_dir):
    """jusText-style main-content extraction
    (extensions/maincontent.py, r12 — Pomikálek 2011 block
    classification as pure JVM array expressions): every document's
    sanitized text becomes the article body of a page with PLANTED
    boilerplate — a nav bar that is 100% link text, a too-short
    ``<h1>``, a link-dense copyright footer, and a ``<script>`` whose
    body contains a fake ``<p>`` block — plus a fixed stopword-dense
    second paragraph. The extractor must keep exactly the two content
    blocks, newline-joined, in order. The oracle builds the expected
    prose closed-form from the document text (never parsing HTML), so
    a segmentation, link-density, length-gate or join-order bug
    hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.maincontent import (
        main_content_extract,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    st = F.regexp_replace("text", r"[^ -~]|[&<>]", "?")
    html = F.concat(
        F.lit(
            '<html><body><nav><a href="/">Home</a> <a href="/a">About'
            '</a> <a href="/c">Contact</a> <a href="/s">Shop</a></nav>'
            "<h1>Hd</h1><p>"
        ),
        st,
        F.lit(
            "</p><p>" + _MCE_FILLER + "</p>"
            '<div>(c) 2025 <a href="/p">Privacy</a> <a href="/t">Terms'
            '</a> <a href="/i">Imprint</a></div>'
            '<script>var q = "<p>soup</p>";</script></body></html>'
        ),
    )
    out = main_content_extract(html)
    return docs.select(
        "doc_id",
        F.length(out).alias("n_chars"),
        F.md5(out).alias("txt_md5"),
    )


MAIN_CONTENT_SQL = rf"""
with s as (
  select doc_id,
         regexp_replace(text, '[^ -~]|[&<>]', '?', 'g') as st
  from documents),
n as (
  select doc_id, trim(regexp_replace(st, '\s+', ' ', 'g')) as nst
  from s),
e as (
  select doc_id, nst || chr(10) || '{_MCE_FILLER}' as expected
  from n)
select doc_id,
       cast(length(expected) as int) as n_chars,
       md5(expected) as txt_md5
from e
"""

_ORACLES["main_content_extract"] = MAIN_CONTENT_SQL


def main_content_context(spark, sf_dir):
    """The jusText context-sensitive second pass (r12,
    extensions/maincontent.py: main_content_extract(context=True)):
    the planted-boilerplate fixture gains a short ``<h2>Chapter N</h2>``
    heading (N = doc_id%10 — 9 chars, link-free: NEAR-good) adjacent
    to the document-text paragraph. The base pass drops it; the
    context pass must promote exactly it — while the nav (link-dense),
    the footer (link-dense, despite sitting next to a good block) and
    the 2-char ``<h1>`` stay out. The oracle builds the expected prose
    closed-form, so a neighbor-indexing, promotion-chaining or
    near-good-criteria bug changes the output and hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.maincontent import (
        main_content_extract,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    st = F.regexp_replace("text", r"[^ -~]|[&<>]", "?")
    html = F.concat(
        F.lit(
            '<html><body><nav><a href="/">Home</a> <a href="/a">About'
            '</a> <a href="/c">Contact</a> <a href="/s">Shop</a></nav>'
            "<h1>Hd</h1><h2>Chapter "
        ),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</h2><p>"),
        st,
        F.lit(
            "</p><p>" + _MCE_FILLER + "</p>"
            '<div>(c) 2025 <a href="/p">Privacy</a> <a href="/t">Terms'
            '</a> <a href="/i">Imprint</a></div></body></html>'
        ),
    )
    out = main_content_extract(html, context=True)
    return docs.select(
        "doc_id",
        F.length(out).alias("n_chars"),
        F.md5(out).alias("txt_md5"),
    )


MAIN_CONTEXT_SQL = rf"""
with s as (
  select doc_id,
         regexp_replace(text, '[^ -~]|[&<>]', '?', 'g') as st
  from documents),
n as (
  select doc_id, trim(regexp_replace(st, '\s+', ' ', 'g')) as nst
  from s),
e as (
  select doc_id,
         'Chapter ' || cast(doc_id % 10 as varchar) || chr(10)
           || nst || chr(10) || '{_MCE_FILLER}' as expected
  from n)
select doc_id,
       cast(length(expected) as int) as n_chars,
       md5(expected) as txt_md5
from e
"""

_ORACLES["main_content_context"] = MAIN_CONTEXT_SQL


def warc_main_content(spark, sf_dir):
    """The warc_html_prose pipeline routed through the main-content
    extractor (sources/warc.py: response_main_text, r12): the same
    WARC write → shard read → HTTP split chain, but the page carries
    a planted all-links nav, a short headline, and a link-dense
    footer that ``html_to_text`` would keep and
    ``main_content_extract`` must drop — only the document-text
    paragraph survives. ONE closed-form oracle straight from the
    document text, as in WARC_HTML_SQL."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        read_warc_gz,
        response_main_text,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # parsed exprs (r14, guide §7.3): identical trees, scaffold strings
    # as SQL literals
    html_sql = (
        "concat('<html><head><style>p{color:red}</style></head><body>"
        "<nav><a href=\"/\">Home</a> <a href=\"/x\">More</a> "
        "<a href=\"/y\">Links</a></nav><h1>Head&nbsp;Line</h1><p>', "
        "regexp_replace(text, '[&<>]', ' '), "
        "'</p><script>var x=\"<p>sneaky</p>\";</script>"
        "<div>Tail &amp; more <a href=\"/p\">Privacy</a> "
        "<a href=\"/t\">Terms</a> <a href=\"/i\">Imprint</a></div>"
        "</body></html>')"
    )
    recs = docs.selectExpr(
        "concat('http://example.com/main/', "
        "lpad(CAST(doc_id AS STRING), 9, '0')) AS target_uri",
        "'response' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        f"encode({html_sql}, 'UTF-8') AS payload",
        "'text/html; charset=utf-8' AS http_content_type",
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_warc_main_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(recs, path, records_per_shard=64)
    prose = response_main_text(read_warc_gz(spark, path, fan_out=_fan(spark)))
    return prose.selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "CAST(http_status AS INT) AS http_status",
        "length(text) AS n_chars",
        "md5(text) AS txt_md5",
    )


WARC_MAIN_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[&<>]', ' ', 'g') as st
  from documents),
n as (
  select doc_id, trim(regexp_replace(st, '\s+', ' ', 'g')) as txt
  from s)
select doc_id,
       cast(200 as int) as http_status,
       cast(length(txt) as int) as n_chars,
       md5(txt) as txt_md5
from n
"""

_ORACLES["warc_main_content"] = WARC_MAIN_SQL


def web_curation_e2e(spark, sf_dir):
    """Crawl-archive → training-corpus in ONE job (r12 flagship
    composite): WARC shards (member-per-record write, with a planted
    DUPLICATE page under a high-id URI for every doc_id%9==5) →
    response_main_text(context=True) (nav/footer classified out, the
    constant near-good "Overview Section" heading promoted) → an
    integer quality gate (extracted length ≥ 150 — splits the corpus
    ~83/17) → exact-dedup keep-min-id on md5(text) (collapses the
    planted duplicates). The oracle computes the surviving corpus
    closed-form from the document text: an extraction, promotion,
    quality-threshold, dedup-keeper or stage-ordering bug changes
    the survivor set and hash-mismatches."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        read_warc_gz,
        response_main_text,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # parsed exprs (r14, guide §7.3): identical concat/encode trees
    html_sql = (
        "concat('<html><body>"
        '<nav><a href="/">Home</a> <a href="/x">More</a> '
        '<a href="/y">Links</a></nav>'
        "<h2>Overview Section</h2><p>', "
        "regexp_replace(text, '[&<>]', ' '), "
        "'</p><div>(c) 2025 <a href=\"/p\">Privacy</a> "
        '<a href="/t">Terms</a> <a href="/i">Imprint</a></div>'
        "</body></html>')"
    )

    def _rec(id_sql):
        return docs.selectExpr(
            "concat('http://example.com/cur/', "
            f"lpad(CAST({id_sql} AS STRING), 9, '0')) AS target_uri",
            "'response' AS warc_type",
            "'2025-01-01T00:00:00Z' AS warc_date",
            f"encode({html_sql}, 'UTF-8') AS payload",
            "'text/html; charset=utf-8' AS http_content_type",
        )

    recs = _rec("doc_id").unionByName(
        docs.filter("doc_id % 9 = 5")
        .select(F.col("doc_id"), F.expr(html_sql).alias("h"))
        .selectExpr(
            "concat('http://example.com/cur/', "
            "lpad(CAST(doc_id + 1000000 AS STRING), 9, '0')) AS target_uri",
            "'response' AS warc_type",
            "'2025-01-01T00:00:00Z' AS warc_date",
            "encode(h, 'UTF-8') AS payload",
            "'text/html; charset=utf-8' AS http_content_type",
        )
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_web_cur_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(recs, path, records_per_shard=64)
    prose = response_main_text(
        read_warc_gz(spark, path, fan_out=_fan(spark)), context=True
    )
    ext = prose.selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "text",
    )
    from pyspark.sql import Window as _W

    # The length gate rides AFTER the dedup window (r13): filtering
    # `ext` directly inlines the whole main-content expression into a
    # pre-exchange Filter (Catalyst pushes predicates through
    # projections by substitution), evaluating the 45 KB extraction
    # tree TWICE per record — paired measurement 4.69 s → 3.37 s for
    # the gate (plan filter bytes 44938 → 324). Placement is
    # equivalent because an md5 group is text-homogeneous, hence
    # length-homogeneous: every member passes or fails together, so
    # the keeper election is unchanged. A predicate on a
    # non-partition column cannot be pushed back through the window.
    d = ext.withColumn("txt_md5", F.md5("text")).withColumn(
        "keeper", F.min("doc_id").over(_W.partitionBy("txt_md5"))
    )
    return d.filter(
        (F.col("doc_id") == F.col("keeper")) & (F.length("text") >= 150)
    ).select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        "txt_md5",
    )


WEB_CURATION_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[&<>]', ' ', 'g') as st
  from documents),
n as (
  select doc_id,
         'Overview Section' || chr(10)
           || trim(regexp_replace(st, '\s+', ' ', 'g')) as txt
  from s)
select doc_id,
       cast(len(regexp_extract_all(txt, '\S+')) as int) as n_tokens,
       cast(length(txt) as int) as n_chars,
       md5(txt) as txt_md5
from n
where length(txt) >= 150
"""

_ORACLES["web_curation_e2e"] = WEB_CURATION_SQL


#: warc_charset_decode's declared-label cycle: (label as written in
#: the page/header, canonical JVM charset the detector must report).
#: Mixed case on purpose — normalization is under test.
_CHARSET_GATE_LABELS = [
    ("UTF-8", "UTF-8"),
    ("ISO-8859-1", "windows-1252"),
    ("Latin2", "ISO-8859-2"),
    ("latin9", "ISO-8859-15"),
    ("windows-1250", "windows-1250"),
    ("cp1251", "windows-1251"),
    ("iso-8859-9", "windows-1254"),
    ("Windows-1256", "windows-1256"),
    ("KOI8-R", "KOI8-R"),
    ("Shift_JIS", "windows-31j"),
    ("EUC-JP", "EUC-JP"),
    ("GB2312", "GB18030"),
    ("Big5", "Big5"),
    ("euc-kr", "EUC-KR"),
    ("TIS-620", "x-windows-874"),
]


def warc_charset_decode(spark, sf_dir):
    """Charset-aware payload decode (functions/charsetfns.py, r13):
    every document becomes an ASCII-sanitized page whose charset is
    declared one of four ways by ``doc_id % 4`` — (0) Content-Type
    header param, (1) ``<meta charset>`` prescan, (2) header + a
    CONFLICTING meta (header must win), (3) UTF-8 BOM + a conflicting
    header (BOM must win, and the decoded text must have the BOM
    STRIPPED) — with the declared label cycling through all 15
    single-/multi-byte dispatch arms (mixed-case and aliased spellings,
    so normalization is under test; ASCII bodies decode identically
    under every arm by construction — byte==char doctrine; non-ASCII
    round-trips live in tests/test_charsetfns.py). Output is the
    detected canonical charset plus length/md5 of the decoded text;
    the oracle rebuilds page, winning charset and hash closed-form
    from doc_id, so a precedence, alias, sniff-regex, BOM-strip or
    dispatch bug mismatches."""
    from sqlbackuphistoryetl_spark.functions.charsetfns import (
        charset_of,
        decode_payload,
        ensure_charset_confs,
    )

    ensure_charset_confs(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    st = F.regexp_replace("text", r"[^ -~]", "?")
    mode = F.col("doc_id") % 4
    li = (F.expr("doc_id div 4") % len(_CHARSET_GATE_LABELS)).cast("int")
    label = F.element_at(
        F.array(*[F.lit(l) for l, _c in _CHARSET_GATE_LABELS]), li + 1
    )
    canon = F.element_at(
        F.array(*[F.lit(c) for _l, c in _CHARSET_GATE_LABELS]), li + 1
    )
    head = (
        F.when(mode == 1, F.concat(F.lit('<head><meta charset="'), label,
                                   F.lit('"></head>')))
        .when(mode == 2, F.lit('<head><meta charset="utf-8"></head>'))
        .otherwise(F.lit("<head></head>"))
    )
    page = F.concat(
        F.lit("<html>"), head, F.lit("<body><p>"), st,
        F.lit("</p></body></html>"),
    )
    ct = (
        F.when(mode == 1, F.lit("text/html"))
        .when(mode == 3, F.lit("text/html; charset=windows-1251"))
        .otherwise(F.concat(F.lit("text/html; charset="), label))
    )
    payload = F.when(
        mode == 3, F.concat(F.unhex(F.lit("EFBBBF")), F.encode(page, "UTF-8"))
    ).otherwise(F.encode(page, "UTF-8"))
    d = docs.select(
        "doc_id",
        charset_of(ct, payload).alias("charset"),
        decode_payload(payload, ct).alias("txt"),
    )
    return d.select(
        "doc_id",
        "charset",
        F.length("txt").alias("n_chars"),
        F.md5("txt").alias("txt_md5"),
    )


_CHARSET_GATE_CASE = " ".join(
    f"when {i} then '{lab}'" for i, (lab, _c) in enumerate(_CHARSET_GATE_LABELS)
)
_CHARSET_GATE_CANON = " ".join(
    f"when {i} then '{can}'" for i, (_l, can) in enumerate(_CHARSET_GATE_LABELS)
)

WARC_CHARSET_SQL = rf"""
with s as (
  select doc_id,
         doc_id % 4 as mode,
         cast((doc_id // 4) % {len(_CHARSET_GATE_LABELS)} as int) as li,
         regexp_replace(text, '[^ -~]', '?', 'g') as st
  from documents),
lab as (
  select doc_id, mode, st,
         case li {_CHARSET_GATE_CASE} end as label,
         case li {_CHARSET_GATE_CANON} end as canon
  from s),
page as (
  select doc_id, mode, canon,
         '<html>' ||
         case when mode = 1
              then '<head><meta charset="' || label || '"></head>'
              when mode = 2
              then '<head><meta charset="utf-8"></head>'
              else '<head></head>' end ||
         '<body><p>' || st || '</p></body></html>' as txt
  from lab)
select doc_id,
       case when mode = 3 then 'UTF-8' else canon end as charset,
       cast(length(txt) as int) as n_chars,
       md5(txt) as txt_md5
from page
"""

_ORACLES["warc_charset_decode"] = WARC_CHARSET_SQL


_ROBOTS_A = (
    "User-agent: GraftBot\nDisallow: /private\nAllow: /private/pub\n"
    "Disallow: /tmp$\nCrawl-delay: 10\n\nUser-agent: *\nDisallow: /\n"
)
_ROBOTS_B = "User-agent: *\nDisallow: /blocked*core\n"

# Shared crawl-fixture builders as parsed SQL strings (r14, guide §7.3):
# the five frontier/sitemap composites each rebuilt these Column trees
# per call (~1.5-2k py4j round-trips per query construction); each
# string parses to the identical element_at/concat/CAST tree the
# Column chains produced.
_CRAWL_TLD_SQL = (
    "element_at(array('com', 'co.uk', 'org', 'com.au', 'net', 'io', 'de'), "
    "CAST(k + 1 AS INT))"
)
_CRAWL_HOST_SQL = f"concat('www.site', s, '.', {_CRAWL_TLD_SQL})"
_CRAWL_CANON_SQL = (
    f"concat('https://', {_CRAWL_HOST_SQL}, '/p/', p, '?a=1&b=', m)"
)


def robots_url_governance(spark, sf_dir):
    """robots.txt URL governance (functions/robotsfns.py, RFC 9309,
    r11): two fixed robots.txt files parse through the JVM fold
    (group semantics, the specific GraftBot group shadowing the
    host's ``*`` group), then every document mints one URL whose
    doc_id % 6 arm exercises a distinct decision path — prefix
    disallow, longest-match allow override, ``$`` end anchor (via a
    fragment keeping URLs unique while the matched path stays
    ``/tmp``), anchor miss, ``*`` wildcard disallow, and a host with
    no robots at all (default allow). The oracle never parses
    robots.txt: the six verdicts are closed-form in doc_id, so a
    group-binding, agent-selection, wildcard/anchor translation or
    precedence bug flips a verdict and hash-mismatches."""
    from sqlbackuphistoryetl_spark.functions.robotsfns import (
        parse_robots,
        robots_allowed,
    )

    robots = spark.range(2).select(
        F.when(F.col("id") == 0, "a.example")
        .otherwise("b.example").alias("host"),
        F.when(F.col("id") == 0, F.lit(_ROBOTS_A))
        .otherwise(F.lit(_ROBOTS_B)).alias("robots_txt"),
    )
    rules = parse_robots(robots)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # one parsed CASE expr — the F.when chain was ~60 py4j round-trips
    # per construction (r14, guide §7.3); same CaseWhen/Concat/Cast tree
    url = F.expr(
        "CASE WHEN doc_id % 6 = 0"
        " THEN concat('https://a.example/private/s', CAST(doc_id AS STRING))"
        " WHEN doc_id % 6 = 1"
        " THEN concat('https://a.example/private/pub/', CAST(doc_id AS STRING))"
        " WHEN doc_id % 6 = 2"
        " THEN concat('https://a.example/tmp#', CAST(doc_id AS STRING))"
        " WHEN doc_id % 6 = 3"
        " THEN concat('https://a.example/tmpfile', CAST(doc_id AS STRING))"
        " WHEN doc_id % 6 = 4"
        " THEN concat('https://b.example/blocked/', CAST(doc_id AS STRING), '/core')"
        " ELSE concat('https://c.example/open/', CAST(doc_id AS STRING)) END"
    )
    urls = docs.select("doc_id", url.alias("url"))
    out = robots_allowed(urls, rules, "GraftBot")
    return out.select("doc_id", "allowed")


ROBOTS_SQL = """
select doc_id,
       case when doc_id % 6 in (0, 2, 4) then false else true end
         as allowed
from documents
"""

_ORACLES["robots_url_governance"] = ROBOTS_SQL


def crawl_frontier_batch(spark, sf_dir):
    """Crawl-frontier composite (extensions/frontier.py, r11): every
    document mints TWO crawl variants of one page (the
    url_dedup_domain_stats fixture shape — uppercase host, :443,
    tracking params, fragment vs. the clean form) with priority
    doc_id % 13; the seen table holds every fourth page's canonical
    form; per-host robots.txt disallows ``/p/4`` (path values 4 and
    40-49); the politeness cap keeps the top 2 per registered domain.
    The oracle recomputes the WHOLE composition — canonical string
    closed-form (never normalizing), novelty and robots membership as
    arithmetic predicates, the same (priority desc, url asc)
    row_number — so a canonicalization, anti-join, governance,
    domain-keying or cap bug changes the surviving set and
    hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.frontier import (
        crawl_frontier,
    )
    from sqlbackuphistoryetl_spark.functions.robotsfns import parse_robots

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id % 7 AS k",
        "CAST(doc_id % 20 AS STRING) AS s",
        "CAST(doc_id % 50 AS STRING) AS p",
        "CAST(doc_id % 3 AS STRING) AS m",
        "doc_id % 13 AS pri",
        "doc_id % 4 = 0 AS is_seen",
    )
    # canon is nested via concat(https://host, concat(/p/...)) in the
    # original Column build — concat flattening happens identically in
    # the optimizer either way; here the plain form is used and the
    # variant URL keeps its inner concat nesting verbatim
    canon = F.expr(
        f"concat('https://', {_CRAWL_HOST_SQL}, "
        "concat('/p/', p, '?a=1&b=', m))"
    )
    va = F.expr(
        f"concat('HTTPS://', upper({_CRAWL_HOST_SQL}), ':443', "
        "concat('/p/', p), '?utm_source=x&b=', m, '&a=1#f')"
    )
    # explode_outer ≡ explode on a literal 2-element array; avoids the
    # InferFiltersFromGenerate size()>0 filter that would inline both
    # URL concat trees a second time (r13; see dedup.py posting note)
    discovered = d.select(
        F.explode_outer(F.array(va, canon)).alias("url"), F.col("pri")
    )
    seen = d.filter("is_seen").select(canon.alias("url"))
    robots = (
        d.selectExpr(f"{_CRAWL_HOST_SQL} AS host").distinct()
        .withColumn(
            "robots_txt", F.lit("User-agent: *\nDisallow: /p/4\n")
        )
    )
    out = crawl_frontier(
        discovered, seen, parse_robots(robots), "GraftBot",
        per_domain_cap=2, priority_col="pri",
    )
    return out.selectExpr(
        "url", "domain",
        "CAST(priority AS LONG) AS priority",
        "CAST(rank AS INT) AS rank",
    )


FRONTIER_SQL = r"""
with d as (
  select doc_id % 7 as k,
         cast(doc_id % 20 as varchar) as s,
         cast(doc_id % 50 as varchar) as p,
         cast(doc_id % 3 as varchar) as m,
         doc_id % 13 as pri,
         doc_id % 4 = 0 as is_seen
  from documents),
c as (
  select ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m, pri, is_seen
  from d),
f as (
  select 'https://www.site' || s || '.' || tld || '/p/' || p
           || '?a=1&b=' || m as url,
         'site' || s || '.' || tld as domain,
         pri
  from c
  where not is_seen and p not like '4%'),
ranked as (
  select url, domain, pri,
         row_number() over (partition by domain
                            order by pri desc, url asc) as rank
  from f)
select url, domain, cast(pri as bigint) as priority,
       cast(rank as int) as rank
from ranked where rank <= 2
"""

_ORACLES["crawl_frontier_batch"] = FRONTIER_SQL


def frontier_fetch_waves(spark, sf_dir):
    """Crawl-delay rate scheduling on the frontier batch
    (extensions/frontier.py: schedule_fetch_waves, r12): the exact
    crawl_frontier_batch fixture, with each host's robots.txt now
    declaring ``Crawl-delay: k+1`` (k = the tld index, so the delay is
    closed-form in doc_id) — every selected URL gets
    ``fetch_offset_s = (rank−1) × delay`` from the REAL robots parse
    (effective-group selection included). The oracle recomputes the
    frontier composition arithmetically as FRONTIER_SQL does and the
    wave directly from k, so a delay-parse, group-selection, join-key
    or wave-arithmetic bug shifts concrete offsets and
    hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.frontier import (
        crawl_frontier,
        schedule_fetch_waves,
    )
    from sqlbackuphistoryetl_spark.functions.robotsfns import parse_robots

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id % 7 AS k",
        "CAST(doc_id % 20 AS STRING) AS s",
        "CAST(doc_id % 50 AS STRING) AS p",
        "CAST(doc_id % 3 AS STRING) AS m",
        "doc_id % 13 AS pri",
        "doc_id % 4 = 0 AS is_seen",
    )
    canon = F.expr(
        f"concat('https://', {_CRAWL_HOST_SQL}, "
        "concat('/p/', p, '?a=1&b=', m))"
    )
    discovered = d.select(canon.alias("url"), F.col("pri"))
    seen = d.filter("is_seen").select(canon.alias("url"))
    robots = (
        d.selectExpr(f"{_CRAWL_HOST_SQL} AS host", "k").distinct()
        .selectExpr(
            "host",
            "concat('User-agent: *\\nDisallow: /p/4\\nCrawl-delay: ', "
            "CAST(k + 1 AS STRING), '\\n') AS robots_txt",
        )
    )
    batch = crawl_frontier(
        discovered, seen, parse_robots(robots), "GraftBot",
        per_domain_cap=2, priority_col="pri",
    )
    out = schedule_fetch_waves(batch, robots, "GraftBot")
    return out.selectExpr(
        "url", "host",
        "CAST(priority AS LONG) AS priority",
        "CAST(rank AS INT) AS rank",
        "CAST(crawl_delay AS DOUBLE) AS crawl_delay",
        "CAST(fetch_offset_s AS DOUBLE) AS fetch_offset_s",
    )


FETCH_WAVES_SQL = r"""
with d as (
  select doc_id % 7 as k,
         cast(doc_id % 20 as varchar) as s,
         cast(doc_id % 50 as varchar) as p,
         cast(doc_id % 3 as varchar) as m,
         doc_id % 13 as pri,
         doc_id % 4 = 0 as is_seen
  from documents),
c as (
  select k, ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m, pri, is_seen
  from d),
f as (
  select 'https://www.site' || s || '.' || tld || '/p/' || p
           || '?a=1&b=' || m as url,
         'www.site' || s || '.' || tld as host,
         'site' || s || '.' || tld as domain,
         k, pri
  from c
  where not is_seen and p not like '4%'),
ranked as (
  select url, host, domain, k, pri,
         row_number() over (partition by domain
                            order by pri desc, url asc) as rank
  from f)
select url, host, cast(pri as bigint) as priority,
       cast(rank as int) as rank,
       cast(k + 1 as double) as crawl_delay,
       cast(rank - 1 as double) * cast(k + 1 as double) as fetch_offset_s
from ranked where rank <= 2
"""

_ORACLES["frontier_fetch_waves"] = FETCH_WAVES_SQL


def sitemap_parse(spark, sf_dir):
    """Sitemap XML parsing under the oracle bar (r12,
    functions/robotsfns.py: sitemap_urls — previously test-covered
    only): every document contributes one ``<url>`` entry (loc with
    an XML-escaped ``&amp;`` in its query string, a lastmod date and
    a one-digit priority, all closed-form in doc_id) to its host's
    sitemap, assembled per host in deterministic doc_id order; the
    parser must explode the urlset back into one row per entry with
    the entities unescaped and priority parsed. The oracle mints each
    row directly from doc_id — an entry-regex, field-extract,
    unescape or cast bug mismatches."""
    from sqlbackuphistoryetl_spark.functions.robotsfns import sitemap_urls

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "doc_id % 7 AS k",
        "CAST(doc_id % 20 AS STRING) AS s",
        "CAST(doc_id % 50 AS STRING) AS p",
        "CAST(doc_id % 3 AS STRING) AS m",
        "doc_id % 27 + 1 AS day",
        "CAST(doc_id % 10 AS STRING) AS pr",
    )
    host = F.expr(_CRAWL_HOST_SQL)
    entry = F.expr(
        f"concat('<url><loc>https://', {_CRAWL_HOST_SQL}, '/p/', p, "
        "'?a=1&amp;b=', m, '</loc>\\n<lastmod>2025-01-', "
        "lpad(CAST(day AS STRING), 2, '0'), '</lastmod><priority>0.', "
        "pr, '</priority></url>')"
    )
    sitemaps = (
        d.select(host.alias("host"), F.col("doc_id"), entry.alias("e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "e"))
                        ),
                        lambda x: x["e"],
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
        )
    )
    out = sitemap_urls(sitemaps)
    return out.select(
        "host", "loc",
        F.col("lastmod"),
        F.col("priority").cast("double").alias("priority"),
    )


SITEMAP_SQL = r"""
with d as (
  select doc_id,
         doc_id % 7 as k,
         cast(doc_id % 20 as varchar) as s,
         cast(doc_id % 50 as varchar) as p,
         cast(doc_id % 3 as varchar) as m,
         doc_id % 27 + 1 as day,
         cast(doc_id % 10 as varchar) as pr
  from documents),
c as (
  select ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m, day, pr
  from d)
select 'www.site' || s || '.' || tld as host,
       'https://www.site' || s || '.' || tld || '/p/' || p
         || '?a=1&b=' || m as loc,
       '2025-01-' || lpad(cast(day as varchar), 2, '0') as lastmod,
       cast('0.' || pr as double) as priority
from c
"""

_ORACLES["sitemap_parse"] = SITEMAP_SQL


def sitemap_frontier(spark, sf_dir):
    """Discovery-side composite (r12): per-host sitemap XML → parsed
    urlset (sitemap_urls — XML-unescaped locs, priorities) → the
    crawl frontier (novelty anti-join against seen, robots
    governance, per-domain politeness cap), with the sitemap
    priority driving the within-domain ranking
    (round(priority × 10) — the round() kills any 0.x-double ulp).
    The oracle recomputes the surviving batch arithmetically with an
    explicit DISTINCT over the minted URLs (collision partners mint
    identical (url, pri) rows here, so the dedup semantics are exact
    by construction, not by fixture luck) — a parse, unescape,
    priority-scale, anti-join, governance or cap bug changes the
    batch and hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.frontier import (
        crawl_frontier,
    )
    from sqlbackuphistoryetl_spark.functions.robotsfns import (
        parse_robots,
        sitemap_urls,
    )

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "doc_id % 7 AS k",
        "CAST(doc_id % 20 AS STRING) AS s",
        "CAST(doc_id % 50 AS STRING) AS p",
        "CAST(doc_id % 3 AS STRING) AS m",
        "CAST(doc_id % 10 AS STRING) AS pr",
        "doc_id % 4 = 0 AS is_seen",
    )
    host = F.expr(_CRAWL_HOST_SQL)
    entry = F.expr(
        f"concat('<url><loc>', concat('https://', {_CRAWL_HOST_SQL}, "
        "'/p/', p, '?a=1&amp;b=', m), '</loc><priority>0.', pr, "
        "'</priority></url>')"
    )
    sitemaps = (
        d.select(host.alias("host"), F.col("doc_id"), entry.alias("e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "e"))
                        ),
                        lambda x: x["e"],
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
        )
    )
    discovered = sitemap_urls(sitemaps).selectExpr(
        "loc AS url",
        "CAST(round(priority * 10) AS LONG) AS pri",
    )
    canon = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("p"),
        F.lit("?a=1&b="), F.col("m"),
    )
    seen = d.filter("is_seen").select(canon.alias("url"))
    robots = (
        d.select(host.alias("host")).distinct()
        .withColumn(
            "robots_txt", F.lit("User-agent: *\nDisallow: /p/4\n")
        )
    )
    out = crawl_frontier(
        discovered, seen, parse_robots(robots), "GraftBot",
        per_domain_cap=2, priority_col="pri",
    )
    return out.selectExpr(
        "url", "domain",
        "CAST(priority AS LONG) AS priority",
        "CAST(rank AS INT) AS rank",
    )


SITEMAP_FRONTIER_SQL = r"""
with d as (
  select doc_id % 7 as k,
         cast(doc_id % 20 as varchar) as s,
         cast(doc_id % 50 as varchar) as p,
         cast(doc_id % 3 as varchar) as m,
         doc_id % 10 as pri,
         doc_id % 4 = 0 as is_seen
  from documents),
c as (
  select ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m, pri, is_seen
  from d),
f as (
  select distinct
         'https://www.site' || s || '.' || tld || '/p/' || p
           || '?a=1&b=' || m as url,
         'site' || s || '.' || tld as domain,
         pri
  from c
  where not is_seen and p not like '4%'),
ranked as (
  select url, domain, pri,
         row_number() over (partition by domain
                            order by pri desc, url asc) as rank
  from f)
select url, domain, cast(pri as bigint) as priority,
       cast(rank as int) as rank
from ranked where rank <= 2
"""

_ORACLES["sitemap_frontier"] = SITEMAP_FRONTIER_SQL


def sitemap_index_frontier(spark, sf_dir):
    """Nested-discovery + scheduling composite (r13, closing the
    crawl loop): per-host ``<sitemapindex>`` files list two child
    sitemap URLs; the children that were actually fetched (hosts own
    a child only if some doc hashed into it — an index loc with no
    fetched body contributes nothing, like a 404'd sitemap) parse in
    a second wave (functions/robotsfns.py: sitemap_index_expand),
    the leaf URLs run the SAME frontier pipeline sitemap_frontier
    pins (novelty anti-join, robots governance, per-domain cap 2),
    and the surviving batch is rate-scheduled with
    schedule_fetch_waves — per-host Crawl-delay ``s+1`` seconds, so
    ``fetch_offset_s = (rank−1)×(s+1)`` exactly. The oracle replays
    BOTH discovery levels and the wave arithmetic closed-form: an
    index-parse, child-join, second-parse, frontier or spacing bug
    hash-mismatches."""
    from sqlbackuphistoryetl_spark.extensions.frontier import (
        crawl_frontier,
        schedule_fetch_waves,
    )
    from sqlbackuphistoryetl_spark.functions.robotsfns import (
        parse_robots,
        sitemap_index_expand,
    )

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "doc_id % 7 AS k",
        "CAST(doc_id % 20 AS STRING) AS s",
        "CAST(doc_id % 50 AS STRING) AS p",
        "CAST(doc_id % 3 AS STRING) AS m",
        "CAST(doc_id % 10 AS STRING) AS pr",
        "CAST(doc_id % 2 AS STRING) AS c",
        "doc_id % 4 = 0 AS is_seen",
    )
    host = F.expr(_CRAWL_HOST_SQL)
    entry = F.expr(
        f"concat('<url><loc>', concat('https://', {_CRAWL_HOST_SQL}, "
        "'/p/', p, '?a=1&amp;b=', m), '</loc><priority>0.', pr, "
        "'</priority></url>')"
    )
    child_url = F.expr(
        f"concat('https://', {_CRAWL_HOST_SQL}, '/sm-', c, '.xml')"
    )
    # the fetched second wave: one urlset per (host, child) that OWNS
    # at least one entry
    fetched = (
        d.select(
            child_url.alias("url"), F.col("doc_id"), entry.alias("e")
        )
        .groupBy("url")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "e"))
                        ),
                        lambda x: x["e"],
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
        )
    )
    # the first wave: every host's index lists BOTH child locs,
    # whether or not that child was ever fetched
    indexes = d.select(host.alias("host")).distinct().select(
        "host",
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"),
            F.col("host"), F.lit("/sm-0.xml</loc></sitemap>"),
            F.lit("<sitemap><loc>https://"),
            F.col("host"), F.lit("/sm-1.xml</loc></sitemap>"),
            F.lit("</sitemapindex>"),
        ).alias("sitemap_xml"),
    )
    leaves = sitemap_index_expand(indexes, fetched).filter(
        ~F.col("is_index")
    )
    discovered = leaves.selectExpr(
        "loc AS url",
        "CAST(round(priority * 10) AS LONG) AS pri",
    )
    canon = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("p"),
        F.lit("?a=1&b="), F.col("m"),
    )
    seen = d.filter("is_seen").select(canon.alias("url"))
    robots = (
        d.select(host.alias("host"), F.col("s")).distinct()
        .selectExpr(
            "host",
            "concat('User-agent: *\\nDisallow: /p/4\\nCrawl-delay: ', "
            "CAST(CAST(s AS INT) + 1 AS STRING), '\\n') AS robots_txt",
        )
    )
    batch = crawl_frontier(
        discovered, seen, parse_robots(robots), "GraftBot",
        per_domain_cap=2, priority_col="pri",
    )
    waves = schedule_fetch_waves(batch, robots, "GraftBot")
    return waves.selectExpr(
        "url", "domain",
        "CAST(priority AS LONG) AS priority",
        "CAST(rank AS INT) AS rank",
        "CAST(crawl_delay AS LONG) AS delay_s",
        "CAST(fetch_offset_s AS LONG) AS offset_s",
    )


SITEMAP_INDEX_FRONTIER_SQL = r"""
with d as (
  select doc_id % 7 as k,
         cast(doc_id % 20 as varchar) as s,
         cast(doc_id % 50 as varchar) as p,
         cast(doc_id % 3 as varchar) as m,
         doc_id % 10 as pri,
         doc_id % 4 = 0 as is_seen
  from documents),
c as (
  select ['com','co.uk','org','com.au','net','io','de'][k + 1] as tld,
         s, p, m, pri, is_seen
  from d),
f as (
  select distinct
         'https://www.site' || s || '.' || tld || '/p/' || p
           || '?a=1&b=' || m as url,
         'site' || s || '.' || tld as domain,
         cast(s as int) + 1 as delay_s,
         pri
  from c
  where not is_seen and p not like '4%'),
ranked as (
  select url, domain, delay_s, pri,
         row_number() over (partition by domain
                            order by pri desc, url asc) as rank
  from f)
select url, domain, cast(pri as bigint) as priority,
       cast(rank as int) as rank,
       cast(delay_s as bigint) as delay_s,
       cast((rank - 1) * delay_s as bigint) as offset_s
from ranked where rank <= 2
"""

_ORACLES["sitemap_index_frontier"] = SITEMAP_INDEX_FRONTIER_SQL


def warc_cdx_lookup(spark, sf_dir):
    """The CDX random-access serving path under the oracle bar
    (sources/warc.py: warc_cdx_index + read_warc_by_index, r12):
    write member-per-record shards from the documents, build the CDX
    index (one map-side pass), FILTER the index to the doc_id%5==2
    sample, then range-read ONLY those members back as a distributed
    point-read job — the 100 TB serving pattern where bytes moved =
    selected records. The oracle computes the sample's
    (doc_id, n_chars, payload md5) straight from the document text,
    so an offset/length framing, member-boundary, inflate or
    selection bug serves wrong bytes and hash-mismatches."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        read_warc_by_index,
        warc_cdx_index,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recs = docs.selectExpr(
        "concat('http://example.com/cdx/', "
        "lpad(CAST(doc_id AS STRING), 9, '0')) AS target_uri",
        "'conversion' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        "encode(regexp_replace(text, '[^ -~]', '?'), 'UTF-8') AS payload",
        "CAST(NULL AS STRING) AS http_content_type",
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_warc_cdx_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(recs, path, records_per_shard=64)
    idx = warc_cdx_index(spark, path, fan_out=_fan(spark))
    sample = idx.filter(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) % 5 = 2"
    )
    served = read_warc_by_index(sample.repartition(_fan(spark), "shard"), path)
    return served.selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "length(decode(payload, 'UTF-8')) AS n_chars",
        "md5(decode(payload, 'UTF-8')) AS txt_md5",
    )


CDX_LOOKUP_SQL = r"""
with s as (
  select doc_id, regexp_replace(text, '[^ -~]', '?', 'g') as st
  from documents
  where doc_id % 5 = 2)
select doc_id,
       cast(length(st) as int) as n_chars,
       md5(st) as txt_md5
from s
"""

_ORACLES["warc_cdx_lookup"] = CDX_LOOKUP_SQL


def wat_link_graph(spark, sf_dir):
    """WAT metadata records — the third Common Crawl format next to
    WARC/WET (sources/warc.py: wat_records / wat_html_metadata, r11):
    each document's standard WAT envelope (nested hyphenated keys,
    Head.Title, a Links array of 1 + doc_id % 4 outgoing URLs) is
    built JVM-side with to_json, written as gzip-member ``metadata``
    records, read back through the record walk, and parsed with ONE
    from_json against the envelope subset DDL. The oracle never
    touches JSON or WARC: title and the link list are closed-form in
    doc_id, so an envelope-path, array-parse, record-type filter or
    json round-trip bug hash-mismatches."""
    import os
    import shutil

    from sqlbackuphistoryetl_spark.sources.warc import (
        read_warc_gz,
        wat_html_metadata,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # one parsed expr for the whole WAT envelope (r14, guide §7.3):
    # named_struct carries the same field names the alias chain minted,
    # so to_json output is byte-identical
    envelope_sql = (
        "to_json(named_struct('Envelope', named_struct("
        "'Payload-Metadata', named_struct("
        "'HTTP-Response-Metadata', named_struct("
        "'HTML-Metadata', named_struct("
        "'Head', named_struct('Title', "
        "concat('Doc ', CAST(doc_id AS STRING))), "
        "'Links', transform(sequence(0, CAST(doc_id % 4 AS INT)), "
        "i -> named_struct('url', concat('https://l.example/', "
        "CAST(doc_id AS STRING), '/', CAST(i AS STRING))))"
        "))))))"
    )
    recs = docs.selectExpr(
        "concat('http://example.com/page/', "
        "lpad(CAST(doc_id AS STRING), 9, '0')) AS target_uri",
        "'metadata' AS warc_type",
        "'2025-01-01T00:00:00Z' AS warc_date",
        f"encode({envelope_sql}, 'UTF-8') AS payload",
        "'application/json' AS content_type",
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_wat_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    write_warc(recs, path, records_per_shard=64)
    out = wat_html_metadata(read_warc_gz(spark, path, fan_out=_fan(spark)))
    # try_: ANSI element_at throws on an empty array, and a parse
    # regression surfacing as NULLs beats an aborted driver run
    return out.selectExpr(
        r"CAST(regexp_extract(target_uri, '(\\d+)$', 1) AS LONG) AS doc_id",
        "title",
        "size(links) AS n_links",
        "try_element_at(links, 1) AS first_link",
        "try_element_at(links, -1) AS last_link",
    )


WAT_LINK_SQL = """
select doc_id,
       'Doc ' || doc_id as title,
       cast(1 + doc_id % 4 as int) as n_links,
       'https://l.example/' || doc_id || '/0' as first_link,
       'https://l.example/' || doc_id || '/' || (doc_id % 4) as last_link
from documents
"""

_ORACLES["wat_link_graph"] = WAT_LINK_SQL

# Registry order is LOAD-BEARING: the driver checks the FIRST 50
# entries only. From round 7 on the order is COMPUTED, not
# hand-maintained: tools/rotation.py ranks gates never-green-first,
# then stalest-green-first (name tiebreak), from the committed
# CORRECTNESS_r*.json history; tests/test_driver_contract.py asserts
# the shipped window and ROTATION_DEFERRED equal the computed ones.
# Regenerate with `python tools/regen_registry.py` after appending
# a new gate or when a new CORRECTNESS_r*.json lands.
_FUNCS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver window (never-green gates first, then stalest
    # greens by (round, name); latest recorded round: r14) ---
    "html_numeric_refs": html_numeric_refs,
    "jsonl_roundtrip_ingest": jsonl_roundtrip_ingest,
    "label_centroid_stats": label_centroid_stats,
    "media_info_webm": media_info_webm,
    "minhash_index_compact": minhash_index_compact,
    "multimodal_adpcm_audio": multimodal_adpcm_audio,
    "multimodal_avi_frames": multimodal_avi_frames,
    "multimodal_featurize_ann": multimodal_featurize_ann,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_g711_audio": multimodal_g711_audio,
    "multimodal_image_quality": multimodal_image_quality,
    "multimodal_jpeg_fingerprint": multimodal_jpeg_fingerprint,
    "multimodal_mjpeg_frames": multimodal_mjpeg_frames,
    "o1_ordered_chain_page": o1_ordered_chain_page,
    "o3_top1_scalar": o3_top1_scalar,
    "o4_first_event_after": o4_first_event_after,
    "o5_top2_desc": o5_top2_desc,
    "p3_decimal_lsn_range": p3_decimal_lsn_range,
    "p4_watermark_overlap_window": p4_watermark_overlap_window,
    "pdf_tounicode_text": pdf_tounicode_text,
    "robots_url_governance": robots_url_governance,
    "sample_global_k": sample_global_k,
    "script_composition": script_composition,
    "temperature_lang_sample_a25": temperature_lang_sample_a25,
    "warc_html_prose": warc_html_prose,
    "warc_ingest_stats": warc_ingest_stats,
    "wat_link_graph": wat_link_graph,
    "winnowing_overlap_pairs": winnowing_overlap_pairs,
    "a1_watermark_advance": a1_watermark_advance,
    "a2_nonempty_guard": a2_nonempty_guard,
    "a3_retention_cutoff": a3_retention_cutoff,
    "compression_ratio_signal": compression_ratio_signal,
    "embed_hashed_text": embed_hashed_text,
    "frontier_fetch_waves": frontier_fetch_waves,
    "heavy_hitter_grams": heavy_hitter_grams,
    "hourly_event_rollup": hourly_event_rollup,
    "html_extract_text": html_extract_text,
    "hybrid_rrf_retrieval": hybrid_rrf_retrieval,
    "image_exif_triage": image_exif_triage,
    "incremental_dedup_cross": incremental_dedup_cross,
    "ivf_pq_search": ivf_pq_search,
    "jsonl_zst_roundtrip": jsonl_zst_roundtrip,
    "knn_label_vote": knn_label_vote_gate,
    "lang_id_multi": lang_id_multi,
    "lang_id_stopwords": lang_id_stopwords,
    "length_outlier_trim": length_outlier_trim,
    "main_content_context": main_content_context,
    "main_content_extract": main_content_extract,
    "media_info_mixed": media_info_mixed,
    "multimodal_flac_audio": multimodal_flac_audio,
    # ---------------------------------------------------------------
    # Parked behind the 50-slot window: first the ROTATION_DEFERRED
    # overflow (rotates into the next window), then the fresh greens.
    "a4_min_after_threshold": a4_min_after_threshold,
    "a5_minmax_loop_bounds": a5_minmax_loop_bounds,
    "a6_sorted_stringagg_per_group": a6_sorted_stringagg_per_group,
    "a7_global_stringagg": a7_global_stringagg,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "approx_distinct_users": approx_distinct_users,
    "bm25_ranking": bm25_ranking,
    "bpe_fertility_lang": bpe_fertility_lang,
    "bpe_roundtrip_decode": bpe_roundtrip_decode,
    "case_type_map": case_type_map,
    "char_entropy_quality": char_entropy_quality,
    "corpus_report": corpus_report,
    "corpus_token_budget": corpus_token_budget,
    "curation_funnel": curation_funnel,
    "curation_pipeline_e2e": curation_pipeline_e2e,
    "datefmt_stopat": datefmt_stopat,
    "dedup_cluster_histogram": dedup_cluster_histogram,
    "dedup_clusters": dedup_clusters,
    "dedup_exact": dedup_exact,
    "dedup_keep_one": dedup_keep_one,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "multimodal_gif_animation": multimodal_gif_animation,
    "multimodal_gif_fingerprint": multimodal_gif_fingerprint,
    "multimodal_jpeg_progressive": multimodal_jpeg_progressive,
    "multimodal_tiff_fingerprint": multimodal_tiff_fingerprint,
    "ngram_containment_capped": ngram_containment_capped,
    "p9_fallback_probe": p9_fallback_probe,
    "packed_sequence_export": packed_sequence_export,
    "parquet_compact_roundtrip": parquet_compact_roundtrip,
    "pii_redaction": pii_redaction,
    "pmi_collocations": pmi_collocations_gate,
    "pq_adc_search": pq_adc_search,
    "q1_pricing_summary": q1_pricing_summary,
    "quality_model_score": quality_model_score,
    "quality_rare_tokens": quality_rare_tokens,
    "quality_repetition": quality_repetition,
    "rag_chunking": rag_chunking,
    "retention_filter_counts": retention_filter_counts,
    "scalar_path_surgery": scalar_path_surgery,
    "semantic_decontam": semantic_decontam,
    "semdedup_prune": semdedup_prune,
    "semdedup_text_prune": semdedup_text_prune,
    "sentence_split_stats": sentence_split_stats,
    "sequence_packing": sequence_packing,
    "sitemap_frontier": sitemap_frontier,
    "sitemap_index_frontier": sitemap_index_frontier,
    "sitemap_parse": sitemap_parse,
    "size_trunc_math": size_trunc_math,
    "skew_salted_agg": skew_salted_agg,
    "stratified_sample_by_lang": stratified_sample_by_lang,
    "stream_dedup_sessions": stream_dedup_sessions,
    "temperature_lang_sample": temperature_lang_sample,
    "text_bpe_token_count": text_bpe_token_count,
    "text_quality_score": text_quality_score,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_token_count": text_token_count,
    "token_len_histogram": token_len_histogram,
    "token_percentiles": token_percentiles,
    "train_val_test_split": train_val_test_split,
    "u1_union_distinct_tail": u1_union_distinct_tail,
    "unigram_fit_segment": unigram_fit_segment,
    "unigram_fit_vocab": unigram_fit_vocab,
    "unigram_segment_viterbi": unigram_segment_viterbi,
    "unigram_surprisal": unigram_surprisal,
    "unimax_lang_budget": unimax_lang_budget,
    "url_dedup_domain_stats": url_dedup_domain_stats,
    "w1_latest_order_per_customer": w1_latest_order_per_customer,
    "w2_canonical_group_id": w2_canonical_group_id,
    "w3_tail_two_patch": w3_tail_two_patch,
    "warc_cdx_lookup": warc_cdx_lookup,
    "warc_charset_decode": warc_charset_decode,
    "warc_main_content": warc_main_content,
    "web_curation_e2e": web_curation_e2e,
    "webdataset_roundtrip": webdataset_roundtrip,
    "weighted_sample_docs": weighted_sample_docs,
    "weighted_source_mix": weighted_source_mix,
    "wordpiece_segment_fixed": wordpiece_segment_fixed,
    # --- fresh greens (eligible to park two rounds) ---------------
    "asof_last_purchase": asof_last_purchase,
    "bloom_prefilter_verdicts": bloom_prefilter_verdicts,
    "boilerplate_line_removal": boilerplate_line_removal,
    "bpe_byte_level": bpe_byte_level,
    "bpe_merge_candidates": bpe_merge_candidates,
    "bpe_packed_export": bpe_packed_export,
    "bpe_segment_fixed": bpe_segment_fixed,
    "ccnet_perplexity": ccnet_perplexity,
    "chain_state_fold": chain_state_fold,
    "chunk_dedup_spans": chunk_dedup_spans,
    "contamination_ngram": contamination_ngram,
    "corpus_version_diff": corpus_version_diff,
    "crawl_frontier_batch": crawl_frontier_batch,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_source_matrix": dedup_source_matrix,
    "doc_fingerprint": doc_fingerprint,
    "domain_cap_topn": domain_cap_topn,
    "dsir_selection": dsir_selection,
    "dup_window_spans": dup_window_spans,
    "edit_distance_pairs": edit_distance_pairs,
    "embedding_cosine_topk": embedding_cosine_topk,
    "embedding_covariance": embedding_covariance,
    "embedding_near_dup": embedding_near_dup,
    "embedding_quantize_profile": embedding_quantize_profile,
    "event_sessionization": event_sessionization,
    "fineweb_quality": fineweb_quality,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "global_shard_ids": global_shard_ids,
    "gopher_quality": gopher_quality,
    "gopher_repetition": gopher_repetition,
    "hard_negative_mining": hard_negative_mining,
    "j1_region_revenue": j1_region_revenue,
    "j2_customers_without_recent_orders": j2_customers_without_recent_orders,
    "j3_filtered_left_join": j3_filtered_left_join,
    "j5_order_lines_json": j5_order_lines_json,
    "j6_watermark_antijoin_dedup": j6_watermark_antijoin_dedup,
    "json_props_extract": json_props_extract,
    "media_info_mp4": media_info_mp4,
    "media_info_web": media_info_web,
    "multimodal_audio_quality": multimodal_audio_quality,
    "multimodal_audiofp_fingerprint": multimodal_audiofp_fingerprint,
    "multimodal_ccitt_fax": multimodal_ccitt_fax,
    "multimodal_dhash_fingerprint": multimodal_dhash_fingerprint,
    "multimodal_jpeg_12bit": multimodal_jpeg_12bit,
    "multimodal_metadata": multimodal_metadata,
    "ngram_containment": ngram_containment,
    "pdf_extract_text": pdf_extract_text,
    "pdf_scanned_images": pdf_scanned_images,
    "zorder_cluster_stats": zorder_cluster_stats,
}

# Structural rotation debt, made explicit and bounded. The registry
# holds more than 2×50 gates, so not every gate can get a driver-green
# row every two rounds — the overflow (at most ``len(registry) − 100``
# gates) may go THREE rounds between checks, and must be named here.
# tests/test_driver_contract.py enforces: (a) this set is no larger
# than the structural deficit, (b) every member is actually parked
# outside the window, (c) members are at most three recorded rounds
# stale, and (d) every other parked gate is green within two. Rotate
# membership every round — a gate may not defer twice in a row, since
# the 3-round cap forces it into the next window.
ROTATION_DEFERRED: frozenset[str] = frozenset(
    {
        # Computed by tools/rotation.py (see tools/regen_registry.py):
        # parked gates whose last green row predates the latest
        # recorded round — they rotate into the NEXT window.
        "a4_min_after_threshold",
        "a5_minmax_loop_bounds",
        "a6_sorted_stringagg_per_group",
        "a7_global_stringagg",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "approx_distinct_users",
        "bm25_ranking",
        "bpe_fertility_lang",
        "bpe_roundtrip_decode",
        "case_type_map",
        "char_entropy_quality",
        "corpus_report",
        "corpus_token_budget",
        "curation_funnel",
        "curation_pipeline_e2e",
        "datefmt_stopat",
        "dedup_cluster_histogram",
        "dedup_clusters",
        "dedup_exact",
        "dedup_keep_one",
        "dedup_minhash_lsh",
        "multimodal_gif_animation",
        "multimodal_gif_fingerprint",
        "multimodal_jpeg_progressive",
        "multimodal_tiff_fingerprint",
        "ngram_containment_capped",
        "p9_fallback_probe",
        "packed_sequence_export",
        "parquet_compact_roundtrip",
        "pii_redaction",
        "pmi_collocations",
        "pq_adc_search",
        "q1_pricing_summary",
        "quality_model_score",
        "quality_rare_tokens",
        "quality_repetition",
        "rag_chunking",
        "retention_filter_counts",
        "scalar_path_surgery",
        "semantic_decontam",
        "semdedup_prune",
        "semdedup_text_prune",
        "sentence_split_stats",
        "sequence_packing",
        "sitemap_frontier",
        "sitemap_index_frontier",
        "sitemap_parse",
        "size_trunc_math",
        "skew_salted_agg",
        "stratified_sample_by_lang",
        "stream_dedup_sessions",
        "temperature_lang_sample",
        "text_bpe_token_count",
        "text_quality_score",
        "text_tfidf_top_terms",
        "text_token_count",
        "token_len_histogram",
        "token_percentiles",
        "train_val_test_split",
        "u1_union_distinct_tail",
        "unigram_fit_segment",
        "unigram_fit_vocab",
        "unigram_segment_viterbi",
        "unigram_surprisal",
        "unimax_lang_budget",
        "url_dedup_domain_stats",
        "w1_latest_order_per_customer",
        "w2_canonical_group_id",
        "w3_tail_two_patch",
        "warc_cdx_lookup",
        "warc_charset_decode",
        "warc_main_content",
        "web_curation_e2e",
        "webdataset_roundtrip",
        "weighted_sample_docs",
        "weighted_source_mix",
        "wordpiece_segment_fixed",
    }
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: restore-chain-shaped query on sf0.001 — latest order per
    customer (W1 with ties) enriched with its serialized line items (J5)
    and region (J1 broadcast joins)."""
    sf_dir = "/root/testdata/sf0.001"
    latest = w1_latest_order_per_customer(spark, sf_dir)
    lines = j5_order_lines_json(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        latest.join(lines, latest["o_orderkey"] == lines["l_orderkey"], "left")
        .join(c, latest["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("o_custkey", "o_orderkey", "o_orderdate", "n_name", "lines_json")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_FUNCS)


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _ORACLES.items() if v is not None}
