"""Relational analytics query library — the operator-coverage surface beyond
the reference's declared KPIs (SURVEY.md §2.7 notes these operator classes
are absent from the reference; our engine provides them as first-class
Spark plans): multi-way joins, semi/anti joins, set operations, rollup,
window functions (rank / lag / running totals), exact percentiles,
conditional aggregation, sessionization, JSON extraction, and an as-of join.

Every query has a DuckDB oracle with identical column names; floats follow
the decimal-sum parity recipe (plans/_parity.py); timestamps cross the
engine boundary as unix microseconds (exact integers) or formatted strings.

Scale notes inline — the recurring themes:
- aggregate-then-join (shrink fact side before dimension joins),
- broadcast the bounded dims, let AQE handle the sf-scaled ones,
- windows partitioned by a key (never a global single-partition window
  except over already-bounded aggregates),
- set ops on pre-deduped key columns (shuffle carries keys only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mini_data_platform_spark.catalog import load_table
from mini_data_platform_spark.operators.asof import asof_join
from mini_data_platform_spark.operators.resources import listed_bytes
from mini_data_platform_spark.operators.sketch import sql_cms_table
from mini_data_platform_spark.plans._parity import davg, dsum, sql_davg, sql_dsum

def _spread_if_narrow(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a scan-rooted frame to full parallelism ONLY when its
    input would plan fewer splits than the session has cores — the
    single-split-fixture disease (one map task does all the aggregate's
    per-row work while 31 cores idle, round-15 job attribution) without
    penalizing wide scans: at production file counts the estimate
    exceeds the core count and the frame passes through UNTOUCHED, so
    the standard partial-agg-before-exchange plan (guide §2.3) keeps
    its map-side combine. The split estimate is driver-side arithmetic
    over the already-listed file sizes — no job.

    With ``keys``, the spread is HASH-partitioning on the aggregate's
    own keys at the session partition count, which the downstream
    groupBy REUSES (guide §2.4) — one exchange total, same shuffle
    count as the un-spread plan; round-robin otherwise (the multiset
    crosses either way)."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        total = listed_bytes(files) if files else None
        jutils = spark._jvm.org.apache.spark.network.util.JavaUtils  # noqa: SLF001
        mpb = jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
    except Exception:  # noqa: BLE001 — estimation is advisory
        return df
    if total is None:
        return df  # not scan-rooted, or no cheap size probe
    est = max(len(files), -(-total // mpb))
    if est >= p:
        return df
    return df.repartition(p, *keys) if keys else df.repartition(p)


def _revenue():
    # built lazily: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_REVENUE = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------- TPC-H-ish

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate. One shuffle over 6 group
    keys; partial aggregation reduces each scan partition to ≤6 rows, so
    at 100 TB this is pure scan + codegen'd agg, shuffle cost ~zero."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(_revenue()).alias("sum_disc_price"),
            dsum(_revenue() * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join where customer and supplier must be
    in the same nation. region/nation broadcast unconditionally (fixed
    cardinality); supplier/customer broadcast while under the AQE threshold.
    Join order: shrink lineitem by its supplier/order keys first, keep the
    c_nationkey = s_nationkey filter as a join predicate (not a post-filter)
    so Catalyst can plan it into the join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum(_revenue()).alias("revenue"), F.count("*").alias("n_lines"))
    )


def top_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    top-10 orders by revenue. The segment filter pushes into the customer
    scan; top-k is TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(dsum(_revenue()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): subtotal rows per region + grand total.
    grouping_id disambiguates subtotal NULLs from data NULLs. Rollup is one
    shuffle; Spark expands grouping sets at the partial-agg stage."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        base.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
    )


def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets — cells, two
    marginals, grand total — in one shuffle; Spark expands grouping sets at
    the partial-agg stage just like ROLLUP."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        dsum(F.col("o_totalprice")).alias("revenue"),
        F.count("*").alias("n_orders"),
        F.grouping_id().alias("gid"),
    )


# ------------------------------------------------------------------ windows

def customer_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by revenue within each nation — the canonical
    top-k-per-group window. Aggregate first (bounds the window input at
    |customers|), then rank within nation partitions. Deterministic via
    custkey tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = orders.groupBy("o_custkey").agg(dsum(F.col("o_totalprice")).alias("revenue"))
    joined = per_cust.join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            "revenue",
            "rnk",
        )
    )


def daily_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over the daily aggregate: day-over-day revenue delta. Window
    input is bounded (days), so the unpartitioned window is safe."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "revenue",
        F.lag("revenue").over(w).alias("prev_revenue"),
        (F.col("revenue") - F.lag("revenue").over(w)).alias("delta"),
    )


def monthly_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative monthly revenue. The running sum stays in exact decimal
    until the final cast (DuckDB's windowed decimal SUM is inexact, so the
    oracle uses a range self-join — but OUR engine's window sum over
    decimal is exact)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("_rev_dec"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        F.col("_rev_dec").cast("double").alias("revenue"),
        F.sum("_rev_dec").over(w).cast("double").alias("cumulative_revenue"),
    )


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's keep-latest dedup (operators/dedup.py D2 semantics,
    processor.py:74-77 parity) expressed over orders: per customer keep the
    most recent order, deterministic orderkey tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc_nulls_first(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


# --------------------------------------------------------- semi/anti/setops

def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers that placed at least one order.
    The semi join shuffles only the key column of the probe side and
    short-circuits on first match."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — returns whatever customers never
    ordered (possibly zero rows; the shape is what's exercised)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))


def wealthy_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (high-balance customers INTERSECT customers with
    orders) EXCEPT customers in nations 0-4. Set ops run on pre-projected
    single-key columns, so the shuffles carry keys only."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    high_bal = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    with_orders = orders.select(F.col("o_custkey").alias("custkey"))
    low_nation = customer.filter(F.col("c_nationkey") < 5).select(
        F.col("c_custkey").alias("custkey")
    )
    return high_bal.intersect(with_orders).subtract(low_nation)


def order_stats_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate: Spark plans multiple count(DISTINCT) via
    expand + two-phase agg — one pass over the data."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count("*").alias("n_orders"),
    )


def priority_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (pivot shape): per priority, order counts and
    revenue split by status — sum(CASE WHEN ...) compiled into one agg pass."""
    orders = load_table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.when(is_f, 1)).alias("n_f"),
        F.count(F.when(is_o, 1)).alias("n_o"),
        F.count(F.when(~(is_f | is_o), 1)).alias("n_other"),
        dsum(F.when(is_f, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias("revenue_f"),
        dsum(F.when(is_o, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias("revenue_o"),
    )


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per returnflag (sort-based exact
    median/quartiles; for 100 TB production use approx_percentile — the
    exact variant exists for parity-checkable correctness).

    The projected (flag, price) rows are repartitioned before the
    aggregate: exact ``percentile`` partials BUFFER every value (no
    map-side reduction), so on the fixture's single-split parquet the
    whole buffer build ran as ONE 2.2 s task (round-15 job
    attribution). Unlike the sum-aggregate case (where the same spread
    measured SLOWER and was rejected), the shuffle adds no bytes here —
    the full value multiset crosses the exchange either way — so
    spreading the buffer build is pure parallelism. Partial-merge order
    does not affect the result: the final percentile sorts the merged
    multiset. One ARRAY-form percentile aggregate instead of three
    scalar ones: the three separate aggregates each built (and
    shuffled) their own copy of the per-group value buffer; the array
    form keeps ONE buffer and reads all three ranks from the same
    sorted pass — identical interpolation, one third the aggregation
    state. Guarded (_spread_if_narrow): a wide production scan already
    builds buffers in parallel, and there the extra exchange would
    make the multiset cross twice."""
    li = _spread_if_narrow(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    pct = F.percentile(
        F.col("l_extendedprice"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
    )
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(pct.alias("_p"))
        .select(
            "returnflag",
            F.col("_p")[0].alias("p25"),
            F.col("_p")[1].alias("p50"),
            F.col("_p")[2].alias("p75"),
        )
    )


#: percentile_approx accuracy when none is passed and MDP_PCTL_ACCURACY
#: is unset. 1e6 keeps the GK sketch in its exact-rank regime at oracle
#: scales (sf0.01/sf0.1 groups are smaller than it), so the approx
#: operator is VALUE-oracle-checked — but it also makes each map-side
#: partial's buffer ~group-sized, which is the r12-measured super-linear
#: wall at 10x (27.2 s vs the exact sort's 8.3 s). Production dials to
#: ~1e4 (0.01% rank error, constant-size sketches); tools/probe_full.py
#: probes THAT shape so the scale claim carries evidence.
_PCTL_ORACLE_ACCURACY = 1_000_000


def price_quantiles_approx(
    spark: SparkSession, sf_dir: str, accuracy: int | None = None
) -> DataFrame:
    """Sketch-based percentiles — the 100 TB default. approx_percentile
    keeps one fixed-size mergeable GK sketch per group (map-side partials,
    no per-group sort), vs the exact variant's full sort per group.
    ``accuracy`` (arg, else env MDP_PCTL_ACCURACY, else 1e6) trades
    sketch size for rank error: with ``accuracy >= |group|`` the sketch
    is exact-rank and returns the discrete quantile (an actual data
    value), which DuckDB's quantile_disc reproduces — the oracle runs
    that regime; the 10x probe runs the production 1e4 shape on the
    IDENTICAL plan (only the aggregate's literal changes)."""
    import os as _os

    li = load_table(spark, sf_dir, "lineitem")
    if accuracy is not None:
        acc_val = int(accuracy)
    else:
        # defensive env parse (round-13 advice): a malformed or
        # non-positive MDP_PCTL_ACCURACY must not raise inside the
        # driver harness nor silently move the oracle-checked query
        # out of its exact-rank regime — fall back to the oracle value
        try:
            acc_val = int(
                _os.environ.get("MDP_PCTL_ACCURACY", _PCTL_ORACLE_ACCURACY)
            )
        except ValueError:
            acc_val = _PCTL_ORACLE_ACCURACY
        if acc_val <= 0:
            acc_val = _PCTL_ORACLE_ACCURACY
    acc = F.lit(acc_val)
    price = F.col("l_extendedprice")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.percentile_approx(price, F.lit(0.25), acc).alias("p25"),
        F.percentile_approx(price, F.lit(0.5), acc).alias("p50"),
        F.percentile_approx(price, F.lit(0.75), acc).alias("p75"),
    )


def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type — the oracle-checked twin of
    events_approx_users (HLL sketches are engine-specific, so the approx
    row can't value-match an oracle; this one can and does)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def events_user_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts/totals through the two-stage SALTED aggregate
    (operators/skew.py): partial-agg on (user_id, salt) spreads any hot key
    over 8 reducers, then partials merge per user. Value parity with the
    plain-GROUP-BY oracle holds because the summed term is DECIMAL(30,6)
    (exact, associative — the _parity.py recipe), so the extra merge stage
    cannot change the result."""
    from mini_data_platform_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id", F.col("value").cast("decimal(30,6)").alias("value_dec")
    )
    out = salted_agg(
        base,
        ["user_id"],
        {"n_events": ("count", "*"), "total_dec": ("sum", "value_dec")},
        n_salts=8,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


def events_purchase_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-dim equi-join through the SALTED join
    (operators/skew.salted_join): purchase events (fact side, power-law
    user keys) joined to the customer dim replicated across 8 salts —
    each hot user's rows spread over 8 reducers instead of one. The
    plain-join SQL oracle proves the salt never changes the result
    (every fact row meets every matching dim row under exactly one
    salt); salted_agg is the aggregate half of the same doctrine."""
    from mini_data_platform_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    facts = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("custkey"), "value"
    )
    dim = customer.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return salted_join(facts, dim, ["custkey"], n_salts=8)


def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT operator: order counts per status × priority as a wide matrix.
    The pivot value list is explicit (TPC-H's five fixed priorities), so no
    discovery pass runs and the plan is a single groupBy — pivot with known
    values is exactly one shuffle at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    values = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out_names = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    wide = (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .pivot("o_orderpriority", values)
        .count()
    )
    return wide.select(
        "status",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(n)
            for v, n in zip(values, out_names)
        ],
    )


def lineitem_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) operator: lineitem measure columns rotated into
    (metric, value) long form, then aggregated per metric. Unpivot is a
    narrow per-row expansion (no shuffle); the single shuffle is the
    following 4-key aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("metric").agg(
        dsum(F.col("val")).alias("total"),
        F.count("val").alias("n"),
        F.min("val").alias("lo"),
        F.max("val").alias("hi"),
    )


def customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist over
    account balance WITHIN each nation (a partitioned window — never a
    global sort; each nation's customers sort independently). The ordering
    includes the unique custkey tiebreak, making every rank function
    deterministic; percent_rank/cume_dist are then single double divisions
    with identical IEEE results in both engines."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return customer.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def _dsum_prod(a, b):
    """Order-independent sum of a cross/square product term, exact in BOTH
    engines: each factor casts to DECIMAL(18,2) FIRST (2dp-true money/qty
    values sit exactly on that grid — the _parity.py doctrine), then the
    multiplication and sum run entirely in decimal arithmetic (exact,
    associative). Casting the double product x*x to decimal instead would
    diverge cross-engine: at 1e11 magnitude the product's 4dp true value
    exceeds double's 16-digit grid, so Spark's exact-binary HALF_UP and
    DuckDB's multiply-by-10^s rounding disagree in the last ulp.

    The exact sum (~1e14, scale 4 → 18-19 significant digits) ALSO exceeds
    double precision, and the engines' decimal→double casts round
    differently there (DuckDB converts int128 then divides by 10^scale —
    two roundings; Spark's BigDecimal path is correctly rounded once). So
    the conversion is split: integer part (int→double is correctly rounded
    in both engines) + sub-1 fractional part (well inside double
    precision), added with one deterministic IEEE add."""
    s = F.sum(a.cast("decimal(18,2)") * b.cast("decimal(18,2)"))
    hi = F.floor(s)
    return hi.cast("double") + (s - hi).cast("double")


def _sql_dsum_prod(a: str, b: str) -> str:
    s = f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
    return f"(CAST(FLOOR({s}) AS DOUBLE) + CAST({s} - FLOOR({s}) AS DOUBLE))"


def order_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (sample stddev/variance) per priority —
    computed from exact decimal power sums with the IDENTICAL double
    formula in both engines, because native STDDEV implementations differ
    in accumulation order (Welford vs naive vs pairwise) and would never
    hash-match. var = (Σx² − (Σx)²/n)/(n−1) over exact Σ, Σ² terms: every
    double op deterministic, so the result is bit-exact cross-engine —
    and across re-runs of a 1000-executor job."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    agg = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n"),
        dsum(x).alias("_s1"),
        _dsum_prod(x, x).alias("_s2"),
    )
    n = F.col("n").cast("double")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - F.lit(1.0))
    return agg.select(
        "priority",
        "n",
        (F.col("_s1") / n).alias("mean_price"),
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


def quantity_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per returnflag from exact decimal power/product
    sums + one shared closed-form double expression (same rationale as
    order_moments: native CORR accumulates in engine-specific order).

    The projected rows are repartitioned before the aggregate: five
    decimal product-sums per row are heavy map work, and the fixture
    parquet is one input split — the whole partial agg ran as ONE
    1.26 s task (round-15 job attribution). Spreading first
    parallelizes it (interleaved A/B: 2.55 → 1.86 s); decimal sums are
    exact and associative, so any partitioning merges to bit-identical
    totals (the plans/_parity.py doctrine). A 3-value group key rules
    out the keyed-spread variant (3 partitions); the spread is guarded
    (_spread_if_narrow) so wide production scans keep the map-side
    combine plan."""
    li = _spread_if_narrow(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    agg = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count("*").alias("n"),
        dsum(x).alias("_sx"),
        dsum(y).alias("_sy"),
        _dsum_prod(x, x).alias("_sxx"),
        _dsum_prod(y, y).alias("_syy"),
        _dsum_prod(x, y).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(n * F.col("_sxx") - F.col("_sx") * F.col("_sx")) * F.sqrt(
        n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    )
    return agg.select("returnflag", "n", (num / den).alias("corr_qty_price"))


def nation_top_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per nation, the top-3 customers by
    revenue joined into one comma-separated string (collect_list of
    (rank, name) structs → array_sort → transform → array_join: all
    JVM-side higher-order functions, equivalent to DuckDB's
    string_agg(... ORDER BY)). The aggregate-first/rank-later shape keeps
    the window input at |customers|."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    joined = per_cust.join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    )
    top = joined.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    names = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rnk", "c_name"))),
            lambda s: s["c_name"],
        ),
        ",",
    )
    return top.groupBy(F.col("n_name").alias("nation")).agg(
        names.alias("top_names"),
        F.sum(F.col("revenue").cast("decimal(30,6)")).cast("double").alias("top_revenue"),
    )


def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql surface (the engine's
    second query API — same Catalyst plan as the DataFrame path): per-
    status, per-priority, both, and grand-total aggregates in ONE shuffle
    (Spark expands the sets at the partial-agg stage, like rollup/cube)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               {sql_dsum('o_totalprice')} AS revenue,
               COUNT(*) AS n_orders,
               grouping_id() AS gid
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """
    )


def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): HAVING-filtered aggregate
    semi-joined back to the fact. Aggregate lineitem FIRST (one shuffle,
    map-side combine), filter to the rare heavy orders, then join the tiny
    survivor set to orders — at 100 TB the join probe side is a few
    thousand rows, broadcast by AQE.

    The projection is KEY-repartitioned on l_orderkey first: ~4 rows
    per order means map-side combine barely collapses, and the
    single-split scan ran the decimal-sum partial as ONE 0.51 s task
    (round-15 job attribution). The keyed exchange is reused by the
    groupBy (guide §2.4 — one exchange; raw rows instead of the ~4×
    smaller combined partials cross it, a narrow-type trade the guard
    below only takes on under-parallel scans), so the aggregation runs
    32-way. Interleaved A/B: 0.77 → 0.41 s. Guarded
    (_spread_if_narrow): wide production scans keep partial-agg-first."""
    li = _spread_if_narrow(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        ),
        "l_orderkey",
    )
    orders = load_table(spark, sf_dir, "orders")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return heavy.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("orderdate"),
        F.col("o_totalprice").alias("totalprice"),
        "sum_qty",
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional-aggregate ratio per
    month over the lineitem ⋈ part join. part broadcasts under AQE at test
    scale; at 100 TB it shuffles once on partkey — revenue terms reduce
    map-side either way. The ratio is one double division of two
    decimal-exact sums: deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    is_promo = F.col("p_type").startswith("PROMO")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    monthly = joined.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("month")
    ).agg(
        dsum(F.when(is_promo, _revenue()).otherwise(F.lit(0.0))).alias("_promo"),
        dsum(_revenue()).alias("_total"),
    )
    return monthly.select(
        "month",
        "_promo",
        "_total",
        (F.lit(100.0) * F.col("_promo") / F.col("_total")).alias("promo_pct"),
    ).withColumnsRenamed({"_promo": "promo_revenue", "_total": "total_revenue"})


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier), adapted to the fixture's schema
    (no partsupp table): per part, the supplier with the lowest average
    sale price observed in lineitem — the classic correlated
    min-subquery, decorrelated into aggregate + per-part window (what
    Catalyst rewrites the subquery into anyway). Ties break to the lowest
    suppkey, making the result deterministic.

    The projection is KEY-repartitioned on the aggregate's own keys
    before the groupBy: (partkey, suppkey) is near-unique, so map-side
    combine collapses nothing and the single-split scan ran the whole
    decimal-avg partial as ONE 0.84 s task (round-15 job attribution).
    Hash-partitioning on the same keys at the same partition count is
    REUSED by the aggregate (guide §2.4 — one exchange total, same
    bytes), moving the aggregation above the exchange where it runs
    32-way. Interleaved A/B: 1.54 → 0.95 s; decimal states merge
    order-independently. Guarded (_spread_if_narrow): wide scans pass
    through untouched."""
    li = _spread_if_narrow(
        load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_extendedprice"
        ),
        "l_partkey", "l_suppkey",
    )
    supplier = load_table(spark, sf_dir, "supplier")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        davg(F.col("l_extendedprice")).alias("avg_price")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("avg_price").asc(), F.col("l_suppkey").asc()
    )
    best = per_ps.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.join(
        F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
    ).select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
        F.col("s_name").alias("supplier_name"),
        "avg_price",
    )


def orders_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report over orders (operators/quality.py — the
    reference README's declared-but-unbuilt capability): five checks
    including key uniqueness, ALL evaluated in one aggregation pass."""
    from mini_data_platform_spark.operators.quality import (
        dq_report,
        in_range,
        in_set,
        matches,
        not_null,
    )

    orders = load_table(spark, sf_dir, "orders")
    return dq_report(
        orders,
        checks=[
            not_null("o_orderkey"),
            in_range("o_totalprice", 0.0, 1_000_000.0),
            in_set("o_orderstatus", ["F", "O", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
        ],
        unique_keys=["o_orderkey"],
    )


# ------------------------------------------------------------------- events

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregate over the event stream (batch analog of the
    streaming windowed count; streaming/windows.py runs the same logic with
    watermarks). Hour exported as a formatted string for cross-engine
    stability."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
        "event_type",
    ).agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30 min inactivity gaps —
    lag + cumulative flag-sum, the classic two-window formulation. All time
    math in unix microseconds (exact integers). One shuffle on user_id;
    sessions never cross partitions."""
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w_seq = Window.partitionBy("user_id").orderBy(us)
    gap_us = 30 * 60 * 1_000_000
    flagged = events.select(
        "user_id",
        us.alias("ts_us"),
        F.when(
            (us - F.lag(us).over(w_seq)) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)).alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = flagged.withColumn("session_no", F.sum("new_sess").over(w_cum))
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


def events_json_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column + aggregate: JVM-side
    get_json_object (no Python), pushable into one agg pass."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        dsum(k.cast("double")).alias("sum_k"),
        F.count(k).alias("n"),
        dsum(F.col("value")).alias("total_value"),
    )


def revenue_by_day_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue: a generated date spine (min..max order
    date) left-joined onto the daily aggregate, missing days as zero.
    The spine is F.sequence over the aggregated min/max — one row per
    day, built from a 1-row subquery, so the spine side is a broadcast
    at any scale; dashboards need dense axes and 100 TB of orders still
    has only ~1e4 distinct days."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("rev"), F.count("*").alias("n")
    )
    bounds = orders.select(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("rev", F.lit(0.0)).alias("revenue"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


def orders_interpolated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority daily revenue RESAMPLED onto each priority's own
    date grid with linear interpolation across the holes
    (operators/timeseries.py) — the pandas resample().interpolate() /
    TimescaleDB gapfill step, distributed. Orders are sparsified
    (o_orderkey % 37) so most grid days are genuine gaps; the fill
    arithmetic is per-row IEEE double on decimal-summed observations,
    so the oracle hash-matches bit-exactly."""
    from mini_data_platform_spark.operators.timeseries import resample_fill

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 37 == 0
    )
    daily = orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum(F.col("o_totalprice")).alias("rev"))
    return resample_fill(daily, "o_orderpriority", "day", "rev", "linear")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase
    (operators/funnel.py): users counted at each step only if it
    happened STRICTLY AFTER their greedy completion of the previous
    step — the order-sensitive product-analytics query a bare GROUP BY
    cannot express. Three (user, ts) shuffles, one 3-row result."""
    from mini_data_platform_spark.operators.funnel import funnel_steps

    events = load_table(spark, sf_dir, "events")
    return funnel_steps(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle (operators/funnel.py): users grouped by
    first-active epoch-day, distinct-active counts per (cohort,
    days-since-first) cell. Integer epoch-day arithmetic end to end —
    timezone-proof, oracle-exact."""
    from mini_data_platform_spark.operators.funnel import cohort_retention

    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events, "user_id", "ts")


def partsupp_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the part↔supplier bipartite graph
    (operators/pagerank.py): integer mass units + floor division make
    the iterative algorithm bit-deterministic, so 6 unrolled power
    iterations hash-match a chained-CTE DuckDB oracle EXACTLY — the
    oracle class (iterative graph algorithms) float PageRank can never
    join. Centrality reads as "widely-sourced parts / broadly-stocked
    suppliers". Graph build is one scan + distinct; supplier ids are
    offset by 1e9 so the two node families never collide."""
    from mini_data_platform_spark.operators.pagerank import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.lit(1_000_000_000) + F.col("l_suppkey")).cast("long").alias("dst"),
    ).distinct()
    from mini_data_platform_spark.operators.pagerank import SCALE

    # scale pinned (not auto-picked): the oracle folds this literal
    return pagerank_fixed(edges, "src", "dst", iterations=6, scale=SCALE)


def customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's position in the spend distribution:
    percent_rank, cume_dist, and decile over total revenue — the
    remaining rank-window family members (rank/dense_rank/ntile/lag
    live in other queries). One aggregate + one window pass; revenue is
    decimal-summed (the _parity.py doctrine) so the ordering key, and
    hence every rank, is engine-identical. Ties: revenue then
    c_custkey, making the window order total and the ranks exact."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        dsum(F.col("o_totalprice")).alias("revenue")
    )
    w = Window.orderBy("revenue", "c_custkey")
    return spend.select(
        "c_custkey",
        "revenue",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


def customer_segment_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode imputation — the categorical data-repair step: market
    segments are nulled for every c_custkey % 7 == 0 (the injected-gap
    pattern the dedup fixtures use), then repaired with the per-nation
    MODE of the surviving values under a DETERMINISTIC tie-break
    (highest count, then lexicographically smallest segment — bare
    mode() is tie-unstable in every engine, so the tie-break is the
    operator). Two aggregates + one broadcast join of the 25-row mode
    table; null-free nations would fall back to null (surfaced, not
    invented)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    counts = (
        cust.where(F.col("segment").isNotNull())
        .groupBy("c_nationkey", "segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("n").desc(), F.col("segment").asc()
    )
    modes = (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("c_nationkey", F.col("segment").alias("mode_segment"))
    )
    return cust.join(F.broadcast(modes), "c_nationkey", "left").select(
        "c_custkey",
        "c_nationkey",
        F.coalesce("segment", "mode_segment").alias("segment"),
        F.when(F.col("segment").isNull(), 1).otherwise(0).alias("imputed"),
    )


def orders_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (Tukey-fence) outlier profile per order priority: exact
    quartiles of o_totalprice, then rows outside [q1 - 1.5·IQR,
    q3 + 1.5·IQR] counted in a second pass — the standard
    distribution-free data-quality fence (z-scores assume normality;
    order stats don't). Two aggregates + one broadcast join of the
    5-row fence table; fence arithmetic is the same IEEE double
    expression on both engines, so boundary comparisons agree
    bit-exactly."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    fences = orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.percentile(price, F.lit(0.25)).alias("q1"),
        F.percentile(price, F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    flagged = orders.select(
        F.col("o_orderpriority").alias("priority"), price.alias("_p")
    ).join(F.broadcast(fences), "priority")
    return flagged.groupBy("priority", "q1", "q3").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("_p") < lo) | (F.col("_p") > hi), 1).otherwise(0)
        ).alias("n_outliers"),
    ).select(
        "priority",
        "q1",
        "q3",
        "n_rows",
        "n_outliers",
        (F.col("n_outliers") / F.col("n_rows")).alias("outlier_frac"),
    )


def events_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimate per event type
    (operators/sketch.py): the DETERMINISTIC member of the sketch
    family — the synopsis is a pure function of the value set (the k
    smallest 60-bit md5 hashes), so unlike HLL the APPROXIMATE estimate
    itself hash-matches the oracle bit-exactly. k=64 < the ~150 true
    distinct users, so every group exercises the (k-1)·2^60/kth
    estimator, not the exact small-set branch. Build pays the
    distinct shuffle (HLL keeps sublinearity); KMV's win is the
    mergeable, persistable, cross-engine-verifiable synopsis algebra
    (kmv_merge: union estimates without data)."""
    from mini_data_platform_spark.operators.sketch import (
        kmv_estimate,
        kmv_synopsis,
    )

    events = load_table(spark, sf_dir, "events")
    syn = kmv_synopsis(events, ["event_type"], "user_id", k=64)
    return kmv_estimate(syn, k=64)


def events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimates from KMV synopses (operators/sketch.py):
    distinct-user union/intersection/Jaccard between the 'view' and
    'purchase' audiences, computed entirely from the two k-minima
    arrays (the theta-sketch move — no second pass over the data) and
    still oracle-EXACT because the synopsis algebra is deterministic
    integer list arithmetic."""
    from mini_data_platform_spark.operators.sketch import kmv_overlap

    events = load_table(spark, sf_dir, "events")
    return kmv_overlap(
        events, ["event_type"], "user_id", "view", "purchase", k=64
    )


def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-scoped conversion funnel (operators/funnel.py composite
    keys): view → click → purchase must complete in order WITHIN one
    30-minute-gap session — the granularity product funnels actually
    use (a purchase in tomorrow's session doesn't convert today's
    view). Sessions come from the events_sessionize two-window
    formulation; the funnel entity is (user_id, session_no)."""
    from mini_data_platform_spark.operators.funnel import funnel_steps

    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w_seq = Window.partitionBy("user_id").orderBy(us)
    gap_us = 30 * 60 * 1_000_000
    flagged = events.select(
        "user_id",
        "ts",
        "event_type",
        us.alias("ts_us"),
        F.when((us - F.lag(us).over(w_seq)) > gap_us, F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.withColumn("session_no", F.sum("new_sess").over(w_cum))
    return funnel_steps(
        sess,
        ["user_id", "session_no"],
        "ts",
        "event_type",
        ["view", "click", "purchase"],
    )


def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on hourly event volumes — the
    monitoring query every event pipeline grows: per (event_type,
    hour), the count against the TRAILING-24-observed-hours mean/std,
    flagged at |z| > 3. All window state is INTEGER (counts and their
    squares summed exactly — no decimal needed, sidestepping the
    DuckDB windowed-decimal gotcha outright); mean/var/z are then
    per-row IEEE doubles from identical integers, and sqrt is
    correctly-rounded in every IEEE engine — so even the z-scores
    hash-match. Hours are integer epoch-hours (timezone-proof). Rows
    without a full 24-hour history emit no judgment (warmup excluded,
    not zero-padded)."""
    events = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) div 3600000000")
    hourly = events.groupBy(
        F.col("event_type"), hour.alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    stats = hourly.select(
        "event_type",
        "hour",
        "n_events",
        n.alias("_n"),
        s1.alias("_s1"),
        s2.alias("_s2"),
    ).where(F.col("_n") == 24)
    mean = F.col("_s1") / F.lit(24.0)
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.lit(24.0)) / F.lit(24.0)
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return stats.select(
        "event_type",
        "hour",
        "n_events",
        F.round(mean, 6).alias("mean24"),
        F.round(F.when(var > 0, z), 6).alias("zscore"),
        F.when(var > 0, F.when(F.abs(z) > 3, 1).otherwise(0))
        .otherwise(
            F.when(F.col("n_events") != mean, 1).otherwise(0)
        )
        .alias("is_anomaly"),
    )


def events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++) next to
    the exact count. At 100 TB approx_count_distinct is the only sane
    default: fixed-size sketch per group, mergeable map-side, no shuffle
    of distinct values. Oracle-omitted by design — HLL sketches are
    engine-specific; verification is split instead: the exact half is
    oracle-checked as its own query (events_distinct_users) and the
    approx half's rsd error bound is pinned by
    tests/test_entry.py::test_approx_users_error_bound."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def errors_near_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py): every (error, click)
    pair where the error falls within 6 hours AFTER a click by the same
    user. The naive formulation is a theta-join (nested-loop at scale);
    the bucketed rewrite equi-joins on (user, time-bucket) and applies the
    exact predicate to candidates only."""
    from mini_data_platform_spark.operators.rangejoin import range_join_point_interval

    events = load_table(spark, sf_dir, "events")
    win_us = 6 * 3600 * 1_000_000
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("err_ts_us"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_ts_us"),
        (F.unix_micros("ts") + win_us).alias("click_end_us"),
    )
    joined = range_join_point_interval(
        errors, clicks,
        on=["user_id"], point="err_ts_us",
        start="click_ts_us", end="click_end_us",
        bucket_width=win_us,
    )
    return joined.select(
        "user_id", "error_id", "click_id",
        (F.col("err_ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


def click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for every purchase event, the most
    recent prior-or-simultaneous click by the same user. Single shuffle,
    no range blow-up; oracle is DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.unix_micros("ts").alias("click_ts_us"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="click_ts_us",
        right_cols=["click_event_id"],
        how="inner",
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        "click_event_id",
        (F.col("ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


def lineitem_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (operators/bloomjoin.py): revenue by
    ship mode for line items belonging to urgent orders. The urgent-order
    key set compresses to a 128 KiB bit array; a map-side membership test
    drops non-urgent line items BEFORE the verification semi-join, so the
    shuffle carries candidates only. Result is exactly the plain
    semi-join (the filter has no false negatives and the exact join kills
    false positives) — which is what makes the SQL oracle possible. At
    100 TB this is the pattern for selective joins whose key set outgrows
    the broadcast threshold but not a few-hundred-MiB filter."""
    from mini_data_platform_spark.operators.bloomjoin import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    matched = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return (
        matched.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            dsum(_revenue()).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def orders_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup with per-file Bloom skipping (sinks/layout.py
    bloom manifest): orders land hash-scattered across 16 parquet files
    (every file spans ~the whole key range — min/max stats prune
    NOTHING), a per-file Bloom manifest is built in one distributed
    pass, and a deterministic key set (o_orderkey % 971 == 0) is looked
    up through ``read_bloom_filtered`` — files the manifest proves
    key-free are skipped at LISTING time, zero IO. The bloom has no
    false negatives, so the result is EXACTLY the plain filter — which
    is what makes the SQL oracle possible (pruning is invisible to
    results; fpp only tunes how many files still open). At 100 TB this
    is the needle-in-haystack serve: a sale_id lookup opens a handful
    of files instead of listing-and-scanning a lake partition."""
    import atexit
    import os
    import shutil
    import tempfile

    from mini_data_platform_spark.sinks.layout import (
        read_bloom_filtered,
        write_bloom_manifest,
    )

    d = os.path.join(tempfile.gettempdir(), f"mdp_bloomdir_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    (
        orders.repartition(16, (F.col("o_orderkey") * 2654435761) % 1_000_003)
        .write.mode("overwrite")
        .parquet(d)
    )
    write_bloom_manifest(spark, d, ["o_orderkey"])
    keys = [
        r[0]
        for r in orders.where(F.col("o_orderkey") % 971 == 0)
        .select("o_orderkey")
        .collect()
    ]
    return read_bloom_filtered(spark, d, {"o_orderkey": keys})


def events_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (operators/heavyhitters.py): users with ≥ 80
    events, via a per-partition Misra-Gries candidate sketch + verified
    exact counts. The result equals plain GROUP BY HAVING — the sketch
    only prunes the tail BEFORE the shuffle — so the SQL oracle holds.
    At 100 TB the groupBy-every-distinct-key plan shuffles billions of
    tail keys that can never qualify; this one shuffles candidates."""
    from mini_data_platform_spark.operators.heavyhitters import heavy_hitters

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    # k_counters auto-sizes from the observed row count, so the same
    # query runs unchanged at sf0.01, sf0.1, sf1... (round-6 verdict:
    # a hard-coded 2048 tripped the coverage guard above ~164k events)
    return heavy_hitters(events, "user_id", min_count=80)


def events_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event user ids (operators/sketch.py): the
    4×64 counter table whose min-over-rows cell gives an overcount-only
    frequency estimate for ANY user in fixed memory. Build = explode +
    one count aggregate; map-side partials collapse each partition to
    ≤ depth×width cells, so the shuffle carries the sketch, not the
    events. The md5 hash family is engine-independent, so the oracle
    reproduces the table cell-for-cell."""
    from mini_data_platform_spark.operators.sketch import cms_table

    events = load_table(spark, sf_dir, "events")
    return cms_table(events, "user_id", depth=4, width=64)


QUERIES = {
    "pricing_summary": pricing_summary,
    "regional_revenue": regional_revenue,
    "top_building_orders": top_building_orders,
    "region_nation_rollup": region_nation_rollup,
    "status_priority_cube": status_priority_cube,
    "customer_rank_in_nation": customer_rank_in_nation,
    "daily_revenue_delta": daily_revenue_delta,
    "monthly_running_revenue": monthly_running_revenue,
    "latest_order_per_customer": latest_order_per_customer,
    "customers_with_orders": customers_with_orders,
    "customers_without_orders": customers_without_orders,
    "wealthy_active_customers": wealthy_active_customers,
    "order_stats_distinct": order_stats_distinct,
    "priority_status_matrix": priority_status_matrix,
    "price_quantiles": price_quantiles,
    "price_quantiles_approx": price_quantiles_approx,
    "order_priority_pivot": order_priority_pivot,
    "lineitem_unpivot_stats": lineitem_unpivot_stats,
    "customer_deciles": customer_deciles,
    "order_moments": order_moments,
    "quantity_price_corr": quantity_price_corr,
    "nation_top_customer_names": nation_top_customer_names,
    "order_grouping_sets": order_grouping_sets,
    "big_orders": big_orders,
    "promo_revenue_share": promo_revenue_share,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "orders_dq_report": orders_dq_report,
    "events_distinct_users": events_distinct_users,
    "events_user_stats_salted": events_user_stats_salted,
    "events_purchase_join_salted": events_purchase_join_salted,
    "events_hourly": events_hourly,
    "events_sessionize": events_sessionize,
    "events_json_value": events_json_value,
    "events_approx_users": events_approx_users,
    "revenue_by_day_dense": revenue_by_day_dense,
    "orders_interpolated_revenue": orders_interpolated_revenue,
    "events_funnel": events_funnel,
    "partsupp_pagerank": partsupp_pagerank,
    "orders_price_outliers": orders_price_outliers,
    "customer_spend_distribution": customer_spend_distribution,
    "events_kmv_users": events_kmv_users,
    "events_kmv_overlap": events_kmv_overlap,
    "events_session_funnel": events_session_funnel,
    "events_hourly_anomalies": events_hourly_anomalies,
    "customer_segment_impute": customer_segment_impute,
    "events_cohort_retention": events_cohort_retention,
    "click_before_purchase": click_before_purchase,
    "errors_near_click": errors_near_click,
    "lineitem_bloom_semijoin": lineitem_bloom_semijoin,
    "orders_bloom_lookup": orders_bloom_lookup,
    "events_heavy_users": events_heavy_users,
    "events_cms_users": events_cms_users,
}

ORACLE = {
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum(_SQL_REVENUE)} AS sum_disc_price,
               {sql_dsum(f'({_SQL_REVENUE}) * (1 + l_tax)')} AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """,
    "regional_revenue": f"""
        SELECT r_name AS region, n_name AS nation,
               {sql_dsum(_SQL_REVENUE)} AS revenue, COUNT(*) AS n_lines
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    "top_building_orders": f"""
        SELECT o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS orderdate,
               {sql_dsum(_SQL_REVENUE)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY 1, 2
        ORDER BY revenue DESC, orderkey ASC LIMIT 10
    """,
    "region_nation_rollup": f"""
        SELECT r_name AS region, n_name AS nation,
               {sql_dsum('o_totalprice')} AS revenue, COUNT(*) AS n_orders,
               GROUPING(r_name, n_name) AS gid
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    "status_priority_cube": f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               {sql_dsum('o_totalprice')} AS revenue, COUNT(*) AS n_orders,
               GROUPING(o_orderstatus, o_orderpriority) AS gid
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "customer_rank_in_nation": f"""
        WITH per_cust AS (
            SELECT o_custkey, {sql_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT n_name AS nation, c_custkey AS custkey, revenue,
                   ROW_NUMBER() OVER (PARTITION BY n_name
                                      ORDER BY revenue DESC, c_custkey ASC) AS rnk
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT nation, custkey, revenue, rnk FROM ranked WHERE rnk <= 3
    """,
    "daily_revenue_delta": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {sql_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY 1
        )
        SELECT day, revenue,
               LAG(revenue) OVER (ORDER BY day) AS prev_revenue,
               revenue - LAG(revenue) OVER (ORDER BY day) AS delta
        FROM daily
    """,
    # windowed decimal SUM is inexact in DuckDB -> cumulative via self-join
    "monthly_running_revenue": """
        WITH monthly AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS rev_dec
            FROM orders GROUP BY 1
        )
        SELECT m1.month,
               CAST(m1.rev_dec AS DOUBLE) AS revenue,
               CAST(SUM(m2.rev_dec) AS DOUBLE) AS cumulative_revenue
        FROM monthly m1 JOIN monthly m2 ON m2.month <= m1.month
        GROUP BY m1.month, m1.rev_dec
    """,
    "latest_order_per_customer": """
        SELECT custkey, orderkey, orderdate, totalprice FROM (
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   CAST(o_orderdate AS DATE) AS orderdate,
                   o_totalprice AS totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC NULLS FIRST,
                                               o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    "customers_with_orders": """
        SELECT c_custkey AS custkey, c_name AS name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "customers_without_orders": """
        SELECT c_custkey AS custkey, c_name AS name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "wealthy_active_customers": """
        (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
         INTERSECT
         SELECT o_custkey AS custkey FROM orders)
        EXCEPT
        SELECT c_custkey AS custkey FROM customer WHERE c_nationkey < 5
    """,
    "order_stats_distinct": """
        SELECT COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
               COUNT(DISTINCT o_orderpriority) AS n_priorities,
               COUNT(*) AS n_orders
        FROM orders
    """,
    "priority_status_matrix": f"""
        SELECT o_orderpriority AS priority,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               COUNT(CASE WHEN o_orderstatus NOT IN ('F','O') THEN 1 END) AS n_other,
               {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS revenue_f,
               {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")} AS revenue_o
        FROM orders GROUP BY 1
    """,
    "price_quantiles": """
        SELECT l_returnflag AS returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.5)  AS p50,
               quantile_cont(l_extendedprice, 0.75) AS p75
        FROM lineitem GROUP BY 1
    """,
    "price_quantiles_approx": """
        SELECT l_returnflag AS returnflag,
               quantile_disc(l_extendedprice, 0.25) AS p25,
               quantile_disc(l_extendedprice, 0.5)  AS p50,
               quantile_disc(l_extendedprice, 0.75) AS p75
        FROM lineitem GROUP BY 1
    """,
    "order_priority_pivot": """
        SELECT o_orderstatus AS status,
               COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
               COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_high,
               COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_medium,
               COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_notspec,
               COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low
        FROM orders GROUP BY 1
    """,
    "lineitem_unpivot_stats": f"""
        WITH long AS (
            SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT 'l_tax', l_tax FROM lineitem
        )
        SELECT metric, {sql_dsum('val')} AS total, COUNT(val) AS n,
               MIN(val) AS lo, MAX(val) AS hi
        FROM long GROUP BY 1
    """,
    "customer_deciles": """
        SELECT c_custkey AS custkey, c_nationkey AS nationkey,
               c_acctbal AS acctbal,
               NTILE(10) OVER w AS decile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    # identical closed-form double expression over exact decimal power sums
    # (see order_moments docstring for why native STDDEV can't hash-match)
    "order_moments": f"""
        WITH agg AS (
            SELECT o_orderpriority AS priority, COUNT(*) AS n,
                   {sql_dsum('o_totalprice')} AS s1,
                   {_sql_dsum_prod('o_totalprice', 'o_totalprice')} AS s2
            FROM orders GROUP BY 1
        )
        SELECT priority, n,
               s1 / CAST(n AS DOUBLE) AS mean_price,
               (s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
                   AS var_price,
               sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
                   AS stddev_price
        FROM agg
    """,
    "quantity_price_corr": f"""
        WITH agg AS (
            SELECT l_returnflag AS returnflag, COUNT(*) AS n,
                   {sql_dsum('l_quantity')} AS sx,
                   {sql_dsum('l_extendedprice')} AS sy,
                   {_sql_dsum_prod('l_quantity', 'l_quantity')} AS sxx,
                   {_sql_dsum_prod('l_extendedprice', 'l_extendedprice')} AS syy,
                   {_sql_dsum_prod('l_quantity', 'l_extendedprice')} AS sxy
            FROM lineitem GROUP BY 1
        )
        SELECT returnflag, n,
               (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price
        FROM agg
    """,
    "nation_top_customer_names": f"""
        WITH per_cust AS (
            SELECT o_custkey, {sql_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT n_name AS nation, c_name, revenue,
                   ROW_NUMBER() OVER (PARTITION BY n_name
                                      ORDER BY revenue DESC, c_custkey ASC) AS rnk
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT nation,
               string_agg(c_name, ',' ORDER BY rnk) AS top_names,
               CAST(SUM(CAST(revenue AS DECIMAL(30,6))) AS DOUBLE) AS top_revenue
        FROM ranked WHERE rnk <= 3 GROUP BY 1
    """,
    "order_grouping_sets": f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               {sql_dsum('o_totalprice')} AS revenue,
               COUNT(*) AS n_orders,
               GROUPING(o_orderstatus, o_orderpriority) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
    """,
    "big_orders": f"""
        WITH heavy AS (
            SELECT l_orderkey, {sql_dsum('l_quantity')} AS sum_qty
            FROM lineitem GROUP BY 1
            HAVING {sql_dsum('l_quantity')} > 250.0
        )
        SELECT o_orderkey AS orderkey, o_custkey AS custkey,
               CAST(o_orderdate AS DATE) AS orderdate,
               o_totalprice AS totalprice, sum_qty
        FROM heavy JOIN orders ON l_orderkey = o_orderkey
    """,
    "promo_revenue_share": f"""
        WITH monthly AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS month,
                   {sql_dsum(f"CASE WHEN p_type LIKE 'PROMO%' THEN {_SQL_REVENUE} ELSE 0.0 END")} AS promo_revenue,
                   {sql_dsum(_SQL_REVENUE)} AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        )
        SELECT month, promo_revenue, total_revenue,
               100.0 * promo_revenue / total_revenue AS promo_pct
        FROM monthly
    """,
    "cheapest_supplier_per_part": f"""
        WITH per_ps AS (
            SELECT l_partkey, l_suppkey,
                   {sql_davg('l_extendedprice')} AS avg_price
            FROM lineitem GROUP BY 1, 2
        ),
        best AS (
            SELECT l_partkey, l_suppkey, avg_price,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey
                                      ORDER BY avg_price ASC, l_suppkey ASC) AS rn
            FROM per_ps
        )
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               s_name AS supplier_name, avg_price
        FROM best JOIN supplier ON l_suppkey = s_suppkey
        WHERE rn = 1
    """,
    "orders_dq_report": """
        WITH base AS (SELECT COUNT(*) AS n FROM orders),
        v AS (
            SELECT 'not_null_o_orderkey' AS check_name,
                   COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_violations
            FROM orders
            UNION ALL
            SELECT 'in_range_o_totalprice',
                   COUNT(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0)
                         THEN 1 END)
            FROM orders
            UNION ALL
            SELECT 'in_set_o_orderstatus',
                   COUNT(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 END)
            FROM orders
            UNION ALL
            SELECT 'matches_o_orderpriority',
                   COUNT(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 1 END)
            FROM orders
            UNION ALL
            SELECT 'unique_o_orderkey',
                   COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
            FROM orders
        )
        SELECT v.check_name, base.n AS n_rows, v.n_violations,
               v.n_violations = 0 AS passed
        FROM v, base
    """,
    "events_distinct_users": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    """,
    "events_user_stats_salted": f"""
        SELECT user_id,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM events GROUP BY 1
    """,
    # salting must be invisible in the result: the oracle is the PLAIN join
    "events_purchase_join_salted": """
        SELECT e.event_id, e.user_id AS custkey, e.value,
               c.c_name AS name, c.c_nationkey AS nationkey
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
    """,
    "events_hourly": f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
               event_type,
               COUNT(*) AS n,
               {sql_dsum('value')} AS total_value
        FROM events GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH flagged AS (
            SELECT user_id, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        ),
        sessions AS (
            SELECT user_id, ts_us,
                   -- DuckDB windowed SUM yields HUGEINT; Spark emits BIGINT.
                   -- Cast so the driver's dtype-sensitive value hash matches.
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_no
            FROM flagged
        )
        SELECT user_id, session_no, COUNT(*) AS n_events,
               MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
        FROM sessions GROUP BY 1, 2
    """,
    "events_json_value": f"""
        SELECT event_type,
               {sql_dsum("CAST(json_extract_string(props, '$.k') AS INT)")} AS sum_k,
               COUNT(json_extract_string(props, '$.k')) AS n,
               {sql_dsum('value')} AS total_value
        FROM events GROUP BY 1
    """,
    "revenue_by_day_dense": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {sql_dsum('o_totalprice')} AS rev, COUNT(*) AS n
            FROM orders GROUP BY 1
        ),
        bounds AS (
            SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
                   MAX(CAST(o_orderdate AS DATE)) AS hi
            FROM orders
        ),
        spine AS (
            SELECT CAST(u.d AS DATE) AS day
            FROM bounds, unnest(generate_series(bounds.lo, bounds.hi,
                                                INTERVAL 1 DAY)) AS u(d)
        )
        SELECT s.day,
               COALESCE(d.rev, 0.0) AS revenue,
               COALESCE(d.n, 0) AS n_orders
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    "orders_interpolated_revenue": __import__(
        "mini_data_platform_spark.operators.timeseries",
        fromlist=["sql_resample_fill"]).sql_resample_fill(
        f"""SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                   {sql_dsum('o_totalprice')} AS rev
            FROM orders WHERE o_orderkey % 37 = 0 GROUP BY 1, 2""",
        "o_orderpriority", "day", "rev", "linear"),
    # iterative graph centrality, oracle-EXACT: integer fixed-point
    # arithmetic makes the unrolled power iterations bit-deterministic
    "partsupp_pagerank": __import__(
        "mini_data_platform_spark.operators.pagerank",
        fromlist=["sql_pagerank_fixed"]).sql_pagerank_fixed(
        """SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
                  1000000000 + CAST(l_suppkey AS BIGINT) AS dst
           FROM lineitem""", "src", "dst", 6),
    "orders_price_outliers": """
        WITH f AS (
            SELECT o_orderpriority AS priority,
                   quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
                   quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
            FROM orders GROUP BY 1
        ),
        agg AS (
            SELECT o.o_orderpriority AS priority, f.q1, f.q3,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DOUBLE)
                                      < f.q1 - 1.5 * (f.q3 - f.q1)
                                   OR CAST(o.o_totalprice AS DOUBLE)
                                      > f.q3 + 1.5 * (f.q3 - f.q1)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM orders o JOIN f ON f.priority = o.o_orderpriority
            GROUP BY 1, 2, 3
        )
        SELECT priority, q1, q3, n_rows, n_outliers,
               n_outliers / n_rows AS outlier_frac
        FROM agg
    """,
    "customer_spend_distribution": f"""
        WITH spend AS (
            SELECT o_custkey AS c_custkey,
                   {sql_dsum('o_totalprice')} AS revenue
            FROM orders GROUP BY 1
        )
        SELECT c_custkey, revenue,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               ntile(10) OVER w AS decile
        FROM spend
        WINDOW w AS (ORDER BY revenue, c_custkey)
    """,
    "customer_segment_impute": """
        WITH cust AS (
            SELECT c_custkey, c_nationkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE c_mktsegment END AS segment
            FROM customer
        ),
        counts AS (
            SELECT c_nationkey, segment, count(*) AS n
            FROM cust WHERE segment IS NOT NULL GROUP BY 1, 2
        ),
        modes AS (
            SELECT c_nationkey, segment AS mode_segment
            FROM (SELECT c_nationkey, segment, n,
                         row_number() OVER (PARTITION BY c_nationkey
                                            ORDER BY n DESC, segment ASC)
                             AS rk
                  FROM counts)
            WHERE rk = 1
        )
        SELECT c_custkey, cust.c_nationkey,
               coalesce(segment, mode_segment) AS segment,
               CASE WHEN segment IS NULL THEN 1 ELSE 0 END AS imputed
        FROM cust LEFT JOIN modes ON modes.c_nationkey = cust.c_nationkey
    """,
    # the DETERMINISTIC distinct sketch: the approximate estimate is
    # itself oracle-exact (pure function of the value set)
    "events_kmv_users": __import__(
        "mini_data_platform_spark.operators.sketch",
        fromlist=["sql_kmv_estimate"]).sql_kmv_estimate(
        "SELECT event_type, user_id FROM events", "event_type", "user_id", 64),
    "events_kmv_overlap": __import__(
        "mini_data_platform_spark.operators.sketch",
        fromlist=["sql_kmv_overlap"]).sql_kmv_overlap(
        "SELECT event_type, user_id FROM events",
        "event_type", "user_id", "view", "purchase", 64),
    "events_session_funnel": __import__(
        "mini_data_platform_spark.operators.funnel",
        fromlist=["sql_funnel_steps"]).sql_funnel_steps(
        """
        WITH flagged AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                             > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        )
        SELECT user_id || '#' ||
               CAST(CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                             ORDER BY ts_us
                                             ROWS UNBOUNDED PRECEDING)
                         AS BIGINT) AS VARCHAR) AS skey,
               ts_us, event_type
        FROM flagged
        """,
        "skey", "ts_us", "event_type",
        ["view", "click", "purchase"], ts_in_us=True),
    "events_hourly_anomalies": """
        WITH hourly AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS hour,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, hour, n_events,
                   count(*) OVER w AS wn,
                   CAST(SUM(n_events) OVER w AS BIGINT) AS s1,
                   CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS s2
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, CAST(hour AS BIGINT) AS hour,
               CAST(n_events AS BIGINT) AS n_events,
               round(s1 / 24.0, 6) AS mean24,
               round(CASE WHEN (s2 - s1 * s1 / 24.0) / 24.0 > 0
                     THEN (n_events - s1 / 24.0)
                          / sqrt((s2 - s1 * s1 / 24.0) / 24.0)
                     END, 6) AS zscore,
               CASE WHEN (s2 - s1 * s1 / 24.0) / 24.0 > 0
                    THEN CASE WHEN abs((n_events - s1 / 24.0)
                                   / sqrt((s2 - s1 * s1 / 24.0) / 24.0)) > 3
                              THEN 1 ELSE 0 END
                    ELSE CASE WHEN n_events <> s1 / 24.0 THEN 1 ELSE 0 END
               END AS is_anomaly
        FROM stats WHERE wn = 24
    """,
    "events_funnel": __import__(
        "mini_data_platform_spark.operators.funnel",
        fromlist=["sql_funnel_steps"]).sql_funnel_steps(
        "SELECT user_id, ts, event_type FROM events",
        "user_id", "ts", "event_type", ["view", "click", "purchase"]),
    "events_cohort_retention": __import__(
        "mini_data_platform_spark.operators.funnel",
        fromlist=["sql_cohort_retention"]).sql_cohort_retention(
        "SELECT user_id, ts FROM events", "user_id", "ts"),
    "errors_near_click": """
        WITH errors AS (
            SELECT user_id, event_id AS error_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS err_ts_us
            FROM events WHERE event_type = 'error'
        ),
        clicks AS (
            SELECT user_id, event_id AS click_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS click_ts_us
            FROM events WHERE event_type = 'click'
        )
        SELECT e.user_id, e.error_id, c.click_id,
               e.err_ts_us - c.click_ts_us AS gap_us
        FROM errors e
        JOIN clicks c
          ON e.user_id = c.user_id
         AND c.click_ts_us <= e.err_ts_us
         AND e.err_ts_us < c.click_ts_us + CAST(21600000000 AS BIGINT)
    """,
    "click_before_purchase": """
        SELECT p.user_id AS user_id,
               p.event_id AS purchase_event_id,
               c.event_id AS click_event_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "lineitem_bloom_semijoin": f"""
        SELECT l_returnflag AS returnflag,
               {sql_dsum(_SQL_REVENUE)} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY 1
    """,
    # the bloom-pruned lookup must equal the plain filter exactly — the
    # no-false-negative contract makes file skipping invisible to results
    "orders_bloom_lookup": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 971 = 0
    """,
    "events_heavy_users": """
        SELECT user_id, COUNT(*) AS n
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(*) >= 80
    """,
    "events_cms_users": sql_cms_table(
        "SELECT user_id FROM events", "user_id", 4, 64
    ),
}
