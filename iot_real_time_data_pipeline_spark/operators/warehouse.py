"""Warehouse analytics over the TPC-H-shaped tables (lineitem, orders,
customer, supplier, nation, region).

The five classic plan shapes an analytics engine must get right, each
tuned for the 100 TB layout:

- Q1  scan-heavy partial aggregation (no join at all);
- Q3  fact-to-fact shuffle join + AQE-sized dim join + global top-k;
- Q4  EXISTS semi-join (never materializes the match multiplicity);
- Q5  star join rooted at the broadcast region/nation chain, two
      shuffle joins between the big tables;
- Q10 group-by-entity revenue + top-k with an AQE-sized customer
      dim join.

Join-strategy policy (round 7): explicit ``F.broadcast`` hints only on
frames bounded by a CONSTANT (nation/region, 1-row aggregates,
brand-level groups, the bloom bitset); every frame derived from the
scale-growing tables (customer/supplier/part/orders) goes through
:func:`aqe_sized` — un-hinted, so the planner broadcasts when it fits
and degrades to a shuffle join at 100 TB instead of failing.

Money math: every per-row monetary term is quantized to integer cents
(``CAST(round(x * 100) AS BIGINT)``) BEFORE aggregation. Per-row double
expressions are bit-identical across engines (same IEEE expression
tree), but multi-row double sums are accumulation-order-dependent —
integer sums are not. Averages are integer divisions of those sums
(centi-cents / basis points), never double divisions.

Dates: cutoffs are integer epoch-SECOND literals computed from UTC
calendar dates. ``date_sec`` lowers the date column to epoch seconds on
either read path (TIMESTAMP_NTZ under the UTC session, or long nanos if
a file stores TIMESTAMP(NANOS)); DuckDB mirrors with
``epoch_ns(col) // 1e9`` — both floor on the positive range, and the
values are midnight-aligned anyway.

Cache lifetime: a few operators persist an intermediate that the rest of
their plan reads more than once (``bloom_prejoin_audit``,
``join_size_audit``, ``market_basket``). The returned frame stays lazy
and reads through those caches, so the operator cannot release them; the
caller does, once it is done with the result, through
:func:`dedup.release_session_caches`, as the dedup operators' persists
are released.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sec(date_str: str) -> int:
    """UTC midnight of ``YYYY-MM-DD`` as integer epoch seconds."""
    dt = datetime.strptime(date_str, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def date_bounds(
    df: DataFrame,
    col: str,
    lo_sec: int | None = None,
    hi_sec: int | None = None,
    hi_inclusive: bool = False,
) -> DataFrame:
    """Range-filter a date column with NATIVE-typed literals so the
    predicate pushes down to the parquet scan (row-group/page pruning
    at 100 TB). Converting the column first (``with_date_sec``) would
    wrap it in a cast and strand the filter above the scan — so
    filtering happens here, on the raw column, and the epoch-second
    conversion only where the value is *output*."""
    is_nanos = dict(df.dtypes)[col] == "bigint"

    def lit_for(s: int) -> F.Column:
        if is_nanos:
            return F.lit(s * 1_000_000_000)
        # timestamp_seconds -> LTZ; cast to the column's NTZ type is
        # identity under the UTC session pin.
        return F.timestamp_seconds(F.lit(s)).cast(dict(df.dtypes)[col])

    c = F.col(col)
    if lo_sec is not None:
        df = df.filter(c >= lit_for(lo_sec))
    if hi_sec is not None:
        # Inclusive-in-truncated-seconds == strict < (hi+1): identical
        # to the oracle's `epoch_ns // 1e9 <= hi` even for timestamps
        # with intra-second/intra-day parts.
        hi = hi_sec + 1 if hi_inclusive else hi_sec
        df = df.filter(c < lit_for(hi))
    return df


def with_date_sec(df: DataFrame, col: str) -> DataFrame:
    """Replace a date column with integer epoch seconds, whichever way
    parquet delivered it: TIMESTAMP/TIMESTAMP_NTZ casts to long epoch
    seconds directly (UTC session; micros floor), a TIMESTAMP(NANOS)
    file read as long nanos integral-divides. Midnight-aligned values
    either way."""
    if dict(df.dtypes)[col] == "bigint":
        return df.withColumn(col, F.expr(f"{col} div 1000000000"))
    # TIMESTAMP_NTZ has no direct long cast; route through TIMESTAMP
    # (session tz is pinned UTC by read_table, so the reinterpretation
    # is identity) then to epoch seconds.
    return df.withColumn(col, F.col(col).cast("timestamp").cast("long"))


Q1_SHIP_CUTOFF = sec("1998-09-02")
Q3_SEGMENT = "BUILDING"
Q3_DATE = sec("1998-01-01")
Q4_LO, Q4_HI = sec("1997-01-01"), sec("1998-01-01")
Q5_REGION = "ASIA"
Q5_LO, Q5_HI = sec("1996-01-01"), sec("1997-01-01")
Q10_LO, Q10_HI = sec("1997-01-01"), sec("1997-04-01")


def cents(expr: F.Column) -> F.Column:
    """Per-row integer-cent quantization (cross-engine exact)."""
    return F.round(expr * 100).cast("long")


def aqe_sized(df: DataFrame) -> DataFrame:
    """Join input deliberately left UN-hinted because it derives from a
    SCALE-GROWING table (customer / supplier / part / orders — all grow
    linearly with scale factor; only nation and region are fixed at
    25/5 rows).

    A hard ``F.broadcast`` hint overrides AQE's size check: at sf100
    customer alone is ~3.5 GB (driver OOM), and at the 100 TB target a
    forced broadcast is a guaranteed job failure instead of a graceful
    degrade to shuffled-hash/sort-merge. Returning the frame un-hinted
    lets the planner pick broadcast whenever the side actually fits
    (it still does at bench scale, under the 64 MB threshold / AQE
    runtime stats) and fall back to a shuffle join at scale.

    Explicit ``F.broadcast`` hints remain only on frames whose row
    count is bounded by a CONSTANT independent of scale factor:
    nation/region, 1-row aggregates, brand-level groups (bounded brand
    vocabulary), and the bloom bitset (≤ ``BLOOM_BITS`` rows).
    """
    return df


def _revenue_c() -> F.Column:
    return cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount")))


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Q1: pricing summary report. Pure scan + partial agg — the
    filter and the per-row cent terms fuse into the scan stage; the
    shuffle is 6 groups x partials. ReadSchema must show only the 7
    needed columns (verified in PERF.md)."""
    li = date_bounds(lineitem, "l_shipdate", hi_sec=Q1_SHIP_CUTOFF, hi_inclusive=True)
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_price_c = _revenue_c()
    charge_c = cents(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * (1.0 + F.col("l_tax"))
    )
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_c"),
            F.sum(price_c).alias("sum_base_price_c"),
            F.sum(disc_price_c).alias("sum_disc_price_c"),
            F.sum(charge_c).alias("sum_charge_c"),
            F.sum(disc_bp).alias("sum_disc_bp"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty_c",
            "sum_base_price_c",
            "sum_disc_price_c",
            "sum_charge_c",
            F.expr("(sum_qty_c * 100) div count_order").alias("avg_qty_cc"),
            F.expr("(sum_base_price_c * 100) div count_order").alias("avg_price_cc"),
            F.expr("sum_disc_bp div count_order").alias("avg_disc_bp"),
            "count_order",
        )
    )


def q3_shipping_priority(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """Q3: unshipped-order revenue, top k. The segment-filtered
    customer map joins AQE-sized (broadcast while it fits, shuffle at
    scale — customer grows with SF); orders↔lineitem is the one real
    shuffle (orderkey) — at scale both sides bucket on orderkey and
    the exchange disappears. Top-k is TakeOrdered (per-partition heap
    + driver merge of k rows), never a global sort."""
    cust = customer.filter(F.col("c_mktsegment") == Q3_SEGMENT).select("c_custkey")
    ords = with_date_sec(
        date_bounds(orders, "o_orderdate", hi_sec=Q3_DATE), "o_orderdate"
    ).select(
        "o_orderkey",
        "o_custkey",
        # epoch seconds on both engines — the shared integer
        # representation of the timestamp column.
        F.col("o_orderdate").alias("o_orderdate_sec"),
        "o_orderpriority",
    )
    li = date_bounds(
        lineitem, "l_shipdate", lo_sec=Q3_DATE + 1
    ).select(
        "l_orderkey", _revenue_c().alias("rev_c")
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate_sec", "o_orderpriority")
        .agg(F.sum("rev_c").alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("o_orderkey"))
        .limit(k)
    )


def q4_order_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Q4 shape: order counts by priority for orders with at least one
    returned line — LEFT SEMI join, which dedups match multiplicity
    inside the join instead of a join+distinct (half the shuffle, no
    exploded intermediate)."""
    ords = date_bounds(orders, "o_orderdate", lo_sec=Q4_LO, hi_sec=Q4_HI).select(
        "o_orderkey", "o_orderpriority"
    )
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        ords.join(returned, ords.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q5_local_supplier_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Q5: revenue by nation where customer and supplier share the
    nation. region→nation broadcasts down the snowflake; the
    region-pruned customer and supplier maps join AQE-sized (they
    grow with SF); the two big-table joins (orders↔lineitem on
    orderkey, then supplier check on (suppkey, nationkey)) are the
    only guaranteed shuffles. The c_nationkey = s_nationkey
    correlation rides the join condition — no post-filter blowup."""
    nat = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == Q5_REGION)),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(nat), customer.c_nationkey == nat.n_nationkey
    ).select("c_custkey", F.col("n_nationkey").alias("c_nat"), "n_name")
    supp = supplier.select("s_suppkey", F.col("s_nationkey").alias("s_nat"))
    ords = date_bounds(orders, "o_orderdate", lo_sec=Q5_LO, hi_sec=Q5_HI).select(
        "o_orderkey", "o_custkey"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", _revenue_c().alias("rev_c"))
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .join(
            aqe_sized(supp),
            (li.l_suppkey == supp.s_suppkey) & (F.col("c_nat") == F.col("s_nat")),
        )
        .groupBy("n_name")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )


def q10_returned_items(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 20
) -> DataFrame:
    """Q10: customers who returned the most revenue in a quarter.
    Aggregate BEFORE the dim join: revenue collapses to one row per
    customer first, then the (tiny) result joins the AQE-sized
    customer dim — the join input is |customers with returns|, not
    |lineitems|, and the strategy degrades to a shuffle when customer
    outgrows the broadcast threshold."""
    ords = date_bounds(orders, "o_orderdate", lo_sec=Q10_LO, hi_sec=Q10_HI).select(
        "o_orderkey", "o_custkey"
    )
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", _revenue_c().alias("rev_c")
    )
    per_cust = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )
    cust = customer.select("c_custkey", "c_name", "c_nationkey")
    return (
        per_cust.join(aqe_sized(cust), per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "c_nationkey", "revenue_c")
        .orderBy(F.col("revenue_c").desc(), F.col("c_custkey"))
        .limit(k)
    )


def sales_rollup(lineitem: DataFrame) -> DataFrame:
    """Hierarchical ROLLUP over (returnflag, linestatus): leaf cells,
    per-flag subtotals, and the grand total in ONE pass — Spark expands
    the grouping sets BEFORE the exchange, so the shuffle carries the
    partial aggregates of every level at once instead of one job per
    level (the OLAP cube primitive; ``cube()`` is the same plan with
    more sets).

    NULL group markers are folded to the literal ``'ALL'`` on both
    engines — the hash compare never sees engine-specific NULL order,
    and report consumers get an explicit total row label.

    Returns ``(l_returnflag, l_linestatus, grp_level, n_items,
    sum_disc_price_c)``.
    """
    return (
        lineitem.select("l_returnflag", "l_linestatus", _revenue_c().alias("rev_c"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("grp_level"),
            F.count("*").alias("n_items"),
            F.sum("rev_c").alias("sum_disc_price_c"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("l_linestatus"),
            "grp_level",
            "n_items",
            "sum_disc_price_c",
        )
    )


def integrity_audit(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Referential-integrity audit: FULL OUTER join of the order-key
    universes on both sides, classified into matched / order-only /
    item-only counts — the data-quality query every warehouse load
    gates on.

    Both sides pre-aggregate to distinct keys BEFORE the join (partial
    agg, shuffle ∝ distinct keys, not rows), so the full-outer join is
    key-to-key — at 100 TB the join input is the key space, never the
    fact volume.

    Returns one row: ``(n_matched, n_order_only, n_item_only)``.
    """
    o = orders.select("o_orderkey").distinct()
    l = lineitem.select("l_orderkey").distinct()
    joined = o.join(l, o.o_orderkey == l.l_orderkey, "full_outer")
    return joined.agg(
        F.count(
            F.when(F.col("o_orderkey").isNotNull() & F.col("l_orderkey").isNotNull(), 1)
        ).alias("n_matched"),
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("n_order_only"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_item_only"),
    )


Q6_LO, Q6_HI = sec("1996-01-01"), sec("1997-01-01")


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """Q6: forecast-revenue change — the pure scan-and-reduce shape
    (every predicate pushes to the scan, the aggregate is one row).
    Revenue term ``l_extendedprice * l_discount`` is cent-quantized per
    row; the discount band is expressed on integer basis points so the
    boundary test never compares raw doubles to a decimal literal.
    """
    li = date_bounds(lineitem, "l_shipdate", lo_sec=Q6_LO, hi_sec=Q6_HI)
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    rev_c = cents(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.filter((disc_bp >= 500) & (disc_bp <= 700) & (F.col("l_quantity") < 24.0))
        .agg(
            F.sum(rev_c).alias("revenue_c"),
            F.count("*").alias("n_items"),
        )
    )


def q13_order_distribution(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — the LEFT OUTER join whose unmatched side
    carries the business signal. Two partial-agged groupBys: per
    customer (shuffle ∝ customers), then per count (shuffle ∝ distinct
    counts — the report).

    Returns ``(n_orders, n_customers)``.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey"), customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


Q14_LO, Q14_HI = sec("1996-01-01"), sec("1996-04-01")


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Q14: promo revenue share for a quarter — conditional aggregation
    over an AQE-sized dim join (part is catalog-sized: broadcast
    while it fits, shuffle once it doesn't — it grows with SF). The
    share is integer ppm of integer cent sums, so the single-row
    report is engine-exact.

    Returns ``(promo_revenue_c, total_revenue_c, promo_share_ppm)``.
    """
    li = date_bounds(lineitem, "l_shipdate", lo_sec=Q14_LO, hi_sec=Q14_HI).select(
        "l_partkey", _revenue_c().alias("rev_c")
    )
    p = part.select("p_partkey", "p_type")
    return (
        li.join(aqe_sized(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_c")).otherwise(0)).alias(
                "promo_revenue_c"
            ),
            F.sum("rev_c").alias("total_revenue_c"),
        )
        .select(
            "promo_revenue_c",
            "total_revenue_c",
            F.expr(
                "(promo_revenue_c * CAST(1000000 AS BIGINT)) div total_revenue_c"
            ).alias("promo_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 additions: the remaining TPC-H plan shapes expressible on the
# driver's column set (no partsupp / commitdate / shipmode columns, so
# Q2/Q11/Q12/Q16/Q20/Q21 have no data to run on; Q9/Q19/Q22 ship in
# adapted forms that keep the plan shape and drop only the missing
# columns). Reference parity: these are the OLAP shapes the reference's
# warehouse layer (Redshift star schema, SURVEY.md §2.4) serves.
# ---------------------------------------------------------------------------

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_LO, Q7_HI = sec("1996-01-01"), sec("1998-01-01")


def with_year(df: DataFrame, col: str, out: str) -> DataFrame:
    """Calendar year of a date column, whichever physical type parquet
    delivered (TIMESTAMP/NTZ, or long nanos under ``nanosAsLong``).
    Session tz is pinned UTC, so ``year()`` agrees with DuckDB's naive
    ``year()``."""
    if dict(df.dtypes)[col] == "bigint":
        return df.withColumn(out, F.year(F.timestamp_micros(F.expr(f"{col} div 1000"))).cast("long"))
    return df.withColumn(out, F.year(F.col(col)).cast("long"))


def q7_nation_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Q7: shipping volume between two nations, by direction and year.

    Supplier-side and customer-side nation maps are pre-filtered to the
    two nations of interest BEFORE joining (nation itself broadcasts —
    25 rows), so each AQE-sized inner join is simultaneously the
    lookup and a semi-filter — lineitems outside either nation die
    inside the joins, and the only post-join predicate is the
    cross-pair disjunction (A→B or B→A), which needs both sides
    attached. The one big shuffle is orders↔lineitem on orderkey
    (bucketable at 100 TB, see ``functions/skew.py``).

    Returns ``(supp_nation, cust_nation, l_year, revenue_c)``.
    """
    nat2 = nation.filter(F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)).select(
        "n_nationkey", "n_name"
    )
    supp = (
        supplier.join(F.broadcast(nat2), supplier.s_nationkey == nat2.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        customer.join(F.broadcast(nat2), customer.c_nationkey == nat2.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = with_year(
        date_bounds(lineitem, "l_shipdate", lo_sec=Q7_LO, hi_sec=Q7_HI),
        "l_shipdate",
        "l_year",
    ).select("l_orderkey", "l_suppkey", "l_year", _revenue_c().alias("rev_c"))
    ords = orders.select("o_orderkey", "o_custkey")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .join(aqe_sized(supp), li.l_suppkey == supp.s_suppkey)
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )


Q8_REGION = "EUROPE"
Q8_TYPE = "ECONOMY"
Q8_NATION = "NATION_7"
Q8_LO, Q8_HI = sec("1996-01-01"), sec("1998-01-01")


def q8_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Q8: national market share — the share of a region's market (all
    orders by customers in ``Q8_REGION`` for ``Q8_TYPE`` parts) captured
    by suppliers from ``Q8_NATION``, per order year.

    The share is conditional aggregation over ONE scan: numerator and
    denominator are the same joined rows, split by a CASE on the
    supplier nation — never two queries. Part (type-filtered), the
    region-pruned customer map, and supplier join AQE-sized; supplier
    carries its nation name into the join so the CASE is a string
    compare on an attached column. Output is integer-ppm of integer
    cent sums.

    Returns ``(o_year, nation_revenue_c, total_revenue_c, share_ppm)``.
    """
    reg_nat = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == Q8_REGION)),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey")
    )
    cust = customer.join(
        F.broadcast(reg_nat), customer.c_nationkey == reg_nat.n_nationkey
    ).select("c_custkey")
    all_nat = nation.select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(all_nat), supplier.s_nationkey == all_nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    p = part.filter(F.col("p_type") == Q8_TYPE).select("p_partkey")
    ords = with_year(
        date_bounds(orders, "o_orderdate", lo_sec=Q8_LO, hi_sec=Q8_HI),
        "o_orderdate",
        "o_year",
    ).select("o_orderkey", "o_custkey", "o_year")
    li = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", _revenue_c().alias("rev_c")
    )
    target = F.when(F.col("supp_nation") == Q8_NATION, F.col("rev_c")).otherwise(0)
    return (
        li.join(aqe_sized(p), li.l_partkey == p.p_partkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .join(aqe_sized(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.sum(target).alias("nation_revenue_c"),
            F.sum("rev_c").alias("total_revenue_c"),
        )
        .select(
            "o_year",
            "nation_revenue_c",
            "total_revenue_c",
            F.expr(
                "(nation_revenue_c * CAST(1000000 AS BIGINT)) div total_revenue_c"
            ).alias("share_ppm"),
        )
    )


Q9_NAME_FRAGMENT = "widget"


def q9_product_profit(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, part: DataFrame
) -> DataFrame:
    """Q9 (adapted): revenue by supplier nation and ship year for parts
    whose name contains ``Q9_NAME_FRAGMENT`` (no partsupp table in this
    corpus, so profit = discounted revenue without the supplycost term —
    the plan shape is unchanged).

    Every dim join is AQE-sized (LIKE-filtered part catalog; supplier
    carrying its nation name): at bench scale both broadcast and the
    fact table never shuffles at all — the only exchange is the final
    (nation, year) aggregation, partial-agged map-side to
    ~|nations|x|years| rows. At 100 TB the planner degrades the dim
    joins to shuffles instead of OOMing the driver.

    Returns ``(supp_nation, l_year, revenue_c, n_items)``.
    """
    p = part.filter(F.col("p_name").contains(Q9_NAME_FRAGMENT)).select("p_partkey")
    all_nat = nation.select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(all_nat), supplier.s_nationkey == all_nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li = with_year(lineitem, "l_shipdate", "l_year").select(
        "l_partkey", "l_suppkey", "l_year", _revenue_c().alias("rev_c")
    )
    return (
        li.join(aqe_sized(p), li.l_partkey == p.p_partkey)
        .join(aqe_sized(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("supp_nation", "l_year")
        .agg(F.sum("rev_c").alias("revenue_c"), F.count("*").alias("n_items"))
    )


Q15_LO, Q15_HI = sec("1996-01-01"), sec("1996-04-01")


def q15_top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Q15: the supplier(s) with the maximum quarterly revenue — the
    scalar-subquery-equality shape (``WHERE total = (SELECT max ...)``).

    Per-supplier revenue aggregates once (shuffle ∝ |suppliers|); the
    global max is a 1-row aggregate of that result, broadcast back as a
    nested-loop equality filter — the revenue table is never recomputed
    and never sorted. Ties return every tied supplier on both engines.

    Returns ``(s_suppkey, s_name, total_revenue_c)`` ordered by key.
    """
    li = date_bounds(lineitem, "l_shipdate", lo_sec=Q15_LO, hi_sec=Q15_HI).select(
        "l_suppkey", _revenue_c().alias("rev_c")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum("rev_c").alias("total_revenue_c"))
    mx = rev.agg(F.max("total_revenue_c").alias("max_rev"))
    s = supplier.select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue_c == mx.max_rev)
        .join(aqe_sized(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_c")
        .orderBy("s_suppkey")
    )


# threshold: keep lineitems with qty_c < (3/10) * avg qty_c of the part.
Q17_NUM, Q17_DEN = 3, 10


def q17_small_qty_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Q17 shape: revenue from order lines far below their part's
    average quantity — the correlated-scalar-subquery pattern, decomposed
    into aggregate-then-rejoin.

    Per-part quantity moments aggregate first (shuffle ∝ |parts|); the
    agg result is catalog-sized and rejoins the fact scan AQE-sized —
    broadcast while it fits (fact never shuffles), shuffled-hash once
    the catalog outgrows the threshold. The threshold compare
    ``qty < 0.3 * avg`` is cross-multiplied into pure BIGINT
    (``10*qty_c*cnt < 3*sum_qty_c``): no double division, so the
    boundary rows land identically on both engines.

    Returns one row ``(n_small_lines, revenue_c)``.
    """
    qty_c = cents(F.col("l_quantity"))
    per_part = (
        lineitem.select("l_partkey", qty_c.alias("q_c"))
        .groupBy("l_partkey")
        .agg(F.sum("q_c").alias("sum_q_c"), F.count("*").alias("n_lines"))
        .withColumnRenamed("l_partkey", "pk")
    )
    li = lineitem.select("l_partkey", qty_c.alias("q_c"), _revenue_c().alias("rev_c"))
    return (
        li.join(aqe_sized(per_part), li.l_partkey == per_part.pk)
        .filter(
            F.col("q_c") * F.col("n_lines") * F.lit(Q17_DEN)
            < F.col("sum_q_c") * F.lit(Q17_NUM)
        )
        .agg(F.count("*").alias("n_small_lines"), F.sum("rev_c").alias("revenue_c"))
    )


Q18_QTY_C = 300 * 100  # orders with > 300 total quantity (centi-units)


def q18_large_volume_customers(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 50
) -> DataFrame:
    """Q18: customers who placed very large orders — the group-HAVING
    semi-join shape. Per-order quantity sums aggregate first and the
    HAVING cut drops ~99.9% of orders BEFORE any join; the survivors
    (a tiny set) then join orders and the AQE-sized customer dim.
    Top-k is TakeOrdered on the surviving handful.

    Returns ``(c_custkey, c_name, o_orderkey, o_orderdate_sec,
    total_qty_c)``.
    """
    qty_c = cents(F.col("l_quantity"))
    big = (
        lineitem.select("l_orderkey", qty_c.alias("q_c"))
        .groupBy("l_orderkey")
        .agg(F.sum("q_c").alias("total_qty_c"))
        .filter(F.col("total_qty_c") > Q18_QTY_C)
    )
    ords = with_date_sec(orders, "o_orderdate").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("o_orderdate_sec")
    )
    cust = customer.select("c_custkey", "c_name")
    return (
        big.join(ords, big.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate_sec", "total_qty_c")
        .orderBy(F.col("total_qty_c").desc(), F.col("o_orderkey"))
        .limit(k)
    )


Q19_BANDS = (
    ("Brand#11", 1, 15, 100, 1100),  # (brand, size_lo, size_hi, qty_c_lo, qty_c_hi)
    ("Brand#12", 1, 20, 1000, 2000),
    ("Brand#13", 1, 25, 2000, 3000),
)


def q19_disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Q19 (adapted): revenue under a disjunction of (brand, size band,
    quantity band) conditions — the predicate-pushdown stress shape (no
    p_container column; size bands stand in).

    The brand/size disjunction involves only part columns, so it prunes
    the (AQE-sized) dim side to the 3 brands BEFORE the join; the
    quantity band rides the join output. The residual OR (which band a
    row matched) evaluates on joined rows — the fact side is filtered
    by the join itself, never scanned twice.

    Returns one row ``(n_lines, revenue_c)``.
    """
    part_pred = None
    for brand, slo, shi, _, _ in Q19_BANDS:
        c = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        part_pred = c if part_pred is None else (part_pred | c)
    p = part.filter(part_pred).select("p_partkey", "p_brand", "p_size")

    qty_c = cents(F.col("l_quantity"))
    li = lineitem.select("l_partkey", qty_c.alias("q_c"), _revenue_c().alias("rev_c"))

    full_pred = None
    for brand, slo, shi, qlo, qhi in Q19_BANDS:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("q_c").between(qlo, qhi)
        )
        full_pred = c if full_pred is None else (full_pred | c)
    return (
        li.join(aqe_sized(p), li.l_partkey == p.p_partkey)
        .filter(full_pred)
        .agg(F.count("*").alias("n_lines"), F.sum("rev_c").alias("revenue_c"))
    )


Q22_CUTOFF = sec("2000-01-01")


def q22_dormant_customers(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Q22 (adapted): high-balance customers with no recent orders — the
    anti-join + global-scalar-threshold shape (no phone prefixes in this
    corpus; "recent" replaces the country-code cut).

    The balance threshold (mean positive balance) is computed as integer
    cent sums and compared by cross-multiplication
    (``bal_c * n_pos > sum_pos_c``) — no double division crosses
    engines. The recent-order key set collapses to DISTINCT custkeys
    before the AQE-sized LEFT ANTI join, so the anti-join probe is
    ∝ |recent customers|, not |orders|.

    Returns ``(c_nationkey, n_customers, sum_acctbal_c)``.
    """
    bal_c = cents(F.col("c_acctbal"))
    cust = customer.select("c_custkey", "c_nationkey", bal_c.alias("bal_c"))
    thresh = cust.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_pos_c"), F.count("*").alias("n_pos")
    )
    rich = (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("bal_c") * F.col("n_pos") > F.col("sum_pos_c"))
        .select("c_custkey", "c_nationkey", "bal_c")
    )
    recent = (
        date_bounds(orders, "o_orderdate", lo_sec=Q22_CUTOFF)
        .select("o_custkey")
        .distinct()
    )
    return (
        rich.join(
            aqe_sized(recent), rich.c_custkey == recent.o_custkey, "left_anti"
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"), F.sum("bal_c").alias("sum_acctbal_c"))
    )


def sales_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets —
    leaf cells, both one-dimension margins, and the grand total — in
    the same single-Expand single-exchange plan as :func:`sales_rollup`
    (ROLLUP emits 3 of the 4 sets; CUBE adds the linestatus margin).
    Same 'ALL' folding, same integer cents.

    Returns ``(l_returnflag, l_linestatus, grp_level, n_items,
    sum_disc_price_c)``.
    """
    return (
        lineitem.select("l_returnflag", "l_linestatus", _revenue_c().alias("rev_c"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("grp_level"),
            F.count("*").alias("n_items"),
            F.sum("rev_c").alias("sum_disc_price_c"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("l_linestatus"),
            "grp_level",
            "n_items",
            "sum_disc_price_c",
        )
    )


def sales_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Heterogeneous GROUPING SETS — ``((returnflag, linestatus),
    (ship_year), ())`` — the report shape neither ROLLUP nor CUBE can
    express (two unrelated breakdowns + grand total in one pass).
    Same single-Expand single-exchange plan as :func:`sales_cube`:
    Expand emits one replica per set, the aggregate partial-combines
    map-side, so the shuffle is |sets| × |groups|, not a per-set
    rescan of lineitem. Same 'ALL' folding, same integer cents.

    ``grp_level`` = grouping(returnflag)*4 + grouping(linestatus)*2 +
    grouping(ship_year) — composed from per-column ``grouping()`` bits
    (engine-portable, unlike grouping_id bit order).

    Returns ``(l_returnflag, l_linestatus, ship_year, grp_level,
    n_items, sum_disc_price_c)`` with the folded year as -1.
    """
    li = with_year(lineitem, "l_shipdate", "ship_year")
    return (
        li.select(
            "l_returnflag", "l_linestatus", "ship_year",
            _revenue_c().alias("rev_c"),
        )
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["ship_year"], []],
            "l_returnflag", "l_linestatus", "ship_year",
        )
        .agg(
            (
                F.grouping("l_returnflag") * 4
                + F.grouping("l_linestatus") * 2
                + F.grouping("ship_year")
            ).cast("long").alias("grp_level"),
            F.count("*").alias("n_items"),
            F.sum("rev_c").alias("sum_disc_price_c"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("l_linestatus"),
            F.coalesce(F.col("ship_year"), F.lit(-1)).cast("long").alias("ship_year"),
            "grp_level",
            "n_items",
            "sum_disc_price_c",
        )
    )


def yoy_nation_growth(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the lag
    window report every revenue dashboard leads with. Aggregate-first
    discipline: lineitem collapses to integer cents per (orderkey)
    join row, the only big-big shuffle is lineitem↔orders on
    orderkey, nation broadcasts / customer joins AQE-sized, and the
    lag window runs over
    the tiny (nation × year) aggregate — |nations|·|years| rows, so
    the window costs nothing at any corpus size.

    ``yoy_delta_ppm = (rev − prev) * 1_000_000 div prev`` in integer
    cents (truncating div mirrored in the oracle — deltas go
    negative). First year per nation keeps NULL prev/delta (a report
    that fakes 0-growth for year one misleads).

    Returns ``(n_name, o_year, revenue_c, prev_revenue_c,
    yoy_delta_ppm)``.
    """
    cust = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer.c_nationkey == nation.n_nationkey,
    ).select("c_custkey", "n_name")
    ords = with_year(orders, "o_orderdate", "o_year").select(
        "o_orderkey", "o_custkey", "o_year"
    )
    li = lineitem.select("l_orderkey", _revenue_c().alias("rev_c"))
    yearly = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(aqe_sized(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    return (
        yearly.withColumn("prev_revenue_c", F.lag("revenue_c").over(w))
        .select(
            "n_name",
            F.col("o_year").cast("long").alias("o_year"),
            "revenue_c",
            "prev_revenue_c",
            F.expr(
                "CASE WHEN prev_revenue_c > 0 THEN"
                " ((revenue_c - prev_revenue_c) * 1000000) div prev_revenue_c"
                " END"
            ).alias("yoy_delta_ppm"),
        )
    )


def cohort_ltv(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Customer lifetime-value triangle: revenue per (first-order-year
    cohort x years-since-first-order age), with the running cumulative
    LTV and per-customer average every retention deck plots as the
    famous upper-triangular heat map.

    Aggregate-first: lineitem collapses to integer cents per orderkey
    join row, the only big-big shuffle is lineitem<->orders on
    orderkey, then everything reduces to a (custkey, year) table —
    from which BOTH the per-year revenue AND each customer's first
    year derive (min over the same aggregate; no second pass over
    facts, and the custkey join that attaches the cohort is
    co-partitioned with the groupBy that built it). The triangle
    itself is |cohorts|·|years| rows, so the running-sum window and
    the age-0 cohort-size lookup are free at any corpus size.

    ``cohort_size`` = active customers at age 0 (every cohort member
    transacts in its first year by construction); ``avg_ltv_c`` =
    cumulative cents div cohort size (floor). Returns ``(cohort_year,
    age, n_active_customers, revenue_c, cum_revenue_c, cohort_size,
    avg_ltv_c)``.
    """
    ords = with_year(orders, "o_orderdate", "o_year").select(
        "o_orderkey", "o_custkey", "o_year"
    )
    li = lineitem.select("l_orderkey", _revenue_c().alias("rev_c"))
    per_cy = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey", "o_year")
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    first = per_cy.groupBy("o_custkey").agg(
        F.min("o_year").alias("cohort_year")
    )
    tri = (
        per_cy.join(first, "o_custkey")
        .withColumn("age", F.col("o_year") - F.col("cohort_year"))
        .groupBy("cohort_year", "age")
        .agg(
            F.count("o_custkey").cast("long").alias("n_active_customers"),
            F.sum("rev_c").alias("revenue_c"),
        )
    )
    w_cum = (
        Window.partitionBy("cohort_year")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("cohort_year")
    return (
        tri.withColumn("cum_revenue_c", F.sum("revenue_c").over(w_cum))
        .withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("age") == 0, F.col("n_active_customers"))
            ).over(w_all),
        )
        .select(
            F.col("cohort_year").cast("long").alias("cohort_year"),
            F.col("age").cast("long").alias("age"),
            "n_active_customers",
            "revenue_c",
            "cum_revenue_c",
            "cohort_size",
            F.expr("cum_revenue_c div cohort_size").alias("avg_ltv_c"),
        )
    )


ABC_A_PPM = 700_000  # cumulative revenue share ceilings for class A / B
ABC_B_PPM = 900_000


def abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC / Pareto revenue classification of parts: rank parts by
    revenue, compute each part's CUMULATIVE share of total revenue, and
    bucket into A (first 70% of revenue), B (70-90%), C (tail) — the
    classic inventory-analysis operator.

    Plan discipline: the window runs on the PER-PART AGGREGATE
    (cardinality = |part|, ~200k/TB), never on raw lineitem — the only
    full-data shuffle is the partial-agged groupBy(l_partkey). The
    cumulative-sum window needs a global revenue order; at |part| scale
    a single-partition window is acceptable for the report, and the
    grand total joins back as a broadcast 1-row aggregate rather than a
    second window pass. Shares are integer ppm of integer-cent sums —
    engine-exact. Ties rank deterministically by (revenue desc,
    partkey).

    Returns ``(l_partkey, revenue_c, cum_share_ppm, abc_class)``.
    """
    per_part = (
        lineitem.select("l_partkey", _revenue_c().alias("rev_c"))
        .groupBy("l_partkey")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )
    w = (
        Window.orderBy(F.col("revenue_c").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The cumulative-share window already runs the per-part frame
    # through one unpartitioned sort; the revenue total as a second
    # window over the same partition is free (same exchange+sort) and
    # drops the scalar aggregate + broadcast chain (round 13).
    shared = (
        per_part
        .withColumn("total_c", F.sum("revenue_c").over(Window.partitionBy()))
        .withColumn("cum_c", F.sum("revenue_c").over(w))
        .select(
            "l_partkey",
            "revenue_c",
            F.expr("cum_c * 1000000 div total_c").alias("cum_share_ppm"),
        )
    )
    return shared.select(
        "l_partkey",
        "revenue_c",
        "cum_share_ppm",
        F.when(F.col("cum_share_ppm") <= ABC_A_PPM, F.lit("A"))
        .when(F.col("cum_share_ppm") <= ABC_B_PPM, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


RFM_BINS = 5


def customer_rfm(orders: DataFrame, bins: int = RFM_BINS) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the marketing-analytics staple: per customer, days since last
    order, order count, and lifetime cents, each scored into ``bins``
    equal-frequency buckets, concatenated into the segment code
    ("555" = best).

    Plan: one partial-agged groupBy(custkey) reduces the order log to
    |customer| rows; the three ntile windows run on that aggregate
    (deterministic (metric, custkey) tie-breaks). Recency is integer
    days against the corpus max date (broadcast 1-row aggregate).
    Higher score always = better: recent, frequent, high-spend.

    Returns ``(o_custkey, recency_days, frequency, monetary_c,
    r_score, f_score, m_score, rfm_segment)``.
    """
    o = with_date_sec(orders, "o_orderdate")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_sec"),
        F.count("*").alias("frequency"),
        F.sum(cents(F.col("o_totalprice"))).alias("monetary_c"),
    )
    # Corpus max as a window over the per-customer frame: the three
    # ntile windows below already run it through unpartitioned sorts,
    # so this adds no scale cost and drops the scalar agg + broadcast
    # chain (round 13).
    base = per_cust.withColumn(
        "corpus_max_sec", F.max("last_sec").over(Window.partitionBy())
    ).select(
        "o_custkey",
        F.expr("(corpus_max_sec - last_sec) div 86400").alias("recency_days"),
        "frequency",
        "monetary_c",
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("o_custkey"))
    f_w = Window.orderBy(F.col("frequency"), F.col("o_custkey"))
    m_w = Window.orderBy(F.col("monetary_c"), F.col("o_custkey"))
    scored = (
        base.withColumn("r_score", F.ntile(bins).over(r_w).cast("long"))
        .withColumn("f_score", F.ntile(bins).over(f_w).cast("long"))
        .withColumn("m_score", F.ntile(bins).over(m_w).cast("long"))
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_c",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("rfm_segment"),
    )


ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def priority_month_pivot(orders: DataFrame) -> DataFrame:
    """Month x order-priority cross-tab: one row per calendar month,
    one order-count column per (fixed, enumerated) priority — the
    ops-review layout for order-mix drift.

    Same pivot discipline as the events cross-tab: an EXPLICIT value
    list compiles to one conditional-agg groupBy over one scan (no
    distinct-discovery pass, schema stable at any scale). Months are
    integer ``yyyymm`` derived from epoch-day arithmetic — no date
    formatting, engine-exact.

    Returns ``(month_num, n_urgent, n_high, n_medium, n_not_specified,
    n_low)``.
    """
    o = with_date_sec(orders, "o_orderdate")
    month = (
        F.year(F.timestamp_seconds(F.col("o_orderdate"))) * 100
        + F.month(F.timestamp_seconds(F.col("o_orderdate")))
    ).cast("long")
    safe = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_not_specified",
        "5-LOW": "n_low",
    }
    pivoted = (
        o.select(month.alias("month_num"), "o_orderpriority")
        .groupBy("month_num")
        .pivot("o_orderpriority", list(ORDER_PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "month_num",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(safe[p])
            for p in ORDER_PRIORITIES
        ],
    )


# ---------------------------------------------------------------------------
# Round-5 additions: the remaining TPC-H plan shapes (Q2/Q11/Q12/Q16/
# Q20/Q21), adapted to this corpus's schema — there is no partsupp
# table and lineitem carries no commit/receipt dates or ship modes, so
# each query keeps the CANONICAL plan shape (the thing that matters at
# 100 TB) over the columns that exist.
# ---------------------------------------------------------------------------

Q2_REGION = "ASIA"
Q2_MIN_SIZE = 40


def q2_min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Q2 shape (adapted): cheapest regional supplier per large part —
    the correlated-min-subquery pattern (``WHERE cost = (SELECT min …
    WHERE same part)``), decomposed into aggregate-then-equality-rejoin.

    Without partsupp, the observed offer book is lineitem itself: a
    supplier's unit price for a part is the MIN over its lines of
    ``extendedprice / quantity``, lowered to integer centi-cents by
    integer division (``price_c * 100 div qty_c``) so the min and the
    equality rejoin are exact on both engines. Suppliers prune to the
    region FIRST (broadcast nation/region chain; the pruned supplier
    map itself joins AQE-sized), so the offers aggregate only
    carries regional lines; the per-part min is a second aggregate of
    the first (shuffle ∝ |part×supp pairs|, then ∝ |parts|), and ties
    pick the lowest suppkey — deterministic.

    Returns ``(p_partkey, p_name, best_suppkey, s_name, n_name,
    s_acctbal_c, min_unit_cc)``.
    """
    sup = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == Q2_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            cents(F.col("s_acctbal")).alias("s_acctbal_c"),
        )
    )
    # integer division (div), NOT double /: matches DuckDB's // exactly
    offers = (
        lineitem.join(
            aqe_sized(sup.select("s_suppkey")),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (
                (cents(F.col("l_extendedprice")) * 100)
                .cast("long")
                .alias("price100_c")
            ),
            cents(F.col("l_quantity")).alias("qty_c"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr("price100_c div qty_c").alias("unit_cc"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cc").alias("unit_cc"))
    )
    # rename the agg side's key: offers/best share lineage, and a raw
    # equi-join on the same attribute trips the ambiguous-self-join check
    best = offers.groupBy(F.col("l_partkey").alias("bpk")).agg(
        F.min("unit_cc").alias("min_unit_cc")
    )
    pick = (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("bpk"))
            & (F.col("unit_cc") == F.col("min_unit_cc")),
        )
        .groupBy("l_partkey", "min_unit_cc")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    p = part.filter(F.col("p_size") >= Q2_MIN_SIZE).select("p_partkey", "p_name")
    return (
        pick.join(p, pick.l_partkey == p.p_partkey)
        .join(aqe_sized(sup), pick.best_suppkey == sup.s_suppkey)
        .select(
            "p_partkey", "p_name", "best_suppkey", "s_name", "n_name",
            "s_acctbal_c", "min_unit_cc",
        )
    )


# keep parts whose revenue share exceeds 1.3x the mean part share
Q11_NUM, Q11_DEN = 13, 10


def q11_important_parts(lineitem: DataFrame) -> DataFrame:
    """Q11 shape (adapted): parts whose revenue exceeds a fraction of
    the GLOBAL total — the group-HAVING-against-global-scalar pattern
    (``HAVING sum(...) > (SELECT sum(...) * f)``).

    Without partsupp value, part importance is lineitem revenue. The
    per-part aggregate computes once; the global total is a 1-row
    aggregate OF THAT RESULT (never a second fact scan), broadcast back
    as a cross-multiplied integer comparison
    ``rev_c * n_parts * 10 > total_c * 13`` (> 1.3x the mean share) —
    no double division crosses engines. Measured: keeps 12/167/1601 of
    200/2K/20K parts at sf0.001/0.01/0.1.

    Returns ``(l_partkey, revenue_c, share_ppm)``.
    """
    per_part = (
        lineitem.select("l_partkey", _revenue_c().alias("rev_c"))
        .groupBy("l_partkey")
        .agg(F.sum("rev_c").alias("revenue_c"))
    )
    tot = per_part.agg(
        F.sum("revenue_c").alias("total_c"), F.count("*").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(
            F.col("revenue_c") * F.col("n_parts") * Q11_DEN
            > F.col("total_c") * Q11_NUM
        )
        .select(
            "l_partkey",
            "revenue_c",
            F.expr("(revenue_c * CAST(1000000 AS BIGINT)) div total_c").alias(
                "share_ppm"
            ),
        )
    )


Q12_LATE_DAYS = 90


def q12_late_shipments(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Q12 shape (adapted): shipping-latency accounting per order
    priority — the fact-to-fact join + dual conditional aggregate
    pattern (canonical Q12 counts high/low-priority lines per ship
    mode; this corpus has no ship mode or commit/receipt dates, so the
    bucket is the priority itself and "late" is shipped > 90 days after
    the order date).

    One shuffle join on orderkey, then a single partial-aggregated
    groupBy with two conditional counts — the fact tables are each
    scanned once, and the lateness predicate is integer epoch-second
    arithmetic (identical on both engines).

    Returns ``(o_orderpriority, n_lines, n_late, n_late_highprio)``.
    """
    li = with_date_sec(lineitem, "l_shipdate").select(
        "l_orderkey", F.col("l_shipdate").alias("ship_sec")
    )
    o = with_date_sec(orders, "o_orderdate").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").alias("ord_sec")
    )
    late = F.col("ship_sec") - F.col("ord_sec") > Q12_LATE_DAYS * 86400
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(late, 1)).alias("n_late"),
            F.count(F.when(late & high, 1)).alias("n_late_highprio"),
        )
    )


MIGRATION_BINS = 4  # spend quartiles; 0 = inactive that half


def customer_migration(orders: DataFrame, bins: int = MIGRATION_BINS) -> DataFrame:
    """Customer segment MIGRATION matrix: spend-quartile in the first
    half of the order timeline vs the second half (0 = inactive that
    half) with customer counts per cell — the churn/upgrade flow
    behind every retention strategy deck, and the longitudinal
    companion to :func:`customer_rfm`'s single-period snapshot.

    The half boundary is the integer midpoint of the observed order-
    date range (both engines derive the same BIGINT from the same
    min/max aggregate — no wall-clock, no config). Quartiles are
    ``ntile`` over the per-(half, customer) spend aggregate with the
    deterministic (spend, custkey) tie-break — same discipline (and
    same |customers|-row window caveat) as ``customer_rfm``; the
    1e8+-customer path swaps ntile for histogram-CDF thresholds
    without touching the matrix shape. The transition join is
    customer-keyed FULL OUTER so churned and newly-activated
    customers land in the 0-row/0-column instead of vanishing.

    Returns ``(seg_h1, seg_h2, n_customers)``.
    """
    o = with_date_sec(orders, "o_orderdate").select(
        "o_custkey",
        F.col("o_orderdate").alias("ord_sec"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    bounds = o.agg(
        F.expr("(min(ord_sec) + max(ord_sec)) div 2").alias("mid_sec")
    )
    spend = (
        o.crossJoin(F.broadcast(bounds))
        .withColumn("half", F.when(F.col("ord_sec") <= F.col("mid_sec"), 1).otherwise(2))
        .groupBy("o_custkey", "half")
        .agg(F.sum("price_c").alias("spend_c"))
    )
    w = Window.partitionBy("half").orderBy("spend_c", "o_custkey")
    seg = spend.withColumn("seg", F.ntile(bins).over(w).cast("long"))
    h1 = seg.filter(F.col("half") == 1).select(
        "o_custkey", F.col("seg").alias("seg_h1")
    )
    h2 = seg.filter(F.col("half") == 2).select(
        "o_custkey", F.col("seg").alias("seg_h2")
    )
    return (
        h1.join(h2, "o_custkey", "full_outer")
        .select(
            F.coalesce("seg_h1", F.lit(0)).cast("long").alias("seg_h1"),
            F.coalesce("seg_h2", F.lit(0)).cast("long").alias("seg_h2"),
        )
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def supplier_scorecard(
    lineitem: DataFrame, orders: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Supplier operations scorecard: volume, integer-cent revenue,
    late-shipment rate and return rate per supplier — the vendor-review
    table procurement runs quarterly, and the classic one-pass
    multi-conditional-aggregate plan shape.

    One orderkey join attaches the order date (the only big-big
    shuffle), the supplier dim joins AQE-sized, and all four metrics
    come from ONE groupBy with conditional sums — the fact table is
    scanned once however many KPIs the scorecard grows. Rates are
    integer ppm; lateness reuses the Q12 definition (shipped > 90 days
    after order).

    Returns ``(s_suppkey, s_name, n_lines, revenue_c, late_ppm,
    return_ppm)``.
    """
    li = with_date_sec(lineitem, "l_shipdate").select(
        "l_orderkey",
        "l_suppkey",
        "l_returnflag",
        F.col("l_shipdate").alias("ship_sec"),
        _revenue_c().alias("rev_c"),
    )
    o = with_date_sec(orders, "o_orderdate").select(
        "o_orderkey", F.col("o_orderdate").alias("ord_sec")
    )
    late = F.col("ship_sec") - F.col("ord_sec") > Q12_LATE_DAYS * 86400
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("rev_c").alias("revenue_c"),
            F.sum(F.when(late, 1).otherwise(0)).alias("_n_late"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "_n_ret"
            ),
        )
    )
    return per_supp.join(
        aqe_sized(supplier.select("s_suppkey", "s_name")),
        per_supp.l_suppkey == supplier.s_suppkey,
    ).select(
        "s_suppkey",
        "s_name",
        "n_lines",
        "revenue_c",
        F.expr("(1000000 * _n_late) div n_lines").alias("late_ppm"),
        F.expr("(1000000 * _n_ret) div n_lines").alias("return_ppm"),
    )


BASKET_MIN_PAIR_ORDERS = 2  # noise floor: a pair seen once is not a signal


def market_basket(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Market-basket association mining at the brand level: for every
    unordered brand pair, the co-occurrence support and LIFT — "orders
    containing brand A are X times likelier to also contain brand B
    than chance" — the assortment/cross-sell report behind
    frequently-bought-together.

    Scalable shape: brands are a BOUNDED vocabulary, so the basket
    self-join fans out at most C(|brands in order|, 2) rows per order
    (never item²): lineitem joins the AQE-sized part dim, collapses to
    distinct (order, brand) — map-side combined — and the same-order
    self-join with ``brand_a < brand_b`` counts each pair once. All
    downstream aggregates are |brands|²-sized at any corpus scale.

    Integer metrics: ``support_ppm = 1e6·n_pair div n_orders`` and
    ``lift_milli = 1000·n_pair·n_orders div (n_a·n_b)`` (exact BIGINT;
    lift > 1000 means positively associated). Pairs below
    ``BASKET_MIN_PAIR_ORDERS`` are floored out. Returns ``(brand_a,
    brand_b, n_orders_pair, n_orders_a, n_orders_b, support_ppm,
    lift_milli)``.
    """
    ob = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            aqe_sized(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        # Persist (round 13): four plan branches read the distinct
        # (order, brand) frame (order count, per-brand counts, both
        # self-join sides); the lazy cache computes the lineitem⋈part
        # join + distinct once instead of per branch. Narrow rows
        # (key + bounded brand), released by the caller (see "Cache
        # lifetime" above).
        .persist()
    )
    n_orders = ob.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("n_orders")
    )
    per_brand = ob.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_brand_orders")
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("long").alias("n_orders_pair"))
        .filter(F.col("n_orders_pair") >= BASKET_MIN_PAIR_ORDERS)
    )
    pa = per_brand.select(
        F.col("p_brand").alias("brand_a"),
        F.col("n_brand_orders").alias("n_orders_a"),
    )
    pb = per_brand.select(
        F.col("p_brand").alias("brand_b"),
        F.col("n_brand_orders").alias("n_orders_b"),
    )
    return (
        pairs.join(F.broadcast(pa), "brand_a")
        .join(F.broadcast(pb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_orders_pair",
            "n_orders_a",
            "n_orders_b",
            F.expr("(1000000 * n_orders_pair) div n_orders").alias(
                "support_ppm"
            ),
            F.expr(
                "(1000 * n_orders_pair * n_orders)"
                " div (n_orders_a * n_orders_b)"
            ).alias("lift_milli"),
        )
    )


DELAY_PCTS_MILLI = (500, 900, 990)  # p50 / p90 / p99


def ship_delay_percentiles(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """EXACT order-to-ship latency percentiles (p50/p90/p99) per order
    priority — the SLA report, computed by the only percentile shape
    that survives 100 TB: a (priority x delay-days) HISTOGRAM with a
    cumulative window over the tiny aggregate, never a per-row sort or
    a single-partition window over the fact table. The domain is
    bounded (a few hundred distinct day values), so the shuffled state
    is |priorities|·|days| rows regardless of corpus size, yet the
    answer is percentile_disc-exact, not an approx-sketch estimate.

    percentile_disc semantics: smallest delay whose cumulative count
    reaches q·n — with integer cum, ``cum·1000 >= q_milli·total`` is
    the exact ceil test. Negative deltas (data-quality noise) keep
    truncating division mirrored on both engines.

    Returns ``(o_orderpriority, n_lines, p50_days, p90_days,
    p99_days, max_days)``.
    """
    li = with_date_sec(lineitem, "l_shipdate").select(
        "l_orderkey", F.col("l_shipdate").alias("ship_sec")
    )
    o = with_date_sec(orders, "o_orderdate").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").alias("ord_sec")
    )
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "o_orderpriority",
            F.expr("(ship_sec - ord_sec) div 86400").alias("delay_days"),
        )
    )
    hist = d.groupBy("o_orderpriority", "delay_days").agg(
        F.count("*").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("delay_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cdf = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(w_all)
    )
    pct_cols = [
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.lit(q) * F.col("total"),
                F.col("delay_days"),
            )
        ).alias(f"p{q // 10}_days")
        for q in DELAY_PCTS_MILLI
    ]
    return cdf.groupBy("o_orderpriority").agg(
        F.max("total").cast("long").alias("n_lines"),
        *pct_cols,
        F.max("delay_days").alias("max_days"),
    )


Q16_SIZES = (1, 14, 23, 45)
Q16_EXCLUDED_TYPE_PREFIX = "ECONOMY"


def q16_supplier_part_counts(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Q16 shape (adapted): distinct supplier counts per part attribute
    group, excluding a supplier blacklist — COUNT DISTINCT over a
    NOT-IN anti-join (canonical Q16's complaint suppliers become
    negative-balance suppliers; partsupp becomes the observed lineitem
    supplier-part pairs).

    The part filter prunes the (AQE-sized) dim side before the join;
    the blacklist collapses to an AQE-sized LEFT ANTI (NULL-safe by
    construction: keys are non-null bigints). count(DISTINCT) runs on
    (brand, size)-partitioned data after the joins — one expand, no
    second fact scan.

    Returns ``(p_brand, p_size, supplier_cnt)``.
    """
    p = part.filter(
        F.col("p_size").isin(*Q16_SIZES)
        & ~F.col("p_type").startswith(Q16_EXCLUDED_TYPE_PREFIX)
    ).select("p_partkey", "p_brand", F.col("p_size").cast("long").alias("p_size"))
    excl = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(aqe_sized(p), F.col("l_partkey") == p.p_partkey)
        .join(
            aqe_sized(excl), F.col("l_suppkey") == excl.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


Q20_NAME_FRAGMENT = "widget"
Q20_LO = sec("1996-01-01")
Q20_QTY_C = 8000  # > 80 units of one widget part since 1996


def q20_excess_shippers(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Q20 shape (adapted): suppliers who moved excess volume of a
    part family — the nested-semi-join-chain pattern (part name filter
    -> quantity aggregate HAVING -> DISTINCT supplier -> dim join).

    The part-name filter joins AQE-sized into the fact scan; the per
    (supplier, part) quantity aggregate is the only shuffle; the HAVING
    cut and DISTINCT collapse it to a handful of supplier keys that
    join the supplier/nation dims. Threshold measured to
    discriminate: 10/58/87 suppliers qualify of 10/100/1000 at
    sf0.001/0.01/0.1.

    Returns ``(s_suppkey, s_name, n_name)``.
    """
    wparts = part.filter(
        F.col("p_name").contains(Q20_NAME_FRAGMENT)
    ).select("p_partkey")
    li = date_bounds(lineitem, "l_shipdate", lo_sec=Q20_LO)
    heavy = (
        li.join(aqe_sized(wparts), li.l_partkey == wparts.p_partkey)
        .select("l_suppkey", "l_partkey", cents(F.col("l_quantity")).alias("q_c"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("q_c").alias("qty_c"))
        .filter(F.col("qty_c") > Q20_QTY_C)
        .select("l_suppkey")
        .distinct()
    )
    return (
        heavy.join(supplier, heavy.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


def q21_waiting_suppliers(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Q21 shape (adapted): the supplier who kept each multi-supplier
    order waiting — the exists/not-exists self-join pattern, expressed
    as one two-level aggregate + window (same semantics: there EXISTS
    another supplier on the order, and NOT EXISTS one who shipped
    later or tied).

    Level 1 collapses lineitem to (order, supplier, last_ship) —
    shuffle ∝ distinct pairs. One window over the order key then marks
    the strict-max supplier of each >= 2-supplier order; the blame
    count per supplier is a final tiny aggregate. The fact table never
    self-joins row-to-row: the window form carries one row per (order,
    supplier), which is why it survives 100 TB where the textbook
    correlated EXISTS would re-scan lineitem twice.

    Returns ``(s_suppkey, s_name, n_waiting_orders)``.
    """
    per = (
        with_date_sec(lineitem, "l_shipdate")
        .select("l_orderkey", "l_suppkey", F.col("l_shipdate").alias("ship_sec"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("ship_sec").alias("last_sec"))
    )
    w = Window.partitionBy("l_orderkey")
    marked = (
        per.withColumn("o_max", F.max("last_sec").over(w))
        .withColumn("n_supps", F.count("*").over(w))
        .withColumn(
            "n_at_max",
            F.count(F.when(F.col("last_sec") == F.col("o_max"), 1)).over(w),
        )
    )
    blamed = (
        marked.filter(
            (F.col("n_supps") >= 2)
            & (F.col("last_sec") == F.col("o_max"))
            & (F.col("n_at_max") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_waiting_orders"))
    )
    return (
        blamed.join(
            aqe_sized(supplier.select("s_suppkey", "s_name")),
            blamed.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_waiting_orders")
    )


BLOOM_BITS = 65536  # 8 KB bitmap; ~22 bits/key at sf0.01
BLOOM_K = 3


def _bloom_positions(key: F.Column, k: int = BLOOM_K, m: int = BLOOM_BITS) -> F.Column:
    """k bit positions for a BIGINT key — md5-mixed (independent salted
    digests), cross-engine exact. Returns array<long> of length k."""
    pos = []
    for i in range(k):
        digest = F.md5(F.concat(F.lit(f"bl{i}:"), key.cast("string")))
        pos.append(
            (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % m).alias(
                f"p{i}"
            )
        )
    return F.array(*pos)


def bloom_prejoin_audit(
    lineitem: DataFrame, orders: DataFrame, k: int = BLOOM_K, m: int = BLOOM_BITS
) -> DataFrame:
    """First-class Bloom pre-join with exact false-positive accounting —
    the row-reduction audit for the 100 TB shuffle-join pattern (build a
    bloom over the selective side's join keys, probe the fact side
    BEFORE shuffling; Spark's own injected runtime filter does this
    opaquely — `test_runtime_bloom_filter_injects_on_bare_scans` — this
    operator makes the mechanism measurable and oracle-checkable).

    Creation side: urgent-priority orders' keys -> k md5-salted bit
    positions each; the DISTINCT set bits are the filter (broadcast —
    at most ``m`` rows). Probe side: a fact row passes iff ALL k of its
    positions are set, computed as a broadcast join on the bit position
    + a per-row match count == k. Exact truth via a second (AQE-sized)
    join on the real key. Everything is integer/md5 arithmetic, so
    the pass/fail of every row — and therefore the FP count — is
    bit-identical on both engines.

    Returns one row ``(n_fact_rows, n_keys, n_bits_set, n_pass_bloom,
    n_true_match, n_false_positive)`` — the numbers that justify (or
    veto) enabling the pre-filter for a given key distribution.
    """
    # Persists (round 13): keys feeds the bit build, the truth join and
    # the scalar count (3 branches); bits feeds the probe join and the
    # scalar count; fact_keys feeds the probes and the row total. Un-
    # persisted, every branch re-ran its filter/distinct/groupBy
    # pipeline. All three frames are the audit's own bounded state
    # (distinct keys / ≤m bits); released by the caller (see "Cache
    # lifetime" above).
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .persist()
    )
    bits = (
        keys.select(F.explode(_bloom_positions(F.col("key"), k, m)).alias("bit"))
        .distinct()
        .persist()
    )
    # Probe DISTINCT fact keys (a key's bloom outcome is a pure
    # function of the key), carrying each key's row multiplicity —
    # probe work ∝ distinct keys, row counts recovered by weighting.
    fact_keys = (
        lineitem.groupBy(F.col("l_orderkey").alias("fkey"))
        .agg(F.count("*").alias("n_rows"))
        .persist()
    )
    probes = fact_keys.select(
        "fkey",
        "n_rows",
        F.explode(_bloom_positions(F.col("fkey"), k, m)).alias("bit"),
    )
    passed = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("fkey", "n_rows")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == k)
    )
    truth = passed.join(
        aqe_sized(keys), passed.fkey == keys.key, "left"
    ).select("n_rows", F.col("key").isNotNull().alias("is_match"))
    totals = fact_keys.agg(
        F.sum("n_rows").alias("n_fact_rows_t"),
    )
    scalars = keys.agg(F.count("*").alias("n_keys_t")).crossJoin(
        F.broadcast(bits.agg(F.count("*").alias("n_bits_t")))
    )
    return (
        truth.agg(
            F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_pass_bloom"),
            F.coalesce(F.sum(F.when(F.col("is_match"), F.col("n_rows"))), F.lit(0))
            .cast("long")
            .alias("n_true_match"),
            F.coalesce(F.sum(F.when(~F.col("is_match"), F.col("n_rows"))), F.lit(0))
            .cast("long")
            .alias("n_false_positive"),
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col("n_fact_rows_t").cast("long").alias("n_fact_rows"),
            F.col("n_keys_t").cast("long").alias("n_keys"),
            F.col("n_bits_t").cast("long").alias("n_bits_set"),
            "n_pass_bloom",
            "n_true_match",
            "n_false_positive",
        )
    )


# ---------------------------------------------------------------------------
# Lakehouse MERGE (upsert / delete / insert) — shuffle-free at 100 TB
# ---------------------------------------------------------------------------

MERGE_UPDATE_MOD = 3  # o_orderkey % 10 == 3 → price bumped by $1.00
MERGE_DELETE_MOD = 7  # o_orderkey % 10 == 7 → row removed
MERGE_INSERT_MOD = 1  # o_orderkey % 10 == 1 → cloned insert at key+offset
MERGE_INSERT_OFFSET = 1_000_000_000


def merge_upsert_summary(orders: DataFrame) -> DataFrame:
    """MERGE INTO snapshot USING changes — the lakehouse upsert, planned
    so NO stage shuffles the big side (the pattern Delta/Iceberg MERGE
    compiles to, made explicit):

    - WHEN MATCHED ``op='U'`` THEN UPDATE (totalprice += $1.00), and
      WHEN MATCHED ``op='D'`` THEN DELETE: one map-side pass over the
      snapshot with the change set **broadcast** into a left join — no
      snapshot shuffle.
    - WHEN NOT MATCHED THEN INSERT: the naive ``changes ANTI JOIN
      snapshot`` would shuffle the snapshot; instead the matched-key
      set is first reduced via ``snapshot SEMI broadcast(changes)``
      (map-side, output ≤ |changes|), and the inserts anti-join that
      **small broadcast** set. Net: two broadcasts, zero wide
      exchanges before the final 3-row aggregate.

    The broadcast hints here are deliberate and survive the round-7
    de-hint: unlike the warehouse dims, the change set is bounded by
    the INGEST BATCH (the MERGE contract — a micro-batch of upserts
    against a 100 TB snapshot), not by the snapshot's scale factor. A
    caller merging a snapshot-sized batch should repartition-join
    instead — that is a full rewrite, not a MERGE.

    The change set is derived deterministically from the snapshot
    itself (keys mod 10: 3→update, 7→delete, 1→insert clone at
    key+1e9), so both engines construct the identical batch. Money is
    integer cents end-to-end. Returns the post-merge per-status summary
    ``(o_orderstatus, n_orders, sum_totalprice_c)``.
    """
    snap = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    upd_keys = snap.filter(F.col("key") % 10 == MERGE_UPDATE_MOD).select("key")
    del_keys = snap.filter(F.col("key") % 10 == MERGE_DELETE_MOD).select("key")
    inserts = snap.filter(F.col("key") % 10 == MERGE_INSERT_MOD).select(
        (F.col("key") + MERGE_INSERT_OFFSET).alias("key"), "status", "price_c"
    )

    # WHEN MATCHED: one broadcast left join carries both the update
    # flag and the delete flag (flag columns, not two joins).
    # broadcast is safe: |changes| is ingest-batch-bounded by contract.
    flags = upd_keys.withColumn("is_upd", F.lit(True)).unionByName(
        del_keys.withColumn("is_upd", F.lit(False))
    )
    kept = (
        snap.join(F.broadcast(flags), "key", "left")
        .filter(F.col("is_upd").isNull() | F.col("is_upd"))
        .select(
            "key",
            "status",
            F.when(F.col("is_upd"), F.col("price_c") + 100)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
        )
    )

    # WHEN NOT MATCHED: matched-key reduction (map-side semi) then a
    # broadcast anti — the snapshot is never shuffled.
    matched = snap.join(
        F.broadcast(inserts.select("key")), "key", "semi"
    ).select("key")
    new_rows = inserts.join(F.broadcast(matched), "key", "anti")

    return (
        kept.unionByName(new_rows)
        .groupBy(F.col("status").alias("o_orderstatus"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_c").cast("long").alias("sum_totalprice_c"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout audit — multi-dimensional clustering quality
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # bits per dimension → 16-bit z-value, 256 buckets


def zorder_expr(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave SQL for the Morton code of two non-negative ints
    (x's bit i → z bit 2i, y's bit i → z bit 2i+1). Plain ``>> & <<
    |`` integer ops, so the SAME string evaluates identically in Spark
    SQL and DuckDB — the oracle embeds this exact expression."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_layout_audit(lineitem: DataFrame, bits: int = ZORDER_BITS) -> DataFrame:
    """The measurement that justifies Z-ORDER BY (partkey, suppkey) as
    the lake's file layout: map each row to the Morton code of
    ``(l_partkey mod 2^bits, l_suppkey mod 2^bits)``, cut z-space into
    2^bits contiguous buckets (the files a Z-ordered writer would
    produce), and report each bucket's row count and per-dimension
    bounding box. Z-ordering guarantees every bucket is a
    2^(bits/2) × 2^(bits/2) tile — both dims stay bounded, so
    min/max file stats prune on EITHER predicate column; a
    linear (sort-by-one-key) layout bounds only the leading key.

    Scale shape: pure narrow bit math + one 2^bits-key aggregate; no
    global sort (fixed z-range buckets, not NTILE), no window. Returns
    ``(z_bucket, n_rows, min_x, max_x, min_y, max_y, bbox_area)``.
    """
    side = 1 << bits
    x = f"(l_partkey % {side})"
    y = f"(l_suppkey % {side})"
    z = zorder_expr(x, y, bits)
    return (
        lineitem.select(
            F.expr(f"({z}) >> {bits}").alias("z_bucket"),
            F.expr(x).alias("xx"),
            F.expr(y).alias("yy"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xx").alias("min_x"),
            F.max("xx").alias("max_x"),
            F.min("yy").alias("min_y"),
            F.max("yy").alias("max_y"),
        )
        .select(
            "z_bucket",
            "n_rows",
            "min_x",
            "max_x",
            "min_y",
            "max_y",
            (
                (F.col("max_x") - F.col("min_x") + 1)
                * (F.col("max_y") - F.col("min_y") + 1)
            ).alias("bbox_area"),
        )
    )


# ---------------------------------------------------------------------------
# Join cardinality / skew audit — exact pre-join planning numbers
# ---------------------------------------------------------------------------

JOIN_AUDIT_BROADCAST_ROWS = 1_000_000   # dim under this → broadcast
JOIN_AUDIT_SKEW_PPM = 200_000           # >20% of fact rows on one key → salt


def join_size_audit(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    broadcast_rows: int = JOIN_AUDIT_BROADCAST_ROWS,
    skew_ppm: int = JOIN_AUDIT_SKEW_PPM,
) -> DataFrame:
    """EXACT join-planning numbers for ``fact ⨝ dim`` computed WITHOUT
    materializing the join: per-key counts on each side are joined
    (shuffle ∝ distinct keys, never rows) and ``Σ_k cf(k)·cd(k)`` is
    the exact output cardinality the textbook estimator only
    approximates. Alongside: row counts, distinct-key counts, the
    fact's max single-key multiplicity and its share (the skew signal
    AQE's skew-join split keys on), and the strategy a planner should
    pick — ``broadcast`` when the dim is small, ``shuffle+salt`` when
    one fact key exceeds the skew threshold, else ``shuffle``.

    This is the measurement to run BEFORE committing a 100 TB join:
    a join whose exact output explodes (many-to-many key) or whose top
    key holds 30% of the fact is a re-design, not a retry.

    Returns one row ``(fact_rows, dim_rows, n_fact_keys, n_dim_keys,
    max_fact_key_rows, fact_skew_ppm, join_rows, strategy)``.
    """
    # Persists (round 13): fc feeds the fact stats AND the join-size
    # estimate; dc feeds the dim stats and the estimate — without the
    # cache each branch re-ran its full-table groupBy. Released by the
    # caller (see "Cache lifetime" above).
    fc = fact.groupBy(F.col(fact_key).alias("k")).agg(
        F.count("*").alias("cf")
    ).persist()
    dc = dim.groupBy(F.col(dim_key).alias("k")).agg(
        F.count("*").alias("cd")
    ).persist()
    fstats = fc.agg(
        F.sum("cf").cast("long").alias("fact_rows"),
        F.count("*").cast("long").alias("n_fact_keys"),
        F.max("cf").cast("long").alias("max_fact_key_rows"),
    )
    dstats = dc.agg(
        F.sum("cd").cast("long").alias("dim_rows"),
        F.count("*").cast("long").alias("n_dim_keys"),
    )
    jrows = (
        fc.join(dc, "k")
        .agg(F.coalesce(F.sum(F.col("cf") * F.col("cd")), F.lit(0))
             .cast("long").alias("join_rows"))
    )
    return (
        fstats.crossJoin(F.broadcast(dstats))
        .crossJoin(F.broadcast(jrows))
        .select(
            "fact_rows",
            "dim_rows",
            "n_fact_keys",
            "n_dim_keys",
            "max_fact_key_rows",
            F.expr(
                "(max_fact_key_rows * CAST(1000000 AS BIGINT)) div fact_rows"
            ).alias("fact_skew_ppm"),
            "join_rows",
            F.expr(
                f"CASE WHEN dim_rows < {broadcast_rows} THEN 'broadcast' "
                f"WHEN (max_fact_key_rows * CAST(1000000 AS BIGINT)) "
                f"div fact_rows > {skew_ppm} THEN 'shuffle+salt' "
                f"ELSE 'shuffle' END"
            ).alias("strategy"),
        )
    )
