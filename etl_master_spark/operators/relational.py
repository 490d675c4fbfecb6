"""General relational coverage — joins, aggregations, windows, as-of.

SURVEY.md §2.8: the reference has no joins/grouping-sets/sorts *as such*,
but E1–R7 are all spelled with them in Spark; these queries exercise the
same primitives on the TPC-H-ish star schema so the engine's relational
surface is independently oracle-checked (and benchmarked at sf0.1).

Scale notes are per-query; the common themes:
- dimension sides (region/nation/part/supplier at TPC-H ratios) broadcast;
- aggregations rely on map-side partial agg (sums/counts);
- windows partition by high-cardinality keys (custkey), so parallelism
  survives a 1000-executor scale-up;
- every filter is a deterministic pushdown-friendly predicate (shows up in
  parquet PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import phash_frag
from ..sources.io import load_table, shuffle_partitions, ts_s, ts_us


# -- TPC-H Q1 flavor: pricing summary ---------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy grouped aggregation (TPC-H Q1 shape). One shuffle over a
    4-value grouping key; everything before it is map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# -- TPC-H Q3 flavor: shipping priority -------------------------------------

CENTS = "decimal(15,2)"  # exact money: TPC-H prices and discounts are cents


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way join + agg + deterministic top-10. customer filter prunes
    before the join; join order lets AQE pick broadcast for the filtered
    customer side. Revenue sums in exact DECIMAL (prices and discounts are
    cents), so a half-cent total rounds the same in every engine; it comes
    back as a double."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    revenue = F.col("l_extendedprice").cast(CENTS) * (
        F.lit(1) - F.col("l_discount").cast(CENTS)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SHIPPING_PRIORITY_ORACLE = """
SELECT l_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o_orderpriority,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# -- TPC-H Q5 flavor: local supplier volume ----------------------------------

def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way star join; all dimensions broadcast (region→nation→customer/
    supplier fan-out), one shuffle for the final group-by."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


LOCAL_SUPPLIER_VOLUME_ORACLE = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# -- windowed ranking: top orders per customer -------------------------------

def top_orders_per_customer(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Per-customer top-k orders by total price (row_number window — the
    same primitive as R1, on the star schema). Partition key = custkey:
    high cardinality, scales."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def top_orders_oracle(k: int = 3) -> str:
    return f"""
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS INT) AS rnk
    FROM orders
) WHERE rnk <= {k}
"""


# -- as-of join: latest event state at order time ----------------------------

def asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: for each order, the latest event of the
    matching user strictly before the order date. The reference lacks this
    operator; it is a first-class citizen of event-stream analytics, so the
    engine ships it (SURVEY.md §2.8 extension).

    Spark spelling: union-then-window (the scalable as-of pattern — one
    shuffle on the key, one ordered window, no range cross-join):
    tag both sides, sort by (key, time), carry the last event forward with
    a running ``last(..., ignorenulls)`` window, keep the order rows.
    Users are events.user_id; orders map via o_custkey % 100 (the driver's
    synthetic tables don't share a key domain, so we fold custkey onto the
    event user space deterministically).
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id")).alias("k"),
        F.col("ts").alias("t"),
        F.col("event_type").alias("ev_type"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(0).alias("is_order"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("string").alias("ev_type"),
        F.col("o_orderkey"),
        F.lit(1).alias("is_order"),
    )
    # is_order ASC in the sort ⇒ at equal timestamps the event sorts first,
    # so "strictly before" semantics hold via the preceding-rows frame
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_order").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.unionByName(orders)
        .withColumn("last_event_type", F.last("ev_type", ignorenulls=True).over(w))
        .filter(F.col("is_order") == 1)
        .select(
            "o_orderkey",
            F.col("k").alias("user_id"),
            F.coalesce("last_event_type", F.lit("none")).alias("last_event_type"),
        )
    )


ASOF_LATEST_EVENT_ORACLE = """
WITH tagged AS (
    SELECT user_id AS k, ts AS t, event_type AS ev_type,
           CAST(NULL AS BIGINT) AS o_orderkey, 0 AS is_order
    FROM events
    UNION ALL
    SELECT o_custkey % 100 AS k, o_orderdate AS t, CAST(NULL AS VARCHAR) AS ev_type,
           o_orderkey, 1 AS is_order
    FROM orders
),
filled AS (
    SELECT k, o_orderkey, is_order,
           LAST_VALUE(ev_type IGNORE NULLS) OVER (
               PARTITION BY k
               ORDER BY t ASC, is_order ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_event_type
    FROM tagged
)
SELECT o_orderkey, k AS user_id,
       COALESCE(last_event_type, 'none') AS last_event_type
FROM filled WHERE is_order = 1
"""


# -- range join ---------------------------------------------------------------

def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (the non-equi companion of the as-of join): for every
    purchase event, count the same user's click events in the preceding
    hour — the classic attribution-window query.

    Plan shape: equi key (user_id) carries the shuffle; the range predicate
    evaluates inside the joined partitions, so cost is per-user pair work,
    not a cross join. At 100 TB add a coarse time-bucket equi key
    (date_trunc to the window size) to bound per-pair scans."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.c_ts < purchases.p_ts)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy("purchase_id")
        .agg(F.count("c_ts").alias("clicks_prev_hour"))
        .orderBy("purchase_id")
    )


PURCHASE_CLICK_ATTRIBUTION_ORACLE = """
SELECT p.event_id AS purchase_id,
       COUNT(c.ts) AS clicks_prev_hour
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts < p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY purchase_id
"""


# -- ranking-function battery -------------------------------------------------

def order_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full window ranking-function surface in one pass: dense_rank,
    percent_rank, cume_dist, ntile(4) over order price within priority
    class. All four share ONE window spec, so Catalyst plans a single
    sort+window operator — adding rank flavors is free once the partition
    is paid for. o_orderkey tie-break keeps every function deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.dense_rank().over(w).cast("int").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


ORDER_RANK_FUNCTIONS_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       CAST(DENSE_RANK() OVER w AS INT) AS drank,
       ROUND(PERCENT_RANK() OVER w, 6) AS prank,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       CAST(NTILE(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (
    PARTITION BY o_orderpriority
    ORDER BY o_totalprice DESC, o_orderkey ASC
)
"""


# -- semi / anti joins --------------------------------------------------------

def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (the 'NOT EXISTS' spelling): customers with no
    URGENT-priority order, counted per nation. Anti-joins are also the
    engine's train-set purge primitive (E4); this exercises the standalone
    surface. The orders side filters + projects ONLY the join key before
    the join — at scale the anti-join's build side is a distinct-key set,
    not the fact table.

    Aggregates are rounded SUMs, not AVGs: the money columns carry exactly
    2 decimals, so a sum is exactly representable at 2 dp (FP error ≪ the
    rounding step), while an average routinely lands ON a half-cent
    boundary where engine summation order decides the rounded digit."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("c_nationkey")
    )


CUSTOMERS_WITHOUT_URGENT_ORDERS_ORACLE = """
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def parts_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (the 'EXISTS' spelling): parts that appear in at
    least one lineitem, profiled per brand. Semi-join instead of
    join+distinct: no fact-side duplication ever reaches the aggregate.
    Rounded SUM, not AVG — see ``customers_without_urgent_orders``."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


PARTS_WITH_SHIPMENTS_ORACLE = """
SELECT p_brand,
       COUNT(*) AS n_parts,
       ROUND(SUM(p_retailprice), 2) AS sum_price
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
ORDER BY p_brand
"""


# -- correlated scalar subquery, decorrelated ---------------------------------

def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: revenue from lineitems whose quantity is below
    0.2× that part's own average quantity, profiled per brand. The oracle
    spells this as a correlated scalar subquery; the engine spells the
    decorrelation directly — one partial aggregate (l_partkey → threshold)
    joined back onto the fact scan, so lineitem is scanned once and the
    "subquery" costs a co-partitioned join, never a per-row rescan.

    Scale: the thresholds side is |parts| rows (fact/30 at TPC-H ratios) —
    small enough to broadcast for a while but NOT at 100 TB, so no
    broadcast hint: AQE picks broadcast while it fits (it does at test
    scale) and falls back to a sort-merge join co-partitioned on
    l_partkey — which then reuses the aggregate's own shuffle — once it
    doesn't. part (brand lookup) is a true dimension and is always
    broadcast. Quantities are integral doubles, so per-part sums are
    exact integers in both engines and the 0.2× threshold is
    order-insensitive.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("p_brand")
    )


SMALL_QUANTITY_PART_REVENUE_ORACLE = """
SELECT p_brand,
       COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
)
GROUP BY p_brand
ORDER BY p_brand
"""


# -- window offset functions (lag / lead / first_value) ----------------------

def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window OFFSET surface in one pass: per-user inter-event gap (lag),
    next event type (lead), and the user's first event type (first_value),
    plus a session-start flag at a 30-minute gap threshold.

    All four share ONE (user_id, ts) window spec ⇒ a single sort+window
    operator. Gap math stays in INTEGER microseconds (``ts_us`` /
    ``epoch_us``) — timestamps here are microsecond-grained, and float
    epoch seconds would round differently across engines. (ts, event_id)
    tie-break keeps every offset deterministic under concurrent events.
    Scale: partitioned by user_id (high-cardinality), no global sort; a
    hot user costs one task's sort of its own rows (see
    tests/test_skew.py).
    """
    return event_gaps_of(load_table(spark, sf_dir, "events"))


def event_gaps_of(ev: DataFrame) -> DataFrame:
    """Core of ``event_gaps`` over any (user_id, event_id, ts, event_type)
    frame — split out so tests can plant skewed inputs."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = ts_us("ts") - ts_us(F.lag("ts").over(w))
    return ev.select(
        "event_id",
        "user_id",
        gap_us.alias("gap_us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
        F.when(F.lag("ts").over(w).isNull(), F.lit(True))
        .otherwise(gap_us > F.lit(1_800_000_000))
        .alias("session_start"),
    )


OFFSET_BUCKET_HOURS = 72  # same sizing rule as streaming.windows' sessionizer


def event_gaps_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-path twin of ``event_gaps`` (same DuckDB oracle hash-checks
    both): the naive per-user window is one task's sort of a hot user's
    whole history (measured, 30%-bot ×100 replica: 2.6 s uniform →
    8.0 s zipf — AQE cannot split a window partition). Two-level fix,
    the offsets-shape sibling of ``user_sessions_bucketed``:

    1. lag/lead WITHIN (user, time-bucket) windows — the bot user's
       rows spread over range/bucket tasks;
    2. per-(user, bucket) boundary summary (first/last row's ts + type),
       then per-USER lag/lead over the time-ordered summaries (≤
       range/bucket rows per user — skew-free by construction) gives
       each bucket its predecessor's last row and successor's first row,
       plus the user's global first event type;
    3. join the boundary fixups back on (user, bucket) — the key
       includes the bucket, so the hot user's rows still spread — and
       coalesce: only each bucket's FIRST row has a NULL within-bucket
       lag (ties can't straddle buckets: equal ts ⇒ equal bucket), so
       coalesce(lag, prev_bucket_last) is exact; likewise lead/next.

    Switchover contract: prefer the naive single-window spelling until
    one user's history approaches a partition's volume — the boundary
    join + summary window cost ~1.5× at uniform skew (×100 measured:
    2.8 s naive / 4.2 s bucketed) and win 1.6× in the bot regime
    (7.8 s naive / 4.8 s bucketed on the 30%-bot replica)."""
    return event_gaps_bucketed_of(load_table(spark, sf_dir, "events"))


def event_gaps_bucketed_of(
    ev: DataFrame, bucket_hours: int = OFFSET_BUCKET_HOURS
) -> DataFrame:
    """Core of ``event_gaps_bucketed`` over any (user_id, event_id, ts,
    event_type) frame — split out for planted-skew parity tests."""
    bucket = F.floor(ts_s("ts") / F.lit(bucket_hours * 3600))
    w = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    rows = (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn("bucket", bucket)
        .withColumn("lag_ts", F.lag("ts").over(w))
        .withColumn("lag_type", F.lag("event_type").over(w))
        .withColumn("lead_ts", F.lead("ts").over(w))
        .withColumn("lead_type", F.lead("event_type").over(w))
    )
    edge = F.struct("ts", "event_id", "event_type")
    bounds = rows.groupBy("user_id", "bucket").agg(
        F.min(edge).alias("first"), F.max(edge).alias("last")
    )
    w_user = Window.partitionBy("user_id").orderBy("bucket")
    fixups = bounds.select(
        "user_id",
        "bucket",
        F.lag(F.col("last.ts")).over(w_user).alias("prev_ts"),
        F.lag(F.col("last.event_type")).over(w_user).alias("prev_type_x"),
        F.lead(F.col("first.event_type")).over(w_user).alias("next_type_x"),
        F.first(F.col("first.event_type")).over(w_user).alias("first_type"),
    )
    j = rows.join(fixups, ["user_id", "bucket"])
    # bucket-first/-last rows are exactly those with NULL within-bucket
    # lag_ts/lead_ts (ts is non-null, so the indicator is unambiguous);
    # keying the fixup on the INDICATOR — not coalescing the value —
    # keeps a genuinely-NULL mid-bucket event_type NULL, as the naive
    # window would
    is_first = F.col("lag_ts").isNull()
    is_last = F.col("lead_ts").isNull()
    prev_ts = F.when(is_first, F.col("prev_ts")).otherwise(F.col("lag_ts"))
    gap_us = ts_us("ts") - ts_us(prev_ts)
    return j.select(
        "event_id",
        "user_id",
        gap_us.alias("gap_us"),
        F.when(is_first, F.col("prev_type_x"))
        .otherwise(F.col("lag_type"))
        .alias("prev_type"),
        F.when(is_last, F.col("next_type_x"))
        .otherwise(F.col("lead_type"))
        .alias("next_type"),
        F.col("first_type"),
        F.when(prev_ts.isNull(), F.lit(True))
        .otherwise(gap_us > F.lit(1_800_000_000))
        .alias("session_start"),
    )


def event_gaps_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-switchover face of the offset twins: the same skew probe as
    ``user_sessions_routed`` (max per-user row share vs half a shuffle
    partition's volume) picks ``event_gaps`` on uniform inputs and the
    two-level ``event_gaps_bucketed`` in the hot-user regime. Identical
    output either way (one oracle hash-checks both plans); the routing
    decision is logged, not silent. The probe memoizes per (table, key):
    within a session this face and ``user_sessions_routed`` pay ONE
    probe scan between them, not one each. The memo key carries the
    table's footer-metadata fingerprint (files + bytes) so a rewritten
    table re-probes, and the footer row count switches the probe to the
    O(sample) estimator above SAMPLED_PROBE_MIN_ROWS — large inputs
    never pay a full groupBy pre-pass (r9 verdict items 4/6)."""
    from ..sources.io import table_meta

    n_rows, n_files, n_bytes = table_meta(sf_dir, "events")
    return event_gaps_routed_of(
        load_table(spark, sf_dir, "events"),
        cache_key=(sf_dir, "events", "user_id", n_files, n_bytes),
        approx_rows=n_rows,
    )


def event_gaps_routed_of(
    ev: DataFrame,
    bucket_hours: int = OFFSET_BUCKET_HOURS,
    share: float | None = None,
    cache_key: tuple | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """Core of ``event_gaps_routed`` — split out for planted-skew
    routing tests. ``share`` lets a caller with table statistics skip
    the probe scan entirely; a wrong share can flip the plan, never
    the result (the twins share one oracle)."""
    from ..functions.skew import skew_route

    route = skew_route(
        ev, "user_id", "event_gaps", share, cache_key, approx_rows
    )
    if route == "bucketed":
        return event_gaps_bucketed_of(ev, bucket_hours)
    return event_gaps_of(ev)


EVENT_GAPS_ORACLE = """
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us,
       LAG(event_type) OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       FIRST_VALUE(event_type) OVER w AS first_type,
       CASE WHEN LAG(ts) OVER w IS NULL THEN TRUE
            ELSE epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
       END AS session_start
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


# -- full outer join ----------------------------------------------------------

def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation debtor-customer balance vs supplier
    balance. Aggregate-then-join keeps the outer join at nation
    cardinality (25 rows) instead of outer-joining fact tables; at small
    scale factors whole nations genuinely lack suppliers or debtors, so
    both null-fill paths execute. COALESCE across the two key columns
    reassembles the unified key, and counts fill to 0 — outputs are
    join-key-safe downstream."""
    debtors = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("cn"))
        .agg(
            F.count(F.lit(1)).alias("n_debtors"),
            F.round(F.sum("c_acctbal"), 2).alias("debtor_bal"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sn"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("supplier_bal"),
        )
    )
    return (
        debtors.join(supp, debtors.cn == supp.sn, "full_outer")
        .select(
            F.coalesce("cn", "sn").alias("nationkey"),
            F.coalesce("n_debtors", F.lit(0)).alias("n_debtors"),
            "debtor_bal",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            "supplier_bal",
        )
        .orderBy("nationkey")
    )


NATION_TRADE_BALANCE_ORACLE = """
WITH debtors AS (
    SELECT c_nationkey AS cn, COUNT(*) AS n_debtors,
           ROUND(SUM(c_acctbal), 2) AS debtor_bal
    FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey
),
supp AS (
    SELECT s_nationkey AS sn, COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS supplier_bal
    FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(cn, sn) AS nationkey,
       COALESCE(n_debtors, 0) AS n_debtors,
       debtor_bal,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       supplier_bal
FROM debtors FULL OUTER JOIN supp ON cn = sn
ORDER BY nationkey
"""


# -- pivot --------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts, one column per event type. Spark's
    ``pivot`` with an EXPLICIT value list — never the value-discovery form,
    which runs a distinct scan first and breaks plan determinism."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


USER_EVENT_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# -- TPC-H Q7 flavor: cross-nation trade volume -------------------------------

def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way star join at fact cardinality: supplier nation × customer
    nation × ship year revenue matrix, export pairs only (supp ≠ cust).

    Shape mirrors TPC-H Q7 without its two-nation literal filter so every
    off-diagonal pair is exercised. nation (25 rows) broadcasts twice under
    distinct aliases; supplier broadcasts; the only real shuffles are
    lineitem⋈orders on orderkey and the final 25×24×years group-by, whose
    key space is fixed (independent of data volume) so the agg is pure
    map-side combine + tiny exchange at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    # price has 2dp, discount 2dp → revenue is an exact 4-dp decimal; sum it
    # as BIGINT 1e-4 units so the total is order-independent (a raw double
    # sum rounds differently across engines when a group lands on a .005
    # boundary — observed once in ~3k groups at sf0.001)
    revenue_e4 = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000, 0
    ).cast("long")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(revenue_e4).alias("vol_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        # half-up to cents in INTEGER space — double ROUND() on an exact
        # .485 boundary differs between engines (HALF_UP on decimalized
        # double vs nearbyint); integer div is identical everywhere
        .select(
            "supp_nation",
            "cust_nation",
            "ship_year",
            (F.expr("(vol_e4 + 50) div 100") / 100.0).alias("volume"),
            "n_lines",
        )
    )


NATION_PAIR_TRADE_ORACLE = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS ship_year,
       ((SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) + 50) // 100) / 100.0 AS volume,
       COUNT(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


# -- TPC-H Q10 flavor: returned-item revenue ----------------------------------

def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ranked by revenue lost to returns (l_returnflag = 'R').
    The flag filter reaches the parquet scan (PushedFilters); nation
    broadcasts; the group-by key is the customer PK so the agg shuffle is
    as wide as the surviving customers, then a deterministic top-20."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # BIGINT 1e-4-unit sum — order-independent across engines (see
    # nation_pair_trade)
    revenue_e4 = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000, 0
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(revenue_e4).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.expr("(rev_e4 + 50) div 100") / 100.0).alias("lost_revenue"),
            "n_returned_lines",
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


RETURNED_ITEM_REVENUE_ORACLE = """
SELECT c_custkey, c_name, n_name,
       ((SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) + 50) // 100) / 100.0 AS lost_revenue,
       COUNT(*) AS n_returned_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


# -- TPC-H Q13 flavor: customer order-count distribution ----------------------

def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation over a LEFT join: orders-per-customer
    (urgent only, so the zero branch is real — every customer has *some*
    order in this data), then the distribution of those counts.

    ``COUNT(o_orderkey)`` counts non-null keys, so no-match customers
    land in the c_count = 0 bucket — the semantics TPC-H Q13 pins. First
    shuffle on c_custkey (high-cardinality, parallel); second group-by
    has ~tens of distinct counts, collapsing map-side."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


CUSTOMER_ORDER_DISTRIBUTION_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- TPC-H Q18 flavor: large-volume orders ------------------------------------

LARGE_ORDER_QTY = 200


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over a fact-side aggregate, then join the survivors outward:
    orders whose total quantity exceeds a threshold, with their customer.

    Aggregate-before-join — the HAVING collapses lineitem to qualifying
    orderkeys FIRST, so the orders/customer joins see only survivors
    (AQE broadcasts that side when it shrinks enough). The reference's
    best-over-history scan (E12) is the same reduce-then-gather shape."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


LARGE_VOLUME_ORDERS_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       ROUND(o_totalprice, 2) AS totalprice,
       total_qty
FROM (
    SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING ROUND(SUM(l_quantity), 2) > {LARGE_ORDER_QTY}
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# -- UNPIVOT (melt): the inverse of user_event_pivot --------------------------

def user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — widen-then-melt round trip over the pivot above:
    the wide per-user count matrix back to long (user_id, event_type,
    n_events), dropping the zero cells the pivot fabricated.

    ``DataFrame.unpivot`` is a row-local generator (like explode): no
    shuffle of its own, output = users × |types| before the zero filter.
    The round trip is the point — melt is how a 100 TB pipeline takes a
    metrics-wide table back to a joinable long form without N self-unions."""
    wide = user_event_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["user_id"],
            values=EVENT_TYPES,
            variableColumnName="event_type",
            valueColumnName="n_events",
        )
        .filter(F.col("n_events") > 0)
        .orderBy("user_id", "event_type")
    )


USER_EVENT_UNPIVOT_ORACLE = """
SELECT user_id, event_type, COUNT(*) AS n_events
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# -- Pareto skyline ------------------------------------------------------------

SKY_BUCKETS = 32  # local-skyline parallelism (skyline is distributive)


def _skyline_pass(df: DataFrame, *part_cols: str) -> DataFrame:
    """One window skyline pass minimizing price_c / maximizing p_size:
    a row survives iff no strictly-cheaper row has ≥ its size (RANGE
    frame to 1 PRECEDING on integer cents = all strictly cheaper) and it
    carries the max size of its own price point."""
    cheaper = (
        Window.partitionBy(*part_cols)
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same = Window.partitionBy(*part_cols, "price_c")
    return (
        df.withColumn("m_cheaper", F.max("p_size").over(cheaper))
        .withColumn("m_same", F.max("p_size").over(same))
        .filter(
            (F.col("m_cheaper").isNull() | (F.col("p_size") > F.col("m_cheaper")))
            & (F.col("p_size") == F.col("m_same"))
        )
        .drop("m_cheaper", "m_same")
    )


def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query over parts: the set not dominated on
    (minimize retail price, maximize size) — q dominates p iff q is no
    worse on both axes and strictly better on one. The classic
    multi-criteria shortlist operator (Börzsönyi et al. '01).

    A single-window skyline is a GLOBAL sort — the known scale-killer —
    so this runs the distributive form: a LOCAL skyline per hash bucket
    (windows partitioned by bucket, embarrassingly parallel) followed by
    the same pass globally over the few local survivors. skyline(S) for
    any superset S of the true front that drops only dominated rows
    equals skyline(full), so the two-level result is EXACTLY the direct
    global skyline — which is what the oracle computes, making the gate
    also a proof of the reduction. Prices compare in integer cents (the
    RANGE-to-1-PRECEDING frame needs an integral key, and float equality
    groups are exactly what price points must not depend on)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
    )
    local = _skyline_pass(
        part.withColumn(
            "bkt", F.expr(phash_frag("p_partkey")) % SKY_BUCKETS
        ),
        "bkt",
    )
    return (
        _skyline_pass(local.drop("bkt"))
        .select(
            "p_partkey",
            F.round(F.col("price_c") / 100.0, 2).alias("price"),
            "p_size",
        )
        .orderBy("price", F.col("p_size").desc(), "p_partkey")
    )


PARETO_FRONT_PARTS_ORACLE = """
WITH p AS (
    SELECT p_partkey, p_size,
           CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c
    FROM part
),
sky AS (
    SELECT p_partkey, p_size, price_c,
           MAX(p_size) OVER (ORDER BY price_c
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS m_cheaper,
           MAX(p_size) OVER (PARTITION BY price_c) AS m_same
    FROM p
)
SELECT p_partkey, ROUND(price_c / 100.0, 2) AS price, p_size
FROM sky
WHERE (m_cheaper IS NULL OR p_size > m_cheaper) AND p_size = m_same
ORDER BY price, p_size DESC, p_partkey
"""


# -- within-group quantile-rank normalization ---------------------------------


def value_quantile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type quantile-rank normalization of the event value column:
    percent_rank within event_type plus the derived decile bucket — the
    rank-based feature transform (quantile normalization) that makes a
    heavy-tailed metric comparable across types without fitting any
    distribution.

    percent_rank is (rank−1)/(n−1) with ties sharing a rank in BOTH
    engines, so the output is deterministic without a tie-break column;
    the decile clamps the pct=1.0 edge into bucket 9.

    The rank is RANGE-PARTITIONED and merged by offset — not one window
    per event_type: with |types| ≪ cores, a per-type window sorts each
    type's whole history in ONE task (measured ×100: 10.5 s with 27 of
    32 cores idle vs 4.4 s range-partitioned). The frame range-partitions
    on (type, value) — a RangePartitioner colocates equal keys, so tie
    groups never straddle partitions and local rank() + the per-type
    count of earlier partitions IS the global competition rank; the
    per-(partition, type) counts are partitions-sized, broadcast both
    ways. The partitioned frame is localCheckpoint'd because
    spark_partition_id over a sampled range partitioner is NOT stable
    across executions (measured: re-sampled boundaries between the rank
    and counts branches corrupted 80% of ranks) — the barrier pins one
    assignment for every consumer. No output sort: this is a per-row
    feature table consumers join on event_id (same contract as
    event_gaps), and the correctness compare is order-insensitive."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n_parts = shuffle_partitions(spark)
    parted = (
        ev.repartitionByRange(n_parts, "event_type", "value")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = Window.partitionBy("pid", "event_type").orderBy("value")
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = parted.groupBy("pid", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0))
    )
    n_type = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    g = (
        parted.withColumn("lrank", F.rank().over(w_local))
        .join(
            F.broadcast(offsets.select("pid", "event_type", "off")),
            ["pid", "event_type"],
        )
        .join(F.broadcast(n_type), "event_type")
    )
    grank = F.col("lrank") + F.col("off")
    pct = F.when(
        F.col("n") > 1, (grank - 1).cast("double") / (F.col("n") - 1)
    ).otherwise(F.lit(0.0))
    return g.select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 6).alias("value"),
        F.round(pct, 6).alias("pct_rank"),
        F.least(F.floor(pct * 10).cast("int"), F.lit(9)).alias("decile"),
    )


VALUE_QUANTILE_RANKS_ORACLE = """
SELECT event_id, event_type,
       ROUND(value, 6) AS value,
       ROUND(percent_rank() OVER (PARTITION BY event_type ORDER BY value),
             6) AS pct_rank,
       CAST(LEAST(FLOOR(percent_rank()
                        OVER (PARTITION BY event_type ORDER BY value) * 10),
                  9) AS INTEGER) AS decile
FROM events
ORDER BY event_id
"""
