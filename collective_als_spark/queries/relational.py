"""Relational-spine queries (SURVEY §2.1-§2.8) over the TPC-H-ish tables.

Each query is written DataFrame-first (Catalyst handles pushdown /
pruning / join selection) with a DuckDB oracle in matching column
names. Aggregate floats are rounded in BOTH engines to absorb
summation-order differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collective_als_spark.functions.vector import checked_cast
from collective_als_spark.registry import register
from collective_als_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------- S3/A scans+agg
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped groupBy-agg (scan S3 + aggregation A-family)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ------------------------------------------------------------------ P1/P2 casts
@register(
    "checked_cast_projection",
    oracle="""
    SELECT CAST(user_id AS INTEGER) AS src,
           CAST(event_id AS INTEGER) AS dst,
           CAST(value AS FLOAT) AS rating
    FROM events
    WHERE user_id IS NOT NULL
    """,
)
def checked_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: select + checkedCast projection into (src, dst, rating)
    — reference CollectiveALS.scala:104-116."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("user_id").isNotNull()).select(
        checked_cast(F.col("user_id")).alias("src"),
        checked_cast(F.col("event_id")).alias("dst"),
        F.col("value").cast("float").alias("rating"),
    )


# ------------------------------------------------------------- P4/P7 filters
@register(
    "row_filter_clean",
    oracle="""
    SELECT event_id, user_id, event_type,
           round(value, 4) AS value_r
    FROM events
    WHERE user_id <> -1 AND event_type <> 'error' AND value > 50
    """,
)
def row_filter_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: data-cleaning row filter — reference IHRCollectiveALS.scala:48-50."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("user_id") != -1)
        & (F.col("event_type") != "error")
        & (F.col("value") > 50)
    ).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value_r")
    )


@register(
    "affine_recode",
    oracle="""
    SELECT event_id,
           CAST(CAST(value AS FLOAT) * 2 - 1 AS FLOAT) AS recoded,
           epoch_ms(ts) AS ts_millis
    FROM events
    """,
)
def affine_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/F2/F3: string/numeric -> float affine recode (thumb up/down ->
    +-1) plus timestamp -> epoch milliseconds — reference IHRALS.scala:30
    (both recodes happen in the same projection there too). One driver
    slot witnesses all three §2 ops; the standalone `epoch_millis` query
    keeps its own oracle below the driver cap."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("value").cast("float") * 2 - 1).cast("float").alias("recoded"),
        F.unix_millis("ts").alias("ts_millis"),
    )


@register(
    "epoch_millis",
    oracle="""
    SELECT event_id, epoch_ms(ts) AS ts_millis
    FROM events
    """,
)
def epoch_millis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: timestamp -> epoch milliseconds — reference IHRALS.scala:30
    (Date.getTime)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", F.unix_millis("ts").alias("ts_millis"))


# ----------------------------------------------------------- F1/A8 dictionary
@register(
    "explode_dictionary",
    oracle="""
    WITH words AS (
        SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word FROM part
    )
    SELECT word,
           CAST(row_number() OVER (ORDER BY word) - 1 AS INTEGER) AS code
    FROM words
    """,
)
def explode_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/A8: split + explode + distinct + dense dictionary codes —
    reference MovieLensCollectiveALS.scala:16-25 (genre dictionary),
    without the driver-side collect."""
    from collective_als_spark.operators.dictionary import dense_codes

    part = _t(spark, sf_dir, "part")
    words = part.select(F.explode(F.split("p_name", " ")).alias("word"))
    return dense_codes(words, "word", "code")


# ------------------------------------------------------------- U1/A7 universes
@register(
    "union_distinct_ids",
    oracle="""
    SELECT DISTINCT id FROM (
        SELECT o_custkey AS id FROM orders
        UNION ALL
        SELECT c_custkey AS id FROM customer
    )
    """,
)
def union_distinct_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/A7: entity ID universe = union of per-relation IDs + distinct —
    reference CollectiveALS.scala:394-402."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.select(F.col("o_custkey").alias("id"))
        .union(cust.select(F.col("c_custkey").alias("id")))
        .distinct()
    )


# ------------------------------------------------------------------- J1 joins
@register(
    "left_join_enrich",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-shaped double left join (prediction-join plan shape —
    reference CollectiveALSModel.scala:61-67). Small dims broadcast."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "pair_inner_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_custkey,
           round(l_extendedprice, 2) AS price_r
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    """,
)
def pair_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: inner equi join of facts (predicted<->truth pair join shape —
    reference MovieLensALS.scala:33)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey",
        F.round("l_extendedprice", 2).alias("price_r"),
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT c_custkey, 'has_orders' AS tag FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS tag FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti joins (SURVEY §2.11: free in Spark, absent
    in reference)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("tag")
    )
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("tag")
    )
    return semi.union(anti)


@register(
    "star_join_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: dims broadcast, facts shuffle on keys."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# ------------------------------------------------------------ W1/W2/P6 windows
@register(
    "chrono_rank",
    oracle="""
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS rk
    FROM events
    """,
)
def chrono_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: global chronological rank (zipWithIndex analog) — reference
    Utils.scala:19. Two-phase rank (leading-key buckets + per-bucket
    row_number + offset join): no single-task global window."""
    from collective_als_spark.operators.split import global_rank

    ev = _t(spark, sf_dir, "events")
    ranked = global_rank(ev, [F.col("ts"), F.col("event_id")])
    return ranked.select("event_id", F.col("_rk").cast("bigint").alias("rk"))


@register(
    "rank_range_filter",
    oracle="""
    WITH ranked AS (
        SELECT event_id, user_id,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rk
        FROM events
    )
    SELECT event_id, user_id FROM ranked
    WHERE rk >= 100 AND rk < 600
    """,
)
def rank_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/W1: keep rows whose global chronological rank is in [lo, hi) —
    the slice step of splitChronologically (reference Utils.scala:29-33)."""
    from collective_als_spark.operators.split import global_rank

    ev = _t(spark, sf_dir, "events")
    return (
        global_rank(ev, [F.col("ts"), F.col("event_id")], rank_col="rk")
        .filter((F.col("rk") >= 100) & (F.col("rk") < 600))
        .select("event_id", "user_id")
    )


@register(
    "topk_per_group",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price_r
    FROM ranked WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via partitioned window (ranking-@k building block,
    reference's SparkRankingMetrics dep — IHRALS.scala:43-57)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price_r"))
    )


@register(
    "running_window_frame",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_qty
    FROM lineitem
    """,
)
def running_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame (running sum) — free Spark capability (SURVEY §2.5).

    l_quantity is part of the ordering: the synthetic lineitem has
    duplicate (orderkey, linenumber) keys, and without the summed
    column in the sort key the tie order — and thus every prefix sum
    between the tied rows — is engine-dependent."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


@register(
    "lag_event_gap",
    oracle="""
    SELECT event_id, user_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_ms
    FROM events
    """,
)
def lag_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() per user — sessionization precursor (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    return ev.select(
        "event_id", "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    )


# ------------------------------------------------------------------ O / top-k
@register(
    "orderby_limit",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS bal_r
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + LIMIT: global sort + top-k (TakeOrderedAndProject physical op)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("bal_r"))
        .limit(10)
    )


# --------------------------------------------------------------- A10 metrics
@register(
    "rmse_mae",
    oracle="""
    SELECT round(sqrt(avg((l_extendedprice - p_retailprice * l_quantity) ^ 2)), 4) AS rmse,
           round(avg(abs(l_extendedprice - p_retailprice * l_quantity)), 4) AS mae,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def rmse_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: RegressionMetrics RMSE/MAE as SQL aggregates — reference
    MovieLensALS.scala:41-45 (prediction proxy = retailprice x quantity)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    err = F.col("l_extendedprice") - F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# -------------------------------------------------------- grouping extensions
@register(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.11 — absent in reference, free in
    Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "conditional_pivot",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(value) FILTER (WHERE event_type = 'click'), 0), 2) AS click_v,
           round(coalesce(sum(value) FILTER (WHERE event_type = 'view'), 0), 2) AS view_v,
           round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 2) AS purchase_v
    FROM events
    GROUP BY user_id
    """,
)
def conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable pivot form)."""
    ev = _t(spark, sf_dir, "events")

    def cond(t):
        return F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == t, F.col("value"))), F.lit(0.0)), 2
        )

    return ev.groupBy("user_id").agg(
        cond("click").alias("click_v"),
        cond("view").alias("view_v"),
        cond("purchase").alias("purchase_v"),
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (SURVEY §2.11)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


@register(
    "table_profile",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM orders
    """
        for c in _PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep: per-column null count, exact distinct
    count, min/max — the sanity pass before a table enters a pipeline.

    One aggregate over the table; multiple exact COUNT(DISTINCT)s share
    a single Expand-based shuffle. At 100 TB swap the exact distincts
    for approx_count_distinct (one pass, no expand) — exact is kept
    here because the DuckDB oracle hash-checks it."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_nulls, n_distinct, min_val, max_val)"
        )
    )


@register(
    "rolling_time_range_window",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
           ), 2) AS trailing_1h_v,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_1h_n
    FROM events
    """,
)
def rolling_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame window per user (time-based, not
    row-based — two events 1 ms apart share the same trailing hour).
    The rolling-feature generator of a behavioral model; one
    user-partitioned sort, both aggregates share the frame."""
    from collective_als_spark.sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    ms = (F.unix_micros("ts") / 1000).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ms)
        .rangeBetween(-3600000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ms.alias("ts_ms"),
        F.round(F.sum("value").over(w), 2).alias("trailing_1h_v"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


@register(
    "equiwidth_histogram",
    oracle="""
    WITH rng AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ),
    binned AS (
        SELECT least(CAST(floor((o_totalprice - rng.lo)
                                / ((rng.hi - rng.lo) / 20.0)) AS INTEGER),
                     19) AS bin
        FROM orders, rng
    )
    SELECT bin, count(*) AS n
    FROM binned GROUP BY bin
    """,
)
def equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of order totals: global min/max as a
    1-row broadcast, then a map-side-combinable bin count — the
    two-pass histogram every profiler/BI layer runs, no sort."""
    orders = load_table(spark, sf_dir, "orders")
    rng = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    bin_col = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
        F.lit(19),
    )
    return (
        orders.join(F.broadcast(rng))
        .select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "zorder_keys",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST({z} AS BIGINT) AS zkey
    FROM lineitem
    """.format(
        z=" + ".join(
            f"(((l_orderkey % 1024) >> {i}) & 1) * {2 ** (2 * i)}"
            f" + (((l_partkey % 1024) >> {i}) & 1) * {2 ** (2 * i + 1)}"
            for i in range(10)
        )
    ),
)
def zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton Z-order key over (orderkey, partkey) mod 1024 — the
    multi-dimensional clustering key; map-only codegen bit math.
    tests/test_layout_skew.py proves the pruning benefit on real
    parquet row-group statistics."""
    from collective_als_spark.functions.vector import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        zorder_key(
            F.pmod("l_orderkey", F.lit(1024)), F.pmod("l_partkey", F.lit(1024)), 10
        ).alias("zkey"),
    )


@register(
    "salted_join_revenue",
    oracle="""
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation equivalence, driver-checked: the orders→customer
    join runs SALTED (hot customer keys spread over 16 salt buckets,
    the customer side replicated per salt), yet hashes identically to
    the oracle's plain join — salting changes only the shuffle layout,
    never the result. The explicit fallback for the single-hot-key case
    AQE's skew-join split can't fix."""
    from collective_als_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(orders, customer, "o_custkey", n_salts=16)
    return (
        joined.join(
            F.broadcast(nation), joined.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
