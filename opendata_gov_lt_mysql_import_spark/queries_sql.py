"""Standard SQL analytics surface — beyond the reference's operator set
but free in Spark (SURVEY.md §2.4 note: "the engine should still ship the
standard DataFrame agg surface"). Set operations, rollup, having,
conditional aggregates, scalar subqueries, LIKE pushdown, date breakdown,
and one query driven through ``spark.sql`` over registered views to
exercise the SQL-API entry path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query
from .sources.parquet import load_table, register_views
from .sources.warm import Warm, warm_build


@query(
    "setop_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with both open and finished orders (INTERSECT)."""
    o = load_table(spark, sf, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.intersect(done_c)


@query(
    "setop_except",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with open but no finished orders (EXCEPT — the set-op
    twin of the J7 anti join)."""
    o = load_table(spark, sf, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.subtract(done_c)


@query(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS grouping_level
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP with grouping ids — subtotal/grand-total hierarchy in one
    pass (Spark expands grouping sets map-side; still a single shuffle)."""
    o = load_table(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.grouping_id().alias("grouping_level"),
    )


@query(
    "having_filter",
    """
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def having_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Post-aggregation predicate (HAVING)."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "conditional_agg",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discounted,
           round(sum(CASE WHEN l_discount > 0.05
                          THEN l_extendedprice * l_discount ELSE 0 END), 2)
             AS discount_value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def conditional_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional aggregation (sum-of-case) — a single scan, no joins."""
    li = load_table(spark, sf, "lineitem")
    disc = F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
    disc_val = F.when(
        F.col("l_discount") > 0.05, F.col("l_extendedprice") * F.col("l_discount")
    ).otherwise(F.lit(0.0))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(disc).cast("long").alias("n_discounted"),
        F.round(F.sum(disc_val), 2).alias("discount_value"),
    )


@query(
    "scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Filter against a scalar subquery (orders at 1.8x the mean). The
    subquery is one extra reduction, broadcast as a literal by AQE."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_orders_scalar")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM _orders_scalar
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM _orders_scalar)
        """
    )


@query(
    "like_pushdown",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_name LIKE '%red%' AND p_size >= 10
    """,
)
def like_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """String-contains + range predicate — both pushed to the scan."""
    p = load_table(spark, sf, "part")
    return p.filter(F.col("p_name").like("%red%") & (F.col("p_size") >= 10)).select(
        "p_partkey", "p_name"
    )


@query(
    "date_breakdown",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def date_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar rollup by year/month — the partition-pruning shape for a
    date-partitioned lake layout."""
    o = load_table(spark, sf, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6-shaped revenue-forecast query (the classic "revenue
    change if discounts shifted" aggregate), driven through the
    ``spark.sql`` entry path over registered views — demonstrates the SQL
    API produces the same plan as the DataFrame API."""
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    )


@query(
    "exists_subquery",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity >= 45 AND l_discount > 0.05
    )
    GROUP BY o_orderpriority
    """,
)
def exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS: orders having at least one
    high-quantity discounted lineitem. Catalyst rewrites the subquery to a left-semi hash join —
    the set-oriented probe the reference does per-row (SURVEY.md J4)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_quantity") >= 45) & (F.col("l_discount") > 0.05)
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "percentile_price",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_price(spark: SparkSession, sf: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). All four quantiles come
    from ONE array-argument aggregate — one shared buffer per group
    instead of four independent sorted buffers (4× at sf0.1). The exact
    form needs the full group; at 100 TB swap in ``approx_percentile``
    (KLL sketch, mergeable map-side) — same call shape, bounded memory.

    Rounded at 4 decimals, NOT 2: interpolated percentiles of 2-decimal
    money terminate at ≤4 decimals exactly (interp fraction has ≤2), so
    round(,4) is tie-free — while round(,2) lands on exact half-cent
    midpoints where Spark and DuckDB break ties differently (surfaced
    at sf0.001: p50 52724.245 → 52724.24 vs 52724.25)."""
    li = load_table(spark, sf, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.99)
    arr = F.percentile(F.col("l_extendedprice"), F.array(*[F.lit(q) for q in qs]))
    return li.groupBy("l_returnflag").agg(
        *[F.round(arr[i], 4).alias(f"p{int(q * 100)}") for i, q in enumerate(qs)]
    )


@query(
    "pivot_status_priority",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS st_O,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS st_F,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS st_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — explicit values
    keep it one pass with map-side partial aggregation; the
    values-unspecified form needs an extra distinct scan."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("st_O"),
            F.coalesce(F.col("F"), F.lit(0)).alias("st_F"),
            F.coalesce(F.col("P"), F.lit(0)).alias("st_P"),
        )
    )


@query(
    "stats_agg",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) —
    all single-pass mergeable moments, map-side combinable."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
    )


@query(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority) with grouping() indicators — all four
    grouping sets in one pass with partial aggregation (Expand + single
    shuffle), not four scans."""
    o = load_table(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


@query(
    "window_funcs_suite",
    """
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           coalesce(lag(o_orderkey) OVER w, -1) AS prev_order,
           coalesce(lead(o_orderkey) OVER w, -1) AS next_order,
           round(o_totalprice - max(o_totalprice) OVER (PARTITION BY o_custkey), 2)
             AS diff_from_max
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_funcs_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking/offset/analytic window functions over one shared window
    spec — one shuffle on the partition key serves every function."""
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        # coalesce(-1): NULL offsets become NaN-in-float64 through
        # DuckDB's pandas bridge, breaking integer value parity
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1)).alias("prev_order"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1)).alias("next_order"),
        # max, not avg: float avg is summation-order-dependent and the two
        # engines accumulate in different orders; max compares exactly
        F.round(F.col("o_totalprice") - F.max("o_totalprice").over(wp), 2).alias(
            "diff_from_max"
        ),
    )


@query(
    "grouping_sets_region_status",
    """
    SELECT n_name, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderstatus))
    """,
)
def grouping_sets_region_status(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind cube/rollup): two
    independent aggregation keys in one pass — Expand + a single shuffle,
    not two scans. Dimension joins broadcast before the expand."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    joined.createOrReplaceTempView("_gs_src")
    return spark.sql(
        """
        SELECT n_name, o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM _gs_src
        GROUP BY GROUPING SETS ((n_name), (o_orderstatus))
        """
    )


@query(
    "rolling_7d_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ), 2) AS rev_7d
    FROM orders
    """,
)
def rolling_7d_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frame: per customer, the revenue of all orders
    in the trailing 7 days of each order — a value-based frame (peers by
    date distance), not a row-count frame. Spark expresses it as
    rangeBetween over *days since epoch* (unix_date) — exact integer date
    arithmetic, immune to session-timezone/DST skew that epoch-seconds
    ordering would introduce; one shuffle on the partition key."""
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-7, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_7d"),
    )


# EWMA weights a(1-a)^j with a=1/2: every weight is an exact power of
# two, so the weighted terms are exact FP scalings and both engines
# produce bitwise-identical sums when the addition order matches (the
# generated expression is the same left-to-right chain on both sides).
_EWMA_WEIGHTS = [0.5** (j + 1) for j in range(8)]


@query(
    "events_ewma",
    """
    SELECT user_id, event_id, ts,
           """
    + " + ".join(
        f"{w!r} * coalesce(lag(value, {j}) OVER w, 0.0)"
        for j, w in enumerate(_EWMA_WEIGHTS)
    )
    + """ AS ewma_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average of event value per user
    (trailing 8 events, a=1/2, zero-padded head) — the classic
    time-series smoothing feature for training-data pipelines. The
    recursive EWMA definition is unrolled into a fixed 8-term lag dot
    product: one window (ONE shuffle on user_id, all 8 lags share the
    same sort), whole-stage-codegen arithmetic, no state. At 100 TB the
    trailing-K unroll is the scalable form — the infinite-history
    closed form needs pow(1-a, -i) factors that overflow doubles."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    terms = None
    for j, wt in enumerate(_EWMA_WEIGHTS):
        t = F.lit(wt) * F.coalesce(F.lag("value", j).over(w), F.lit(0.0))
        terms = t if terms is None else terms + t
    # deliberately UNROUNDED: the 8-term chain is evaluated in the same
    # left-to-right order on both engines over bitwise-equal inputs, so
    # the doubles match exactly — while decimal rounding would DIVERGE
    # (power-of-two weights make exact .5-at-digit-N ties common, and
    # Spark/DuckDB break them differently)
    return ev.select("user_id", "event_id", "ts", terms.alias("ewma_value"))


@query(
    "scd2_user_event_type",
    """
    WITH chg AS (
        SELECT user_id, event_type, ts, event_id
        FROM events
        QUALIFY lag(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)
          IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           strftime(coalesce(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id),
               TIMESTAMP '9999-12-31 00:00:00'),
               '%Y-%m-%dT%H:%M:%S.%f') AS valid_to,
           CAST(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                AS BIGINT) AS is_current
    FROM chg
    """,
)
def scd2_user_event_type(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 history build: collapse an event stream into validity
    intervals per (user, tracked attribute) — change-point filter via
    lag(), interval close via lead(). The natural batch extension of the
    reference's diff-sync engine (odgovlt.py:112-124 tracks row change;
    SCD2 tracks WHEN it changed). One shuffle on user_id reused by both
    window passes — Catalyst collapses the two sorts into one."""
    ev = load_table(spark, sf, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .drop("_prev")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    # valid_to is emitted as an ISO string (F7 convention): the open
    # interval closes at the 9999-12-31 SCD2 sentinel, which overflows
    # pandas' datetime64[ns] range — as a string it never crosses the
    # timestamp bridge on either engine
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.date_format(
            F.coalesce(nxt, F.lit("9999-12-31 00:00:00").cast("timestamp")),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        ).alias("valid_to"),
        nxt.isNull().cast("long").alias("is_current"),
    )


_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")


@query(
    "profile_orders",
    " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_val,
               CAST(max({c}) AS VARCHAR) AS max_val
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality profiling (null rate, exact cardinality, min/max per
    column) in ONE scan: the distinct (column, value) cells, then a
    single wide aggregate row over them unpivoted with stack(). The
    cells multiply rows by the number of columns map-side — at 100 TB
    switch the cardinalities to approx_count_distinct and aggregate the
    scan directly.

    The cells are the distinct rewrite done by hand. Several
    count(DISTINCT) over different columns in one aggregate make
    Catalyst build an Expand whose groups it orders by a hash of the
    columns' expression ids; those ids are new on every call, so every
    call generated new code (9-11 classes compiled per warm call at
    sf0.01)."""
    # compact fixture parquet arrives as ONE partition; the cell
    # aggregation then runs single-core. Project to the profiled columns
    # BEFORE spreading — Catalyst doesn't push the projection below an
    # explicit round-robin Exchange, so an unpruned repartition would
    # shuffle every column of the table.
    par = spark.sparkContext.defaultParallelism
    o = load_table(spark, sf, "orders").select(*_PROFILE_COLS).repartition(par)
    types = dict(o.dtypes)
    slots = [f"v{j}" for j in range(len(_PROFILE_COLS))]

    def cell(k: int) -> str:
        # cell k of a row: column k in slot v{k}, typed nulls elsewhere
        return "named_struct('k', %d, %s)" % (k, ", ".join(
            f"'{v}', " + (c if j == k else f"CAST(NULL AS {types[c]})")
            for j, (c, v) in enumerate(zip(_PROFILE_COLS, slots))
        ))

    # one group per distinct (k, value), n = its row count; the wide row
    # is then plain aggregates over the groups (SQL strings: one py4j
    # call each instead of one per Column node)
    cells = (
        o.selectExpr(f"inline(array({', '.join(cell(k) for k in range(len(slots)))}))")
        .groupBy("k", *slots)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wide = cells.selectExpr(*[
        e
        for k, (c, v) in enumerate(zip(_PROFILE_COLS, slots))
        for e in (
            f"sum(CASE WHEN k = {k} THEN CAST({v} IS NULL AS BIGINT) * n END)"
            f" AS {c}__nulls",
            f"count({v}) AS {c}__dist",
            f"CAST(min({v}) AS STRING) AS {c}__min",
            f"CAST(max({v}) AS STRING) AS {c}__max",
        )
    ])
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_val, max_val)"
        )
    )


@query(
    "full_outer_reconcile",
    """
    WITH c AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9900
    ), o AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           CAST(c.c_custkey IS NOT NULL AS BIGINT) AS in_dim,
           CAST(o.o_custkey IS NOT NULL AS BIGINT) AS in_fact,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(o.revenue, 0.0) AS revenue
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def full_outer_reconcile(spark: SparkSession, sf: str) -> DataFrame:
    """Reconciliation (anti-entropy) report: FULL OUTER of a filtered
    dim snapshot vs fact-side aggregates, flagging rows present on only
    one side — the table-compare shape every sync engine ships
    (generalizes the reference's diff-sync stale/missing split,
    odgovlt.py:345-356, to a symmetric audit). One shuffle per side on
    the join key; null-key coalescing happens post-join."""
    c = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select("c_custkey", "c_acctbal")
    )
    o = load_table(spark, sf, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().cast("long").alias("in_dim"),
        F.col("o_custkey").isNotNull().cast("long").alias("in_fact"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@query(
    "nullsafe_join_props",
    """
    WITH l AS (
        SELECT event_id, json_extract_string(props, '$.k') AS k
        FROM events WHERE event_id < 1000
    ), r AS (
        SELECT CAST(CASE WHEN i % 10 = 9 THEN NULL
                         ELSE CAST(i AS VARCHAR) END AS VARCHAR) AS k,
               CAST(i AS BIGINT) AS payload
        FROM unnest(generate_series(0, 99)) AS t(i)
    )
    SELECT l.event_id, l.k, r.payload
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def nullsafe_join_props(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): null keys
    match null keys instead of vanishing — the semantics a sync engine
    needs when business keys are nullable. Catalyst plans <=> as a
    proper hash join key, not a nested loop."""
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k"),
        )
    )
    r = spark.range(100).select(
        F.when(F.col("id") % 10 == 9, F.lit(None))
        .otherwise(F.col("id").cast("string"))
        .alias("rk"),
        F.col("id").cast("long").alias("payload"),
    )
    return ev.join(r, ev["k"].eqNullSafe(r["rk"]), "inner").select(
        "event_id", "k", "payload"
    )


@query(
    "funnel_view_click_purchase",
    """
    WITH base AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts
        FROM events
    ), s1 AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id, day) AS tv
        FROM base
    ), s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
                  OVER (PARTITION BY user_id, day) AS tc
        FROM s1
    ), s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
                  OVER (PARTITION BY user_id, day) AS tp
        FROM s2
    ), per_user AS (
        SELECT user_id, day, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
        FROM s3 GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(tv) AS BIGINT) AS n_view,
           CAST(count(tc) AS BIGINT) AS n_view_click,
           CAST(count(tp) AS BIGINT) AS n_funnel
    FROM per_user GROUP BY 1
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-sequence funnel (view -> later click -> later purchase,
    per user per day): three chained min-over-partition windows — each
    step's anchor timestamp feeds the next step's predicate — then a
    two-level rollup. All three windows share one (user, day)
    partitioning, so Catalyst plans ONE shuffle + sort for the whole
    chain; the sequence logic itself never joins or explodes."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        "ts",
    )
    w = Window.partitionBy("user_id", "day")
    s1 = ev.withColumn(
        "tv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "tc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "tp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("tc")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id", "day").agg(
        F.max("tv").alias("tv"),
        F.max("tc").alias("tc"),
        F.max("tp").alias("tp"),
    )
    # day serialized to ISO string: DATE-typed result columns arrive as
    # midnight Timestamps through DuckDB's pandas bridge but as date
    # objects from Spark — same canonicalizer hazard as null timestamps
    return per_user.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_view_click"),
        F.count("tp").alias("n_funnel"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_users",
        "n_view",
        "n_view_click",
        "n_funnel",
    )


@query(
    "cohort_retention",
    """
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), with_cohort AS (
        SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM activity
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(day - cohort_day AS BIGINT) AS offset_days,
           CAST(count(*) AS BIGINT) AS n_active
    FROM with_cohort
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active day,
    activity counted per day-offset — THE product-analytics rollup.
    Shape: map-side distinct (user, day), one shuffle on user for the
    cohort window, then a cells-only rollup; no self-join (the naive
    formulation joins activity to first-seen — double the shuffle)."""
    from pyspark.sql import Window

    activity = (
        load_table(spark, sf, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    wc = activity.withColumn("cohort_day", F.min("day").over(w))
    return wc.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
    ).agg(F.count(F.lit(1)).alias("n_active"))


@query(
    "price_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
           CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT) AS lo,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(l_discount), 4) AS avg_discount
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram binning (integer bucket arithmetic — exact
    on both engines) with a per-bucket secondary aggregate. Map-side
    combine collapses 600k rows to ~{max/5000} cells before the
    shuffle; the reporting shape for any numeric column at any scale."""
    li = load_table(spark, sf, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000).cast("long")
    return (
        li.groupBy(
            bucket.alias("bucket"),
            (bucket * 5000).cast("long").alias("lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_discount"), 4).alias("avg_discount"),
        )
    )


@query("approx_percentile_price", None)
def approx_percentile_price(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB percentile path: approx_percentile (KLL sketch —
    mergeable map-side partials, bounded memory) over the same quantiles
    as the exact `percentile_price`. Rows-only (sketch internals are
    engine-specific); tests/test_operators pins each approximate
    quantile within 1% relative error of the exact aggregate."""
    li = load_table(spark, sf, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.99)
    arr = F.expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99), 10000)"
    )
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(arr[i], 2).alias(f"p{int(q * 100)}")
            for i, q in enumerate(qs)
        ]
    )


@query(
    "w1_tree_closure_recursive",
    """
    WITH RECURSIVE nodes AS (
        SELECT CAST(r_regionkey + 1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS parent_id
        FROM region
        UNION ALL
        SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey + 1 AS BIGINT)
        FROM nation
    ), walk AS (
        SELECT id, parent_id, id AS root_id, 1 AS depth FROM nodes WHERE parent_id = 0
        UNION ALL
        SELECT n.id, n.parent_id, w.root_id, w.depth + 1
        FROM nodes n JOIN walk w ON n.parent_id = w.id
    )
    SELECT id, parent_id, root_id, CAST(depth AS BIGINT) AS depth FROM walk
    """,
)
def w1_tree_closure_recursive(spark: SparkSession, sf: str) -> DataFrame:
    """W1 via Spark 4's native ``WITH RECURSIVE`` (UnionLoop execution) —
    the SQL twin of the hand-rolled iterative self-join in
    operators/hierarchy.py (reference recursion: odgovlt.py:260-290,
    driver-side DFS over an in-memory adjacency dict).

    Spark 4.1 executes the recursive member as an iterated loop with the
    anchor cached between steps, so the physical behavior matches the
    manual loop (per-level joins, terminate on empty frontier) while the
    plan stays fully declarative — Catalyst prunes/pushes into each
    iteration. Preferred at scale over the manual loop when no per-level
    checkpointing or path-array accumulation is needed; the manual
    operator remains for path/name-path construction and explicit
    lineage truncation on deep (>100-level) hierarchies.
    """
    register_views(spark, sf)
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT id, parent_id, id AS root_id, CAST(1 AS BIGINT) AS depth
            FROM (
                SELECT CAST(r_regionkey + 1 AS BIGINT) AS id,
                       CAST(0 AS BIGINT) AS parent_id
                FROM region
                UNION ALL
                SELECT CAST(n_nationkey + 100 AS BIGINT),
                       CAST(n_regionkey + 1 AS BIGINT)
                FROM nation
            )
            WHERE parent_id = 0
            UNION ALL
            SELECT n.id, n.parent_id, w.root_id, w.depth + CAST(1 AS BIGINT)
            FROM (
                SELECT CAST(r_regionkey + 1 AS BIGINT) AS id,
                       CAST(0 AS BIGINT) AS parent_id
                FROM region
                UNION ALL
                SELECT CAST(n_nationkey + 100 AS BIGINT),
                       CAST(n_regionkey + 1 AS BIGINT)
                FROM nation
            ) n
            JOIN walk w ON n.parent_id = w.id
        )
        SELECT id, parent_id, root_id, depth FROM walk
        """
    )


@query(
    "dq_constraint_report",
    """
    SELECT 'o_orderkey_not_null' AS check_name, 'o_orderkey' AS col_name,
           CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations,
           count(CASE WHEN o_orderkey IS NULL THEN 1 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique', 'o_orderkey',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
           count(o_orderkey) - count(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_in_range', 'o_totalprice',
           CAST(count(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 450000)
                           THEN 1 END) AS BIGINT),
           count(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 0 OR o_totalprice > 450000)
                      THEN 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_in_set', 'o_orderstatus',
           CAST(count(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 END) AS BIGINT),
           count(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority_matches', 'o_orderpriority',
           CAST(count(CASE WHEN o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                           THEN 1 END) AS BIGINT),
           count(CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                      THEN 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'min_rows', '*',
           CAST(greatest(1000 - count(*), 0) AS BIGINT),
           greatest(1000 - count(*), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'o_custkey_fk', 'o_custkey',
           CAST(count(*) AS BIGINT),
           count(*) = 0
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def dq_constraint_report(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style data-quality gate: six declarative constraints
    compiled to ONE aggregation pass over orders (single scan, map-side
    partial counters, 1-row exchange) plus a broadcast-anti-join
    referential-integrity row — the validation shape that replaces the
    reference's row-at-a-time skip-bad-objects loop (odgovlt.py:355-367)
    at fact-table scale. Uniform report: every metric is a violation
    count, pipeline gate = ``filter(~passed).isEmpty()``."""
    from .operators.validation import (
        foreign_key_check,
        in_range,
        in_set,
        matches,
        min_rows,
        not_null,
        unique,
        validation_report,
    )

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return validation_report(
        o,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            in_range("o_totalprice", 0, 450000),
            in_set("o_orderstatus", ["O", "F", "P"]),
            matches("o_orderpriority", "^[1-5]-[A-Z ]+$"),
            min_rows(1000),
        ],
        fk_checks=[foreign_key_check(o, "o_custkey", c, "c_custkey")],
    )


@query(
    "matview_incremental_refresh",
    """
    SELECT CAST(o_custkey % 97 AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS lo_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS hi_cents
    FROM orders
    GROUP BY 1
    """,
)
def matview_incremental_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end incremental materialized-view maintenance
    (plans/matview.py): orders is committed to a snapshot table in three
    appends, the grouped aggregate is refreshed from CDC deltas after
    each, and the final state must equal a one-shot GROUP BY over the
    whole table — the oracle IS that one-shot query. Measures use exact
    integer cents so three-fold incremental merging is bit-identical to
    the single pass (float sums would be summation-order-sensitive).

    Scale story: each refresh shuffles only the append delta plus the
    group-cardinality state, never source history; the exactly-once
    marker rides in the view manifest's txn id. Reference analog: the
    delta-only harvest queue, odgovlt.py:355-367."""
    import shutil
    import tempfile

    from .plans.matview import AggSpec, IncrementalAggregate
    from .sources.snapshots import commit_snapshot

    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 97).cast("long").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="matview_q_")
    try:
        mv = IncrementalAggregate(
            source_dir=f"{root}/src",
            view_dir=f"{root}/view",
            group_cols=["grp"],
            aggs=[
                AggSpec("n", "count"),
                AggSpec("total_cents", "sum", "cents"),
                AggSpec("lo_cents", "min", "cents"),
                AggSpec("hi_cents", "max", "cents"),
            ],
        )
        for slice_id in range(3):
            commit_snapshot(
                o.filter(F.col("grp") % 3 == slice_id), mv.source_dir
            )
            mv.refresh(spark)
        # detach the result from the temp files so they can be removed
        return mv.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _zorder_orders(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").select(
        F.col("o_orderkey").cast("long").alias("okey"),
        F.col("o_custkey").cast("long").alias("ckey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


class _NoSliceBounds(Exception):
    """orders has no non-NULL (ckey, cents) bounds, so no slice row."""


@warm_build("zorder")
def _zorder_fixture(spark: SparkSession, sf: str, w: Warm) -> None:
    """The Z-ordered snapshot of orders on (ckey, cents) as
    ``w["orders_z"]``, with the ``ck_hi`` / ``c_hi`` slice bounds. The
    commit + Morton rewrite is one-off table MAINTENANCE (like an
    OPTIMIZE job); the operator under measurement is the stats-pruned
    READ. Round 6's bench entry timed the build inside the body (~90%
    of its 3.50s), so the table is warm: bench's min-of-N reflects the
    read path, while the first call (and the driver's single
    correctness call) still exercises commit→ZORDER→read end to end.
    Raises ``_NoSliceBounds`` when a bound is NULL (empty orders)."""
    from .sources.snapshots import commit_snapshot, zorder_snapshot

    o = _zorder_orders(spark, sf)
    b = o.agg(
        F.min("ckey"), F.max("ckey"), F.min("cents"), F.max("cents")
    ).collect()[0]
    if None in tuple(b):  # Row's `in` tests field names
        raise _NoSliceBounds(sf)
    w["ck_hi"] = b[0] + (b[1] - b[0]) // 10
    w["c_hi"] = b[2] + (b[3] - b[2]) // 10
    w.tables("orders_z")
    # few files in the seed commit: its layout is immediately
    # superseded by the ZORDER rewrite, so extra files only cost
    # stat-collection footer reads
    commit_snapshot(o, w["orders_z"], target_files=4)
    zorder_snapshot(spark, w["orders_z"], ("ckey", "cents"), target_files=16)


@query(
    "zorder_pruned_scan",
    """
    WITH o AS (
      SELECT CAST(o_orderkey AS BIGINT) AS okey,
             CAST(o_custkey AS BIGINT) AS ckey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT min(ckey) AS cklo, max(ckey) AS ckhi,
             min(cents) AS clo, max(cents) AS chi
      FROM o
    )
    SELECT okey, ckey, cents
    FROM o, b
    WHERE ckey <= cklo + (ckhi - cklo) // 10
      AND cents <= clo + (chi - clo) // 10
    """,
)
def zorder_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMIZE ZORDER's file-skipping claim, exercised quantitatively:
    orders is committed to a snapshot table, Z-ordered on (custkey,
    price-cents) — built ONCE per process via ``_zorder_fixture`` (table
    maintenance, not the measured operator) — and a 10% slice on EACH
    dimension is read through the stats-pruned path. The function
    ASSERTS the layout payoff — each single-dimension slice must prune
    at least half the files, and the 2-D slice at least three quarters
    (the whole point of Morton clustering over 1-D sort: BOTH columns
    stay locally dense) — so a silent layout regression fails the
    driver row rather than just reading slowly. The returned ROWS are
    layout-independent (pruning is a pure scan-size optimization,
    re-checked row-level), which is what makes a full DuckDB oracle
    possible: the oracle is a plain filtered scan of orders with the
    same integer-exact bounds. Slice bounds are min + (max-min)//10 in
    BIGINT on both engines — no floats anywhere near the boundary.
    With a NULL bound (empty orders) no row can satisfy the slice, so
    the answer is 0 rows and nothing is built."""
    from .sources.snapshots import pruned_file_counts, read_snapshot_pruned

    try:
        w = _zorder_fixture(spark, sf)
    except _NoSliceBounds:
        return _zorder_orders(spark, sf).limit(0)
    t, ck_hi, c_hi = w["orders_z"], w["ck_hi"], w["c_hi"]
    f_ck = [("ckey", "<=", ck_hi)]
    f_c = [("cents", "<=", c_hi)]
    kept_ck, total = pruned_file_counts(t, f_ck)
    kept_c, _ = pruned_file_counts(t, f_c)
    kept_2d, _ = pruned_file_counts(t, f_ck + f_c)
    if not (
        kept_ck <= total // 2
        and kept_c <= total // 2
        and kept_2d <= total // 4
    ):
        raise RuntimeError(
            "ZORDER file skipping regressed: "
            f"total={total} kept(ckey 10%)={kept_ck} "
            f"kept(cents 10%)={kept_c} kept(2-D)={kept_2d}"
        )
    df = read_snapshot_pruned(spark, t, f_ck + f_c)
    return df.select("okey", "ckey", "cents")


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics breadth (adapted to the fixture's TPC-H-lite
# schema: no partsupp/shipmode/comment columns). These pin the join-heavy
# plan shapes the flagship q1/q3/q5 don't cover: two-role dimension
# joins (q7), top-k over a 4-way join (q10), outer-join double
# aggregation (q13), semi-join on an aggregated predicate (q18),
# OR-of-ANDs pushdown (q19), and anti-join + scalar subquery (q22).
# ---------------------------------------------------------------------------

@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem, orders, customer, supplier,
           nation n1, nation n2
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.
    The same dimension (nation) plays two roles — supplier side and
    customer side — so it joins twice under different aliases; both are
    broadcast (25 rows), and the nation-pair filter reaches the dim
    scans, shrinking supplier/customer before the fact join. One real
    shuffle (lineitem⋈orders); everything else is broadcast-hash."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    n1 = F.broadcast(n.filter(F.col("n_name").isin("NATION_18", "NATION_19"))
                     .withColumnRenamed("n_name", "supp_nation"))
    n2 = F.broadcast(n.filter(F.col("n_name").isin("NATION_18", "NATION_19"))
                     .withColumnRenamed("n_name", "cust_nation"))
    supp = s.join(n1, s["s_nationkey"] == n1["n_nationkey"]).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.join(n2, c["c_nationkey"] == n2["n_nationkey"]).select(
        "c_custkey", "cust_nation"
    )
    joined = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns. The
    returnflag filter pushes into the lineitem scan (reads ~1/3 of the
    fact), the 4-way join broadcasts customer-side dims, and the top-k
    is TakeOrderedAndProject — no global sort. Order key is the ROUNDED
    revenue + custkey so the boundary at rank 20 is cross-engine
    deterministic (raw float sums order-differ)."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13: distribution of non-urgent order counts per customer.
    The outer join keeps zero-order customers (count(o_orderkey) skips
    the null rows — 0, not 1), then a second tiny aggregation histograms
    the counts. Shuffle 1 is on custkey; shuffle 2 moves only
    |distinct counts| rows."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@query(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           round(o_totalprice, 2) AS total,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 180
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_date, total
    """,
)
def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold — a
    semi-join against an AGGREGATED predicate. The qualifying-key set is
    built by one groupBy and semi-joined back (Catalyst turns the IN on
    the already-aggregated frame into a shuffled semi hash join keyed on
    l_orderkey — the same key as the main aggregation, so AQE reuses the
    partitioning). Quantities are integer-valued doubles: sums are exact
    in FP, the >180 boundary cannot flip cross-engine. Order date rides
    as an ISO string (timestamp bridge hazard)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 180)
        .select("l_orderkey")
    )
    o = load_table(spark, sf, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = load_table(spark, sf, "customer").select("c_custkey")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    return joined.groupBy(
        "c_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        F.round("o_totalprice", 2).alias("total"),
    ).agg(F.sum("l_quantity").cast("long").alias("sum_qty"))


@query(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 20 AND 30)
    )
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across both join sides. Catalyst extracts
    the common single-side conjuncts: the part-only disjunction
    (brand/size) prunes the broadcast side BEFORE the join and the
    lineitem-only quantity disjunction pushes into the fact scan; only
    the cross-side residual evaluates post-join. One broadcast join,
    zero shuffles besides the 1-row final agg."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "q22_dormant_customers",
    """
    WITH t AS (
      SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c, t
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * t.n > t.total_cents
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22-shaped: wealthy customers (above the positive-balance
    mean) with no RECENT orders, counted per nation. Anti join against
    the date-filtered orders (filter pushed to the scan shrinks the
    build side); the mean-balance threshold is a 1-row aggregate
    broadcast-cross-joined into the filter — ONE lazy job, no eager
    collect. The compare is integer-exact on both engines:
    ``bal > avg(bal)`` over positive balances rewritten as
    ``bal_cents * n > total_cents`` (balances are 2-decimal, so
    round-to-cents is lossless and sums are bit-identical — no float
    avg to last-ulp-flip the boundary). Every fixture customer has SOME
    order, so the dormancy cut is date-scoped — a pure no-orders NOT
    EXISTS is vacuously empty here."""
    c = load_table(spark, sf, "customer")
    recent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    bal_cents = F.round(F.col("c_acctbal") * 100).cast("long")
    t = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal_cents).alias("_total_cents"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        c.crossJoin(F.broadcast(t))
        .filter(bal_cents * F.col("_n") > F.col("_total_cents"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "events_gap_fill_hourly",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
      FROM hourly GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      FROM span
    )
    SELECT g.event_type, strftime(g.bucket_ts, '%Y-%m-%d %H:00') AS hour,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN hourly h
      ON g.event_type = h.event_type AND g.bucket_ts = h.bucket_ts
    """,
)
def events_gap_fill_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Dense hourly event counts per type with zero-filled gaps
    (operators/timeseries.py): aggregate-then-densify — the calendar
    explode runs against the aggregated dimension-sized frame, never the
    raw facts, so grid cost is |types| x |hours| at any fact scale.
    Bucket timestamps ride as strings (bridge hazard)."""
    from .operators.timeseries import gap_fill

    ev = load_table(spark, sf, "events")
    dense = gap_fill(ev, key_col="event_type", ts_col="ts", bucket="hour")
    return dense.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
    )


@query(
    "events_view_click_pairs",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS lag_sec
    FROM events v JOIN events c ON v.user_id = c.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def events_view_click_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/joins.py): every (view, click) attribution pair within a
    30-minute horizon per user. The IDENTICAL expression runs on two
    live streams with watermarks (state O(rate x horizon), eviction via
    the time-range condition) — parity pinned in
    tests/test_stream_joins.py; this registry row pins the values."""
    from .streaming.joins import paired_view_clicks

    ev = load_table(spark, sf, "events")
    return paired_view_clicks(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    ).select("user_id", "view_id", "click_id", "lag_sec")


@query(
    "udtf_tokenize_head",
    """
    SELECT d.doc_id, t.i - 1 AS pos, t.tok AS token
    FROM documents d,
         LATERAL (
           SELECT unnest(list_slice(string_split_regex(trim(d.text), '\\s+'), 1, 40)) AS tok,
                  generate_subscripts(list_slice(string_split_regex(trim(d.text), '\\s+'), 1, 40), 1) AS i
         ) t
    WHERE d.doc_id < 100
    """,
)
def udtf_tokenize_head(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4 table-function API, Arrow-batched) emitting
    the head-40 tokens of each document with positions, invoked through
    SQL LATERAL — the engine's row→many-rows extension point
    (functions/udtfs.py; scale notes there: prefer JVM
    posexplode(split()) unless emission is imperative). The doc_id cap
    bounds the gate's collected comparison, not the operator."""
    from .functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM _udtf_docs d, LATERAL tokenize_head(d.text, 40) t
        WHERE d.doc_id < 100
        """
    )


@query(
    "events_value_trend",
    """
    SELECT event_type,
           round(regr_slope(value, epoch(ts) / 3600.0), 8) AS slope_per_hour,
           round(regr_intercept(value, epoch(ts) / 3600.0), 4) AS intercept,
           round(regr_r2(value, epoch(ts) / 3600.0), 8) AS r2,
           CAST(regr_count(value, epoch(ts) / 3600.0) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_value_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type linear trend of event value over time via the built-in
    REGRESSION aggregates (regr_slope/intercept/r2) — a distributed
    least-squares fit in ONE aggregation pass (the moment sums are
    mergeable partials; no Python, no second scan). x is microsecond-
    exact epoch hours (NTZ ts -> TIMESTAMP under the session's pinned
    UTC -> double seconds with fraction, matching DuckDB's fractional
    epoch()). The monitoring shape for drift detection over
    any metric column at any scale."""
    ev = load_table(spark, sf, "events")
    x = F.col("ts").cast("timestamp").cast("double") / 3600.0
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 8).alias("slope_per_hour"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 8).alias("r2"),
        F.regr_count(F.col("value"), x).cast("long").alias("n"),
    )


@query("hll_sketch_rollup_merge", None)
def hll_sketch_rollup_merge(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch-STORE pattern behind every 100 TB distinct-count
    dashboard: per-day HLL sketches of user_id are materialized once
    (groupBy day → hll_sketch_agg binary — mergeable partials, bounded
    bytes per cell), then any date-range distinct-user question is a
    LOSSLESS hll_union_agg over the stored sketches — no rescan of the
    raw events, ever. One-shot estimates (approx_distinct_users) answer
    one question; stored sketches answer all of them at rollup cost.

    Rows-only: sketch estimates are engine-specific (DataSketches HLL).
    tests/test_operators.py pins (a) merge losslessness — the union of
    daily sketches estimates EXACTLY the one-shot whole-table sketch —
    and (b) <2% relative error vs exact count_distinct."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("long")
            .alias("distinct_users_est"),
            F.count(F.lit(1)).cast("long").alias("days_merged"),
        )
    )


@query(
    "unpivot_order_measures",
    """
    SELECT o_orderkey, measure, round(val, 2) AS val
    FROM (
      SELECT o_orderkey,
             round(o_totalprice, 2) AS total_price,
             round(o_totalprice * 2, 2) AS doubled,
             CAST(o_shippriority_missing AS DOUBLE) AS ship_priority
      FROM (SELECT o_orderkey, o_totalprice, 0 AS o_shippriority_missing
            FROM orders WHERE o_orderkey < 1000)
    ) wide
    UNPIVOT (val FOR measure IN (total_price, doubled, ship_priority))
    """,
)
def unpivot_order_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Native wide→tall melt via ``DataFrame.unpivot`` (Spark 3.4+ ids/
    values API — the inverse of pivot, and the engine primitive the dq
    report's ``stack`` expression hand-rolls). Map-only: no shuffle, row
    count multiplies by |values| during the same scan. The doubled
    measure is x2 (exact in binary at 2dp) - a x0.21 derivation rounds
    onto half-cent ties where the engines' round() disagree. DuckDB oracle
    uses its UNPIVOT form. Key-capped so the driver comparison stays
    bounded; the operator itself is unbounded."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    wide = o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round(F.col("o_totalprice") * 2, 2).alias("doubled"),
        F.lit(0.0).alias("ship_priority"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["total_price", "doubled", "ship_priority"],
        variableColumnName="measure",
        valueColumnName="val",
    ).select("o_orderkey", "measure", F.round("val", 2).alias("val"))


from .queries import _FIXCASE_SQL  # noqa: E402


@query(
    "sql_udf_fixcase_tags",
    f"""
    SELECT c_custkey,
           {_FIXCASE_SQL.format(c='c_name')} AS fixed_name,
           lower(trim(regexp_replace(c_mktsegment, '[^a-zA-Z0-9 ]+', ' ')))
             AS tag_name,
           length(c_mktsegment) BETWEEN 2 AND 100 AS tag_ok
    FROM customer
    """,
)
def sql_udf_fixcase_tags(spark: SparkSession, sf: str) -> DataFrame:
    """The F1/F3/P8 scalar library consumed from PLAIN SQL via Spark 4
    SQL UDFs (functions/sql_udfs.py — CREATE FUNCTION ... RETURN).
    SQL UDFs are Catalyst macros: the bodies inline into this plan, so
    the query stays one codegen'd projection over the scan, unlike a
    Python UDF fence. Oracle re-expresses the same semantics in
    DuckDB's dialect (fixture segments are ASCII, so the (?U) unicode
    classes and DuckDB's ASCII regex agree here; the unicode behavior
    itself is pinned against Lithuanian goldens in
    tests/test_functions_text.py)."""
    from .functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    load_table(spark, sf, "customer").createOrReplaceTempView("_sqludf_cust")
    return spark.sql(
        """
        SELECT c_custkey,
               fixcase(c_name) AS fixed_name,
               lower(tagify(c_mktsegment)) AS tag_name,
               tag_ok(c_mktsegment) AS tag_ok
        FROM _sqludf_cust
        """
    )


@query(
    "variant_props_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.missing') IS NOT NULL AS has_missing
    FROM events
    """,
)
def variant_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` builds the binary variant once per row, then
    ``try_variant_get`` does typed path extraction — the open-schema
    column pattern (one parse, many cheap typed probes; absent paths
    yield NULL instead of failing, which is what an evolving event
    payload needs). At rest, store the VARIANT column in parquet and
    probes avoid re-parsing entirely. Oracle: DuckDB JSON path
    extraction over the same payloads."""
    ev = load_table(spark, sf, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "string").isNotNull().alias("has_missing"),
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part, lineitem, orders, customer, supplier,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
        AND p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's market for a
    part type, by year — the deepest dimension chain in the set (part,
    customer-side nation→region, supplier-side nation all join the
    fact). Every dimension broadcasts; the only real shuffle is
    lineitem⋈orders; the share is a ratio of two conditional sums in
    ONE aggregation (no second pass for the denominator)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    cust_region = c.join(
        F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
        c["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust_region), o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li["l_suppkey"] == F.col("s_suppkey"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
            / F.sum(vol),
            4,
        ).alias("mkt_share")
    )


@query(
    "q14_promo_revenue",
    """
    SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue — date range pushed
    to the fact scan, part broadcast, numerator and denominator in one
    conditional aggregate."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15: the quarter's top supplier — a derived aggregate view
    consumed twice (rows + its own max). The revenue frame is computed
    once and localCheckpointed (two consumers under AQE would race the
    recompute — the verify-recipe hazard), the max is a 1-row broadcast
    equality, and ROUNDED revenue keeps the tie boundary cross-engine
    deterministic."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
        .localCheckpoint(eager=True)
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#12'
      AND l_quantity < 0.2 * (
        SELECT avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17: revenue from below-average-quantity orders of one
    brand — a CORRELATED scalar subquery per part. Driven through
    spark.sql so Catalyst's decorrelation shows: the subquery rewrites
    to a per-partkey aggregate joined back (one extra agg + broadcast
    join, never a per-row probe). Quantities are integer-valued doubles,
    so the avg and the 0.2x threshold are bit-identical cross-engine."""
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#12'
          AND l_quantity < 0.2 * (
            SELECT avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
          )
        """
    )


@query(
    "events_robust_stats",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    ),
    bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p5,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT d.event_type,
           round(d.med, 4) AS med,
           round(d.mad, 4) AS mad,
           CAST(count(CASE WHEN abs(e.value - d.med) > 3 * d.mad THEN 1 END)
                AS BIGINT) AS n_outliers,
           round(avg(CASE WHEN e.value >= b.p5 AND e.value <= b.p95
                          THEN e.value END), 4) AS trimmed_mean
    FROM events e
    JOIN mad d ON e.event_type = d.event_type
    JOIN bounds b ON e.event_type = b.event_type
    GROUP BY d.event_type, d.med, d.mad
    """,
)
def events_robust_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group statistics — the outlier-resistant twin of the
    z-score family: exact median, MAD (median absolute deviation),
    3-MAD outlier counts, and a p5-p95 trimmed mean. Three grouped
    exact-percentile aggregates over ONE cached scan shape (medians and
    bounds are dimension-sized frames broadcast back onto the stream;
    the fact table is never self-joined). At 100 TB swap the exact
    percentile for approx_percentile exactly as percentile_price /
    approx_percentile_price document. Exact interpolating percentile
    matches DuckDB's quantile_cont/median semantics."""
    ev = load_table(spark, sf, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p5"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    joined = ev.join(F.broadcast(mad), "event_type").join(
        F.broadcast(bounds), "event_type"
    )
    return joined.groupBy("event_type", "med", "mad").agg(
        F.count(
            F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
        ).cast("long").alias("n_outliers"),
        F.round(
            F.avg(
                F.when(
                    (F.col("value") >= F.col("p5"))
                    & (F.col("value") <= F.col("p95")),
                    F.col("value"),
                )
            ),
            4,
        ).alias("trimmed_mean"),
    ).select(
        "event_type",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n_outliers",
        "trimmed_mean",
    )


@query(
    "star_wide_orders",
    """
    SELECT o.o_orderkey,
           round(o.o_totalprice, 2) AS total,
           c.c_name AS cust_c_name,
           c.c_mktsegment AS cust_c_mktsegment,
           n.n_name AS nat_n_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def star_wide_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Star-schema denormalization (operators/projections.py
    denormalize_star): orders widened with customer and nation, every
    dim a broadcast left join — the fact never shuffles regardless of
    how many dims attach, and orphan facts survive with null dim
    columns (gate with validation.foreign_key_check instead of
    dropping). The export shape for training-data / BI delivery."""
    from .operators.projections import denormalize_star

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
    )
    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
    )
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    wide = denormalize_star(
        o,
        [
            (c, "o_custkey", "c_custkey", "cust"),
            (n, "cust_c_nationkey", "n_nationkey", "nat"),
        ],
    )
    return wide.select(
        "o_orderkey", "total", "cust_c_name", "cust_c_mktsegment", "nat_n_name"
    )


@query(
    "calendar_weekend_revenue",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           dayofweek(o_orderdate) IN (0, 6) AS is_weekend,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def calendar_weekend_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Weekend/weekday revenue split through a GENERATED calendar
    dimension (operators/timeseries.py build_calendar_dim: one
    sequence-explode row per day, always broadcastable) joined onto the
    date-keyed fact — the fiscal-rollup pattern for flags no raw date
    function expresses. The oracle derives the same flags directly from
    dayofweek, cross-checking the calendar's correctness."""
    from .operators.timeseries import build_calendar_dim

    cal = build_calendar_dim("1995-01-01", "2001-12-31", spark)
    o = load_table(spark, sf, "orders")
    joined = o.join(
        F.broadcast(cal), F.to_date("o_orderdate") == cal["date"], "left"
    )
    return joined.groupBy(
        F.col("year").alias("y"), F.col("is_weekend")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "events_lag_features",
    """
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             round(sum(value), 4) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, v,
           coalesce(lag(v, 1) OVER w, -1) AS lag_1,
           coalesce(lag(v, 2) OVER w, -1) AS lag_2,
           round(avg(v) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS roll_mean_3
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_lag_features(spark: SparkSession, sf: str) -> DataFrame:
    """Forecasting training-set features (operators/timeseries.py
    make_lag_features): per-type daily totals with lag-1/lag-2 and a
    trailing 3-day mean — all features ride ONE window exchange+sort.
    Daily totals are ROUNDED before windowing so both engines lag/avg
    over identical inputs (raw float sums are summation-order-
    sensitive); warm-up lags are sentinel-coalesced to -1 in THIS
    registry row only because NULL doubles cross the DuckDB pandas
    bridge as NaN (hash-unequal to None) - the operator itself keeps
    NULLs so consumers choose the warm-up policy."""
    from .operators.timeseries import make_lag_features

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    feats = make_lag_features(
        daily, key_col="event_type", order_col="day", value_col="v",
        lags=(1, 2), roll_windows=(3,),
    )
    return feats.select(
        "event_type",
        "day",
        "v",
        F.coalesce("lag_1", F.lit(-1.0)).alias("lag_1"),
        F.coalesce("lag_2", F.lit(-1.0)).alias("lag_2"),
        F.round("roll_mean_3", 4).alias("roll_mean_3"),
    )


@query(
    "orders_custkey_skew_report",
    """
    WITH freq AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ),
    stats AS (
      SELECT CAST(max(n) AS BIGINT) AS max_n,
             round(avg(n), 4) AS avg_n,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM freq
    )
    SELECT f.key, f.n, s.max_n, s.avg_n, s.n_keys,
           round(f.n / s.avg_n, 4) AS skew_factor
    FROM freq f CROSS JOIN stats s
    ORDER BY f.n DESC, f.key
    LIMIT 10
    """,
)
def orders_custkey_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnosis — the report you run BEFORE deciding
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (operators/joins.salted_join): per-key frequencies (one
    partial-aggregated shuffle), global stats as a 1-row broadcast, and
    the top-10 hottest keys with their skew factor (n / avg). At 100 TB
    this exact frame decides the salting fan-out; the reference never
    needs it because it processes row-at-a-time — skew is purely a
    shuffle-era problem."""
    o = load_table(spark, sf, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stats = freq.agg(
        F.max("n").cast("long").alias("max_n"),
        F.round(F.avg("n"), 4).alias("avg_n"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        freq.crossJoin(F.broadcast(stats))
        .withColumn("skew_factor", F.round(F.col("n") / F.col("avg_n"), 4))
        .orderBy(F.col("n").desc(), F.col("key"))
        .limit(10)
    )


@query(
    "q4_priority_late_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_priority_late_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4-shaped: orders per priority that had at least one
    line item shipped >30 days after ordering (the fixture's stand-in
    for commitdate < receiptdate). The correlated EXISTS decorrelates
    to a LEFT SEMI hash join whose condition carries the cross-table
    date predicate; the quarter filter on o_orderdate is pushed to the
    orders scan, so the semi join probes with the small filtered side.
    One shuffle pair on orderkey; the agg output is priority-sized."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (
                li["l_shipdate"]
                > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@query(
    "q9_nation_year_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem, orders, supplier, nation, part
    WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND l_partkey = p_partkey
      AND p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_nation_year_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9-shaped: revenue on widget parts by supplier nation and
    order year (the fixture has no partsupp/supplycost, so profit
    degrades to discounted revenue — the join tree is the point).
    Plan: the p_name LIKE filter prunes part BEFORE it broadcasts;
    supplier⋈nation folds into one broadcast dim; the only real
    shuffle is lineitem⋈orders on orderkey, then one partial-agged
    group-by on (nation, year). Dimension order follows size, not
    query text — Catalyst reorders around the broadcast hints. Revenue
    is integer cents: float sums are summation-order-sensitive and this
    group-by's sums land exactly on cent boundaries at sf0.01."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    sn = F.broadcast(s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents")
        )
    )


@query(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(value_cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n
      FROM pv
    )
    SELECT CAST(l_partkey AS BIGINT) AS partkey, value_cents
    FROM pv, t
    WHERE value_cents * 10 * t.n > t.total * 13
    """,
)
def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose traded value exceeds 1.3x the
    average part's (global-share HAVING via scalar subquery; no
    partsupp in the fixture, so value = lineitem discounted revenue;
    the share threshold is scale-relative so the result stays non-
    trivial from sf0.001 to 100 TB).
    Values are INTEGER CENTS end to end, and the threshold compare is
    pure integer arithmetic on both engines:
    ``value > avg(value) * 1.3`` rewritten as
    ``value * 10 * n > total * 13`` — no float avg, so the > boundary
    cannot flip on a last-ulp difference between engines. ONE lazy job:
    the 1-row (total, n) aggregate broadcast-cross-joins the per-part
    frame (the repo's whitelisted scalar-threshold idiom), so the
    per-part aggregation's shuffle exchange is planned once and REUSED
    for the scalar branch — no eager collect, no second lineitem scan,
    and explain-only callers trigger no job at all."""
    li = load_table(spark, sf, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    pv = li.groupBy("l_partkey").agg(F.sum(cents).alias("value_cents"))
    t = pv.agg(
        F.sum("value_cents").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        pv.crossJoin(F.broadcast(t))
        .filter(
            F.col("value_cents") * F.lit(10) * F.col("_n")
            > F.col("_total") * F.lit(13)
        )
        .select(F.col("l_partkey").cast("long").alias("partkey"), "value_cents")
    )


@query(
    "q12_priority_by_linestatus",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12-shaped: 1998 shipments split high/low priority per
    line status (l_linestatus stands in for l_shipmode). The year
    filter reaches the lineitem scan (PushedFilters on l_shipdate);
    the conditional counts are one pass — two CASE sums in a single
    partial-aggregated group-by, not two filtered joins."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (5, 10, 15, 20, 25)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct supplier counts per surviving
    (brand, type, size) — supplier diversity of the catalog (lineitem
    supplies the part↔supplier pairs; the fixture has no partsupp).
    The brand/size predicates prune part before broadcast; the count
    DISTINCT runs as a two-phase agg (partial distinct below the
    exchange), never a row-level distinct of the whole join."""
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH flag AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp,
             CAST(sum(is_late) AS BIGINT) AS n_late
      FROM flag GROUP BY 1
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM flag f
    JOIN per_order p ON f.l_orderkey = p.l_orderkey
    JOIN supplier ON f.l_suppkey = s_suppkey
    WHERE f.is_late = 1 AND p.n_supp > 1 AND p.n_late = 1
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21-shaped: suppliers who were the SOLE late shipper on
    multi-supplier orders (late = shipped >60 days after ordering).
    The classic EXISTS / NOT-EXISTS pair decorrelates into per-order
    aggregates — and the per-order rollup is WINDOW functions over the
    same orderkey partitioning as the flag aggregate, not a groupBy +
    self-join back: the round-7 rewrite removed the join AND the
    double consumption of the flag frame (the AQE multi-consumer
    recompute hazard — flag used to feed both per_order and the probe
    side, re-running the lineitem join per consumer; interleaved
    min-of-3 measured x1.19, results identical). One lineitem scan,
    join + agg + window all on orderkey. The 25-row supplier dim
    broadcasts onto the result."""
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    flag = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    flag2 = flag.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("is_late").over(w).cast("long").alias("n_late"),
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        flag2.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cost_cents
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, cost_cents,
             row_number() OVER (
               PARTITION BY l_partkey ORDER BY cost_cents, l_suppkey
             ) AS rn
      FROM ps
    )
    SELECT CAST(r.l_partkey AS BIGINT) AS partkey, p_brand,
           s_name, s_acctbal, r.cost_cents
    FROM ranked r
    JOIN part ON r.l_partkey = p_partkey
    JOIN supplier ON r.l_suppkey = s_suppkey
    WHERE r.rn = 1 AND p_size <= 10
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2-shaped: per small part, the cheapest supplier (no
    partsupp in the fixture, so supply cost = that supplier's observed
    lineitem revenue for the part, in exact integer cents — float sums
    would tie-break nondeterministically across engines). The classic
    correlated MIN subquery becomes a per-part window top-1 over the
    (part, supplier)-aggregated frame: one shuffle for the agg, the
    window rides the same partitioning, and both dims broadcast onto
    the one-row-per-part result. The p_size filter prunes part before
    its broadcast."""
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cost_cents"
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("cost_cents", "l_suppkey")
    best = ps.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = load_table(spark, sf, "part").filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_brand"
    )
    s = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        best.join(F.broadcast(p), best["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("l_partkey").cast("long").alias("partkey"),
            "p_brand",
            "s_name",
            "s_acctbal",
            "cost_cents",
        )
    )


@query(
    "q20_promotable_suppliers",
    """
    WITH sq AS (
      SELECT l_suppkey, l_partkey,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    )
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sq
      JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%bolt%' AND qty > 50
    )
    """,
)
def q20_promotable_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers who moved real volume (>50 units in
    1998) of bolt parts — the nested IN-over-aggregated-subquery shape
    (no partsupp availqty in the fixture, so the threshold is absolute
    rather than half-of-shipped). Plan: the year filter is pushed to
    the lineitem scan, the (supplier, part) agg is the only shuffle,
    the LIKE-pruned part dim broadcasts onto it, and the outer IN
    decorrelates to a LEFT SEMI join probing the 25-row supplier dim.
    Quantities are doubles in the fixture — explicit floor() before the
    BIGINT cast on BOTH engines (Spark's double→long cast truncates
    toward zero while DuckDB's rounds to nearest, so a bare cast would
    diverge if quantities ever gained fractional parts) keeps the >50
    boundary integer-exact regardless."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    sq = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.floor("l_quantity").cast("long")).alias("qty")
    )
    p = load_table(spark, sf, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey")
    movers = (
        sq.join(F.broadcast(p), sq["l_partkey"] == p["p_partkey"])
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = load_table(spark, sf, "supplier")
    return s.join(
        movers, s["s_suppkey"] == movers["l_suppkey"], "left_semi"
    ).select("s_name", "s_acctbal")
