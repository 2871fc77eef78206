"""Relational operator matrix (SURVEY.md §2.3–2.7).

Covers the reference's join-type universe
(``/root/reference/src/query/sql/src/planner/plans/join.rs:48-76`` —
cross/inner/left/right/full/semi/anti/mark/single/asof), set operators
(``binder/select.rs:554-567`` desugars INTERSECT→semi, EXCEPT→anti),
window functions (``plans/window.rs:672-683``), grouping sets
(``plans/aggregate.rs:53-73``), sort/limit/topn (``plans/sort.rs``,
``plans/top_n.rs``), SRFs (``srfs/range.rs``), sampling
(``plans/scan.rs:125``), and recursive CTEs (``plans/r_cte_scan.rs``).

Implementation is DataFrame-API-first where it shows the engine surface,
SQL where that is clearer; both produce the same Catalyst plan.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from databend_spark.suite.base import register, sql_query

# ---------------------------------------------------------------------------
# Join-type matrix (plans/join.rs:48-76). Inner is everywhere in tpch.py;
# here: left/right/full/semi/anti/cross/asof/range/mark-style.
# ---------------------------------------------------------------------------


@register(
    "join_left",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers without orders."""
    c, o = spark.table("customer"), spark.table("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")), F.lit(0)
            )
            .cast("double")
            .alias("spend"),
        )
    )


@register(
    "join_right",
    oracle="""
    SELECT n_name, count(s_suppkey) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join preserving nations without suppliers."""
    s, n = spark.table("supplier"), spark.table("nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_full",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer/supplier counts."""
    c = (
        spark.table("customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        spark.table("supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with a >300k order.

    Reference: LeftSemi probe at ``hash_join/probe_join/left_semi_join.rs``.
    """
    c, o = spark.table("customer"), spark.table("orders")
    big = o.filter(F.col("o_totalprice") > 300000.0)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    c, o = spark.table("customer"), spark.table("orders")
    big = o.filter(F.col("o_totalprice") > 300000.0)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


sql_query(
    "join_mark_in_subquery",
    # Mark joins implement nullable-IN semantics (reference:
    # hash_join/probe_join/left_mark_join.rs); Catalyst plans the same
    # NULL-aware anti/semi join for IN / NOT IN with nullable sides.
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                            WHERE l_quantity > 49.0)
    """,
)


@register(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (small dimension pairs)."""
    r1 = spark.table("region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region")
    )
    r2 = spark.table("region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region")
    )
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
    )


@register(
    "join_single_scalar_subquery",
    oracle="""
    SELECT n_name,
           (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
            FROM customer WHERE c_nationkey = n_nationkey) AS avg_bal
    FROM nation
    """,
)
def join_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftSingle join: correlated scalar subquery in SELECT list
    (reference join type LeftSingle, ``plans/join.rs``; Catalyst
    decorrelates + enforces the single-row guarantee)."""
    return spark.sql(
        """
        SELECT n_name,
               (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                FROM customer WHERE c_nationkey = n_nationkey) AS avg_bal
        FROM nation
        """
    )


@register(
    "join_asof",
    # Oracle: correlated greatest-lower-bound — clear-by-construction.
    oracle="""
    SELECT e.event_id,
           (SELECT max(epoch_us(s.ts)) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND s.ts <= e.ts) AS last_signup_us
    FROM events e
    WHERE e.event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join: for each purchase, the user's most recent signup at or
    before it. See ``databend_spark.operators.asof_join`` for the
    scalable union-window implementation."""
    from databend_spark.operators.asof_join import asof_join

    ev = spark.table("events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts")
        .withColumn("signup_ts", F.col("ts"))
    )
    joined = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts", right_cols=["signup_ts"]
    )
    return joined.select(
        "event_id", F.unix_micros("signup_ts").alias("last_signup_us")
    )


_ASOF_FULL_CTES = """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         s AS (SELECT user_id AS s_user, ts AS s_ts,
                      min(event_id) AS s_event
               FROM events WHERE event_type = 'signup'
               GROUP BY user_id, ts)
"""


@register(
    "join_asof_full",
    # Oracle: DuckDB's NATIVE ASOF FULL JOIN — fully independent of the
    # pick-key rewrite under test.
    oracle=f"""
    {_ASOF_FULL_CTES}
    SELECT p.event_id AS purchase_id, s.s_event AS signup_id
    FROM p ASOF FULL JOIN s
      ON p.user_id = s.s_user AND p.ts >= s.s_ts
    """,
)
def join_asof_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ASOF join (reference plans/join.rs:74-75 FullAsof): every
    purchase keeps its nearest prior signup; signups picked by no
    purchase surface NULL-padded. Runs through the sqlgen pick-key
    rewrite (``_rewrite_asof_outer``)."""
    from databend_spark.sqlgen.fallbacks import execute

    return execute(
        spark,
            f"""
            {_ASOF_FULL_CTES}
            SELECT p.event_id AS purchase_id, s.s_event AS signup_id
            FROM p ASOF FULL JOIN s
              ON p.user_id = s.s_user AND p.ts >= s.s_ts
            """,
    )[0]


sql_query(
    "join_range",
    # Range (inequality) join — reference IEJoin
    # (physical_range_join.rs:228). Spark: equi-part on user_id + range
    # predicate → sort-merge join + filter; AQE handles skew.
    """
    SELECT e1.event_id AS click_id, count(*) AS purchases_within_hour
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL '1' HOUR
    WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
    GROUP BY e1.event_id
    """,
)

@register(
    "join_any_left",
    # LEFT ANY JOIN = all left rows, ONE right row per key. Our pick is
    # deterministic (lexicographically least right row = min o_orderkey
    # here), so the oracle models it with min().
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.n_orders
    FROM customer c LEFT JOIN (
        SELECT o_custkey, min(o_orderkey) AS o_orderkey,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_any_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANY JOIN (reference planner plans/join.rs:53 LeftAny; SLT
    suites/query/join/any_join.test): every left row joined to at most
    one right row per key — sqlgen desugars the ANY side to a
    min(struct(*)) GROUP BY key derived table."""
    from databend_spark.sqlgen.fallbacks import execute

    return execute(
        spark,
            """
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.n_orders
            FROM customer c LEFT ANY JOIN (
                SELECT o_custkey, o_orderkey,
                       count(*) OVER (PARTITION BY o_custkey) AS n_orders
                FROM orders
            ) o ON c.c_custkey = o.o_custkey
            """,
    )[0]


@register(
    "join_any_inner",
    # INNER ANY JOIN = ONE row per key from BOTH sides (reference
    # InnerAny, plans/join.rs:51). orders dedups to its least row per
    # customer (min o_orderkey — first struct field); customer keys are
    # unique so its dedup is identity.
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM (SELECT o_custkey, min(o_orderkey) AS o_orderkey
          FROM orders GROUP BY o_custkey) o
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_any_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER ANY JOIN: one output row per matching key pair."""
    from databend_spark.sqlgen.fallbacks import execute

    return execute(
        spark,
            """
            SELECT orders.o_orderkey, c.c_custkey, c.c_name
            FROM orders INNER ANY JOIN (
                SELECT c_custkey, c_name FROM customer
            ) c ON orders.o_custkey = c.c_custkey
            """,
    )[0]


# ---------------------------------------------------------------------------
# Set operators (binder/select.rs:554-567)
# ---------------------------------------------------------------------------


@register(
    "setop_union_all",
    oracle="""
    SELECT nk, who FROM (
      SELECT c_nationkey AS nk, 'customer' AS who FROM customer
      UNION ALL
      SELECT s_nationkey AS nk, 'supplier' AS who FROM supplier
    ) u
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.table("customer").select(
        F.col("c_nationkey").alias("nk"), F.lit("customer").alias("who")
    )
    s = spark.table("supplier").select(
        F.col("s_nationkey").alias("nk"), F.lit("supplier").alias("who")
    )
    return c.unionByName(s)


@register(
    "setop_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.table("customer").select(F.col("c_nationkey").alias("nk"))
    s = spark.table("supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@register(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — desugars to left-semi + distinct (same as reference)."""
    c = spark.table("customer").select(F.col("c_nationkey").alias("nk"))
    s = spark.table("supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "setop_except",
    oracle="""
    SELECT n_nationkey AS nk FROM nation
    EXCEPT
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000.0
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — desugars to left-anti + distinct (same as reference)."""
    n = spark.table("nation").select(F.col("n_nationkey").alias("nk"))
    c = (
        spark.table("customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_nationkey").alias("nk"))
    )
    return n.subtract(c)


sql_query(
    "setop_intersect_all",
    """
    SELECT x FROM (SELECT c_nationkey AS x FROM customer) a
    INTERSECT ALL
    SELECT x FROM (SELECT n_nationkey AS x FROM nation) b
    """,
)

# ---------------------------------------------------------------------------
# Window functions (plans/window.rs:672-683; frames :637-669)
# ---------------------------------------------------------------------------


@register(
    "window_ranking",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS prank,
           CAST(cume_dist()    OVER w AS DOUBLE) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/ntile/percent_rank/cume_dist."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return spark.table("orders").select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("prank"),
        F.cume_dist().over(w).cast("double").alias("cdist"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts))  OVER w AS us_since_prev,
           lead(event_type) OVER w AS next_type,
           nth_value(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/nth_value over event streams."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wall = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    us = F.unix_micros("ts")
    return spark.table("events").select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("us_since_prev"),
        F.lead("event_type").over(w).alias("next_type"),
        F.nth_value("event_type", 2).over(wall).alias("second_type"),
    )


@register(
    "window_frames",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
             AS neighborhood_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                      RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)
             AS total_qty
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS/RANGE frame specs (reference frames plans/window.rs:637-669)."""
    qty = F.col("l_quantity").cast("decimal(12,2)")
    base = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        spark.table("lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.sum(qty)
            .over(base.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double")
            .alias("running_qty"),
            F.sum(qty).over(base.rowsBetween(-1, 1)).cast("double").alias(
                "neighborhood_qty"
            ),
            F.sum(qty)
            .over(base.rangeBetween(W.unboundedPreceding, W.unboundedFollowing))
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) t WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (Databend QUALIFY; reference rank-limit pushdown
    ``sorts/sort_rank_limit.rs`` — Spark 3.5+ InferWindowGroupLimit plans
    a partial group-limit before the shuffle)."""
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        spark.table("customer")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


sql_query(
    "window_agg_over",
    """
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                     OVER (PARTITION BY o_custkey) AS DOUBLE)
                / count(*) OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_avg,
           CAST(max(o_totalprice) OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_max
    FROM orders
    """,
)

# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (plans/aggregate.rs:53-73)
# ---------------------------------------------------------------------------

sql_query(
    "grouping_rollup",
    """
    SELECT n_name, c_mktsegment,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
           count(*) AS n,
           CAST(grouping(n_name) AS INT) AS g_nation,
           CAST(grouping(c_mktsegment) AS INT) AS g_seg
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)

sql_query(
    "grouping_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)

sql_query(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)

# ---------------------------------------------------------------------------
# Sort / limit / offset / top-n (plans/{sort,limit,top_n}.rs)
# ---------------------------------------------------------------------------

sql_query(
    "limit_offset",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
)


@register(
    "topn",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
)
def topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopN — Catalyst plans TakeOrderedAndProject (no full sort), the
    analog of the reference's fused sort+limit (physical_top_n.rs)."""
    return (
        spark.table("lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        )
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(25)
    )


sql_query(
    "sort_nulls_ordering",
    # Databend defaults NULLS LAST on ASC; Spark defaults NULLS FIRST —
    # the engine emits explicit null ordering (SURVEY §7.4).
    """
    SELECT second_type, n FROM (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS second_type,
             count(*) AS n
      FROM events GROUP BY 1
    ) t
    ORDER BY second_type ASC NULLS LAST, n
    """,
)

# ---------------------------------------------------------------------------
# Distinct / sampling
# ---------------------------------------------------------------------------


@register(
    "distinct_dropdup",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def distinct_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.table("customer").select("c_nationkey", "c_mktsegment").dropDuplicates()


@register("sample_fraction", oracle=None)  # nondeterministic across engines
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE analog (plans/scan.rs:125): seeded Bernoulli sample."""
    return spark.table("lineitem").sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber"
    )


# ---------------------------------------------------------------------------
# SRFs / lateral / values / numbers (§2.8 SRFs; table functions)
# ---------------------------------------------------------------------------


@register(
    "numbers_range",
    oracle="""
    SELECT CAST(sum(number) AS BIGINT) AS total, count(*) AS n
    FROM (SELECT range AS number FROM range(100000)) t
    WHERE number % 7 = 0
    """,
)
def numbers_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numbers(N) table function (reference numbers_table.rs:60) →
    spark.range — a parallel, partitioned integer source."""
    return (
        spark.range(100000)
        .filter(F.col("id") % 7 == 0)
        .agg(
            F.sum("id").cast("bigint").alias("total"), F.count("*").alias("n")
        )
    )


@register(
    "generate_series_explode",
    oracle="""
    SELECT d AS day, count(*) AS n_orders
    FROM (SELECT CAST(unnest(generate_series(DATE '1996-01-01', DATE '1996-01-31',
                                             INTERVAL 1 DAY)) AS DATE) AS d) days
    LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
    GROUP BY d
    """,
)
def generate_series_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series SRF (srfs/range.rs:106) → sequence() + explode."""
    days = spark.sql(
        """
        SELECT explode(sequence(DATE '1996-01-01', DATE '1996-01-31',
                                INTERVAL 1 DAY)) AS day
        """
    )
    o = spark.table("orders").withColumn("od", F.to_date("o_orderdate"))
    return (
        days.join(o, days.day == o.od, "left")
        .groupBy("day")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .withColumn("n_orders", F.col("n_orders").cast("bigint"))
    )


@register(
    "values_inline",
    oracle="""
    SELECT v.code, v.descr, count(c_custkey) AS n
    FROM (VALUES (0, 'zero'), (1, 'one'), (2, 'two')) AS v(code, descr)
    LEFT JOIN customer ON c_nationkey = v.code
    GROUP BY v.code, v.descr
    """,
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES / ConstantTableScan (plans/constant_table_scan.rs)."""
    v = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], "code int, descr string"
    )
    c = spark.table("customer")
    return (
        v.join(c, c.c_nationkey == v.code, "left")
        .groupBy("code", "descr")
        .agg(F.count("c_custkey").alias("n"))
    )


sql_query(
    "select_dual",
    "SELECT 1 AS one, 'x' AS s, CAST(2.5 AS DOUBLE) AS d",
    doc="DummyTableScan: SELECT without FROM (plans/dummy_table_scan.rs)",
)


@register(
    "lateral_explode",
    oracle="""
    SELECT doc_id, token, count(*) AS n
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id < 50) t
    WHERE token <> ''
    GROUP BY doc_id, token
    """,
)
def lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode / ProjectSet (plans/project_set.rs:33)."""
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot (§2.7)
# ---------------------------------------------------------------------------


@register(
    "pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — rewritten to group+agg exactly like the reference
    (semantic/aggregate_rewriter.rs:41 enter_pivot)."""
    qty = F.col("l_quantity").cast("decimal(12,2)")
    out = (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(qty))
    )
    return out.select(
        "l_returnflag",
        F.col("O").cast("double").alias("qty_open"),
        F.col("F").cast("double").alias("qty_filled"),
    )


@register(
    "unpivot",
    oracle="""
    SELECT p_partkey, metric, CAST(val AS DOUBLE) AS val FROM (
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
    ) u
    """,
)
def unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (Spark 3.4+ df.unpivot / melt)."""
    p = spark.table("part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "val")


# ---------------------------------------------------------------------------
# CTEs (plans/materialized_cte.rs) + recursive CTE (plans/r_cte_scan.rs)
# ---------------------------------------------------------------------------

sql_query(
    "cte_chained",
    """
    WITH nation_rev AS (
        SELECT n_nationkey, n_name,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM nation
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        GROUP BY n_nationkey, n_name
    ),
    ranked AS (
        SELECT n_name, rev,
               row_number() OVER (ORDER BY rev DESC, n_name) AS rnk
        FROM nation_rev
    )
    SELECT n_name, CAST(rev AS DOUBLE) AS rev, rnk FROM ranked WHERE rnk <= 10
    """,
)


@register(
    "cte_recursive",
    oracle="""
    WITH RECURSIVE t(n, fib, prev) AS (
        SELECT 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT n + 1, fib + prev, fib FROM t WHERE n < 30
    )
    SELECT n, fib FROM t
    """,
)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE — Spark has no native support (SURVEY §7.4); the
    engine runs the iterative fixpoint in the driver
    (``databend_spark.operators.recursive_cte``)."""
    from databend_spark.operators.recursive_cte import recursive_cte

    anchor = spark.createDataFrame(
        [(1, 1, 0)], "n int, fib bigint, prev bigint"
    )

    def step(prev_df: DataFrame) -> DataFrame:
        return prev_df.filter(F.col("n") < 30).select(
            (F.col("n") + 1).alias("n"),
            (F.col("fib") + F.col("prev")).alias("fib"),
            F.col("fib").alias("prev"),
        )

    return recursive_cte(anchor, step).select("n", "fib")


@register(
    "topn_row_fetch",
    oracle="""
    SELECT event_id, event_type, value, props
    FROM events ORDER BY value DESC, event_id LIMIT 10
    """,
    doc="late-materialized TopN (physical_row_fetch.rs analog): 2-column "
    "pruned sort pass, then broadcast key fetch of the 10 winners",
)
def topn_row_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from databend_spark.operators.row_fetch import topn_late_materialize
    from databend_spark.session import load_table

    ev = load_table(spark, os.path.join(sf_dir, "events.parquet"))
    top = topn_late_materialize(ev, "event_id", [F.desc("value"), "event_id"], 10)
    return top.select("event_id", "event_type", "value", "props")
