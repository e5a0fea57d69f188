"""Relational / operator-inventory queries (SURVEY.md §2.3-§2.9).

Every query here demonstrates one or more reference operators on the
driver's star-schema testdata, with a DuckDB oracle. The Spark side is
written declaratively (DataFrame API) so Catalyst handles pushdown,
pruning, and join planning; broadcast hints mark genuinely small
dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark import functions as K
from ska_src_maltopuft_etl_spark.operators import (
    asof_join,
    dedup_keep_first,
    exact_percentiles,
    interval_join,
    interval_overlap_join,
    remap_keys,
    surrogate_key,
    surrogate_key_with_count,
    validated_join,
)
from ska_src_maltopuft_etl_spark.plans.registry import register
from ska_src_maltopuft_etl_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _money_sum_exact(price_col: str = "l_extendedprice",
                     disc_col: str = "l_discount"):
    """Associative DECIMAL money sum for the flagship revenue family
    (round-11, VERDICT r10 'Next round' #3): prices/discounts are
    2-decimal by construction so the decimal(18,2) casts are exact, the
    sum is associative (partition-order-independent — the ×100 tier
    measured double sums drifting in their last 2 decimals and DuckDB
    disagreeing with ITSELF by 0.27 across thread counts), and the
    surface keeps the sum's NATIVE scale 4 — no rescale, because Spark
    rounds decimal rescales HALF_UP while DuckDB banker's-rounds them,
    so any .xx5 tie diverges by a cent (measured at sf0.01). The
    decimal(38,4)→double cast is correctly rounded on both engines
    while the scale-4 integer magnitude stays under 2^53 (group sums
    up to ~9e11 money units; the ×100 tier peaks at 6e11), so Spark
    and DuckDB emit identical bits where the double-sum formulation
    is order-nondeterministic."""
    return (
        F.sum(
            F.col(price_col).cast("decimal(18,2)")
            * (F.lit(1) - F.col(disc_col)).cast("decimal(18,2)")
        )
        .cast("decimal(38,4)")
        .cast("double")
    )


# the DuckDB-side twin of _money_sum_exact (identical formulation)
_MONEY_SUM_SQL = (
    "CAST(CAST(SUM(CAST({p} AS DECIMAL(18,2))"
    " * CAST(1 - {d} AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE)"
)


# ---------------------------------------------------------------------------
# Aggregation pipelines (P1/P4/A2, TPC-H flavor)
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                      AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                 AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)              AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                      AS avg_qty,
           ROUND(AVG(l_discount), 6)                                      AS avg_disc,
           COUNT(*)                                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("P1", "P4", "A2"),
    description="scan→filter→hash-agg with partial (map-side) aggregation",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q01_pricing_summary_exact",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
                AS VARCHAR) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
                AS VARCHAR) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,4))
                AS VARCHAR) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))
                         * CAST(1 + l_tax AS DECIMAL(4,2))) AS DECIMAL(38,6))
                AS VARCHAR) AS sum_charge,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("P1", "P4", "A2"),
    description=(
        "exact-ledger twin of q01: every money sum as an associative "
        "DECIMAL with a fixed-scale STRING surface — the 3-factor "
        "charge product has scale 6, whose scaled-integer sum exceeds "
        "2^53 at the x100 tier, so (unlike the q03/q05/q10 family) "
        "not even a decimal->double cast survives there; strings are "
        "the only fully-exact surface at any tier. Averages are "
        "omitted (derivable as sum/count; decimal division rounds "
        "differently across engines)."
    ),
)
def q01_pricing_summary_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow input casts keep every intermediate inside Spark's 38-digit
    cap WITHOUT precision-loss rescaling: price decimal(12,2) x
    (1-disc) decimal(4,2) -> (17,4); x (1+tax) decimal(4,2) -> (22,6);
    sums widen to (38,s). With wide casts (18,2) the 3-factor product
    would need precision 41 and Spark's allowPrecisionLoss would round
    the scale away — the narrow casts are load-bearing, not cosmetic
    (values bounded: price < 1e10, discount/tax in [0,1])."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_m_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    one_p_tax = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(38,2)").cast("string").alias("sum_qty"),
            F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_base_price"),
            F.sum(price * one_m_disc)
            .cast("decimal(38,4)").cast("string").alias("sum_disc_price"),
            F.sum(price * one_m_disc * one_p_tax)
            .cast("decimal(38,6)").cast("string").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l.l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
           CAST(strftime(o.o_orderdate, '%Y-%m-%d') AS VARCHAR) AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    covers=("J1", "P1", "A2", "W6"),
    description=(
        "3-way join → agg → deterministic top-k; revenue on the "
        "associative DECIMAL money path (round-11 default switch)"
    ),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("o_orderkey"), "o_orderdate")
        .agg(_money_sum_exact().alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l.l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_nationkey = n.n_nationkey
      JOIN lineitem l ON l.l_suppkey  = s.s_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey  = o.o_custkey AND c.c_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    covers=("J1", "J3", "P1", "A2"),
    description="6-way star join; dims broadcast, facts shuffled once",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    sup = s.join(F.broadcast(dim), s.s_nationkey == dim.n_nationkey).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == sup.s_nationkey))
        .groupBy("n_name")
        .agg(_money_sum_exact().alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Join family (J1-J9)
# ---------------------------------------------------------------------------

@register(
    "join_validated_1m",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_spend
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    covers=("J1",),
    description="cardinality-validated 1:m equi-join (Polars validate= parity)",
)
def join_validated_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    joined = validated_join(c, o, "c_custkey", how="inner", expect="1:m")
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )


@register(
    "join_left_m1",
    oracle="""
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    """,
    covers=("J3",),
    description="left join m:1 with filtered (nullable) dimension",
)
def join_left_m1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select("o_orderkey", "c_name", "c_mktsegment")
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(cc.k, sc.k) AS n_nationkey,
           COALESCE(cc.n_customers, 0) AS n_customers,
           COALESCE(sc.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS k, COUNT(*) AS n_customers FROM customer GROUP BY 1) cc
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) sc
      ON cc.k = sc.k
    """,
    covers=("J4",),
    description="full outer join of two aggregates + null-side coalesce",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sc = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cc.join(sc, "k", "full")
        .select(
            F.col("k").alias("n_nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "join_anti_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    covers=("J3", "P5"),
    description="anti join (customers without recent orders)",
)
def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


@register(
    "join_semi_shipped_parts",
    oracle="""
    SELECT p_partkey, p_name FROM part p
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey
        AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
    """,
    covers=("J1", "P5"),
    description="semi join (parts with early shipments)",
)
def join_semi_shipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi")


@register(
    "union_distinct_nationkeys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    covers=("U1",),
    description="UNION (distinct) of two projections",
)
def union_distinct_nationkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "interval_join_sessions",
    oracle="""
    SELECT e.event_id,
           (SELECT epoch_us(MAX(s.ts)) FROM events s
            WHERE s.event_type = 'signup' AND s.user_id = e.user_id
              AND s.ts <= e.ts AND e.ts <= s.ts + INTERVAL 3 DAY) AS session_start_us
    FROM events e
    WHERE e.event_type = 'click'
    """,
    covers=("J5", "P5", "P7"),
    description="interval containment join: clicks → enclosing signup session, latest-start tie-break",
)
def interval_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    sessions = (
        ev.where(F.col("event_type") == "signup")
        .select(
            F.col("user_id"),
            F.col("ts").alias("session_start"),
            (F.col("ts") + F.expr("INTERVAL 3 DAY")).alias("session_end"),
        )
    )
    out = interval_join(
        clicks,
        sessions,
        left_ts="ts",
        right_start="session_start",
        right_end="session_end",
        by=["user_id"],
        how="left",
        tie_break="session_start",
        tie_break_desc=True,
    )
    return out.select(
        "event_id", F.unix_micros("session_start").alias("session_start_us")
    )


@register(
    "interval_overlap_pairs",
    oracle="""
    WITH ses AS (SELECT event_id AS s_event, user_id, ts AS s_start,
                        ts + INTERVAL 3 DAY AS s_end
                 FROM events WHERE event_type = 'signup'),
         win AS (SELECT event_id AS w_event, user_id, ts AS w_start,
                        ts + INTERVAL 1 DAY AS w_end
                 FROM events WHERE event_type = 'purchase')
    SELECT s.s_event, w.w_event
    FROM ses s JOIN win w
      ON w.user_id = s.user_id
     AND s.s_start <= w.w_end AND w.w_start <= s.s_end
    """,
    covers=("J5", "P5"),
    description=(
        "interval×interval OVERLAP join (signup sessions × purchase "
        "windows per user) via the dedup-free first-common-bucket "
        "trick: both sides explode to day buckets, each overlapping "
        "pair emits from exactly the bucket of max(starts) — one "
        "shuffle, no distinct, no window; the interval-point family "
        "cannot express this shape"
    ),
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ses = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_event"),
        "user_id",
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 3 DAY")).alias("s_end"),
    )
    win = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("w_event"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("w_end"),
    )
    out = interval_overlap_join(
        ses,
        win,
        left_start="s_start",
        left_end="s_end",
        right_start="w_start",
        right_end="w_end",
        bucket_width_s=86400,
        by=["user_id"],
    )
    return out.select("s_event", "w_event")


@register(
    "asof_join_purchase_context",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         ranked AS (
           SELECT e.event_id, p.event_id AS purchase_event_id, epoch_us(p.ts) AS purchase_ts_us,
                  ROW_NUMBER() OVER (PARTITION BY e.event_id
                                     ORDER BY p.ts DESC, p.event_id DESC) AS rn
           FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts <= e.ts)
    SELECT e.event_id, r.purchase_event_id, r.purchase_ts_us
    FROM err e LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rn = 1
    """,
    covers=("J6", "W6"),
    description="backward as-of join (error → latest purchase) via union+last window, one shuffle",
)
def asof_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", F.col("ts").alias("pts")
    )
    out = asof_join(
        err,
        pur,
        left_on="ts",
        right_on="pts",
        by=["user_id"],
        right_tiebreak=["purchase_event_id"],
    )
    return out.select(
        "event_id", "purchase_event_id", F.unix_micros("pts").alias("purchase_ts_us")
    )


@register(
    "asof_join_forward_next_action",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         ranked AS (
           SELECT e.event_id, p.event_id AS next_purchase_event_id,
                  epoch_us(p.ts) AS next_purchase_ts_us,
                  ROW_NUMBER() OVER (PARTITION BY e.event_id
                                     ORDER BY p.ts ASC, p.event_id DESC) AS rn
           FROM err e JOIN pur p ON p.user_id = e.user_id AND p.ts >= e.ts)
    SELECT e.event_id, r.next_purchase_event_id, r.next_purchase_ts_us
    FROM err e LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rn = 1
    """,
    covers=("J6", "W6"),
    description=(
        "FORWARD as-of join (error -> next purchase): the reversed-time "
        "twin of asof_join_purchase_context, same one-shuffle union+window "
        "plan"
    ),
)
def asof_join_forward_next_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("p_event_id"), F.col("ts").alias("p_ts")
    )
    out = asof_join(
        err,
        pur,
        left_on="ts",
        right_on="p_ts",
        by=["user_id"],
        right_tiebreak=["p_event_id"],
        direction="forward",
    )
    return out.select(
        "event_id",
        F.col("p_event_id").alias("next_purchase_event_id"),
        F.unix_micros("p_ts").alias("next_purchase_ts_us"),
    )


@register(
    "keymap_remap_identity_default",
    oracle="""
    SELECT COALESCE(m.new_key, c.c_nationkey) AS nationkey, COUNT(*) AS n
    FROM customer c
    LEFT JOIN (SELECT n_nationkey AS old_key, n_nationkey + 100 AS new_key
               FROM nation WHERE n_nationkey < 10) m
      ON c.c_nationkey = m.old_key
    GROUP BY 1
    """,
    covers=("J9", "F17"),
    description="broadcast key-remap with identity fallback (driver-dict replacement)",
)
def keymap_remap_identity_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    keymap = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") < 10)
        .select(
            F.col("n_nationkey").alias("old"),
            (F.col("n_nationkey") + 100).alias("new"),
        )
    )
    return (
        remap_keys(c, "nationkey", keymap)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Window / dedup family (W1-W6)
# ---------------------------------------------------------------------------

@register(
    "dedup_ordered_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_ts_us
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts ASC, event_id ASC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    covers=("W1", "W2", "W6"),
    description="ordered dedup keep-first (Polars sort+unique parity)",
)
def dedup_ordered_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = dedup_keep_first(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.unix_micros("ts").alias("first_ts_us"),
    )


@register(
    "distinct_projection",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    covers=("W3",),
    description="unordered dedup on a projection",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "window_lead_impute",
    oracle="""
    SELECT o_orderkey,
           epoch_us(LEAST(
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             o_orderdate + INTERVAL 30 DAY)) AS est_end_us
    FROM orders
    """,
    covers=("W4", "A5", "P7"),
    description="lead + horizontal-least imputation (t_max parity: observation/transform.py:224-240)",
)
def window_lead_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    est = F.least(
        F.lead("o_orderdate").over(w),
        F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"),
    )
    # o_orderdate scans as TIMESTAMP_NTZ (naive parquet); cast to session
    # (UTC) timestamp for epoch conversion.
    return o.select(
        "o_orderkey", F.unix_micros(est.cast("timestamp")).alias("est_end_us")
    )


@register(
    "surrogate_key_dense",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY n_name) AS nation_id, n_name
    FROM nation
    """,
    covers=("W5",),
    description="contiguous 1-based surrogate keys over a deterministic order",
)
def surrogate_key_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation").select("n_name")
    return surrogate_key(n, "nation_id", ["n_name"]).select("nation_id", "n_name")


@register(
    "surrogate_key_scalable",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS order_sk, o_orderkey
    FROM orders
    """,
    covers=("W5",),
    description="partition-offset surrogate keys (zipWithIndex technique, no global window)",
)
def surrogate_key_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    return surrogate_key_with_count(o, "order_sk", ["o_orderkey"])[0].select(
        "order_sk", "o_orderkey"
    )


# ---------------------------------------------------------------------------
# Scalar kernels (F1-F16) + reshape (R1-R5)
# ---------------------------------------------------------------------------

@register(
    "enum_mapping_priority",
    oracle="""
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 'I'
             WHEN '2-HIGH'   THEN 'I,Q,U,V'
             ELSE NULL END AS pol_states,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    covers=("F16", "P7"),
    description="enum dict-mapping as when/otherwise chain (npol parity)",
)
def enum_mapping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    mapped = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("I"))
        .when(F.col("o_orderpriority") == "2-HIGH", F.lit("I,Q,U,V"))
        .otherwise(F.lit(None).cast("string"))
        .alias("pol_states")
    )
    return mapped.groupBy("pol_states").agg(F.count(F.lit(1)).alias("n"))


@register(
    "regex_extract_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    covers=("F1", "A2"),
    description="regex group extraction from JSON-ish strings + agg",
)
def regex_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "duration_mining_per_row",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(list_aggregate(
             list_transform(
               regexp_extract_all('setup duration=' || CAST(l_linenumber AS VARCHAR)
                                  || ' observe duration=' || CAST(CAST(l_quantity AS INT) AS VARCHAR),
                                  'duration=(\\d+)', 1),
               x -> CAST(x AS DOUBLE)),
             'sum') AS DOUBLE) AS dur_sum
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    covers=("F2", "A1"),
    description="regexp_extract_all + higher-order fold (duration mining, per-row variant)",
)
def duration_mining_per_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    cfg = F.concat(
        F.lit("setup duration="),
        F.col("l_linenumber").cast("string"),
        F.lit(" observe duration="),
        F.col("l_quantity").cast("int").cast("string"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        K.duration_sum_from_config(cfg).alias("dur_sum"),
    )


@register(
    "duration_mining_global",
    oracle="""
    SELECT CAST(SUM(CAST(m AS DOUBLE)) AS DOUBLE) AS total_duration
    FROM (SELECT UNNEST(regexp_extract_all(
            'setup duration=' || CAST(l_linenumber AS VARCHAR)
            || ' observe duration=' || CAST(CAST(l_quantity AS INT) AS VARCHAR),
            'duration=(\\d+)', 1)) AS m
          FROM lineitem WHERE l_orderkey < 1000)
    """,
    covers=("A1", "R1"),
    description="reference-faithful global duration sum (explode→sum collapses to scalar; observation/transform.py:111-132)",
)
def duration_mining_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    cfg = F.concat(
        F.lit("setup duration="),
        F.col("l_linenumber").cast("string"),
        F.lit(" observe duration="),
        F.col("l_quantity").cast("int").cast("string"),
    )
    exploded = li.select(
        F.explode(F.regexp_extract_all(cfg, F.lit(r"duration=(\d+)"), 1)).alias("m")
    )
    return exploded.agg(F.sum(F.col("m").cast("double")).alias("total_duration"))


@register(
    "datetime_round_add",
    oracle="""
    SELECT event_id,
           epoch_us(date_trunc('second', ts + INTERVAL 500 MILLISECOND)
                    + INTERVAL 1 HOUR) AS rounded_plus_1h_us
    FROM events
    """,
    covers=("F8", "F9"),
    description="timestamp round-to-1s (half-up) + interval arithmetic",
)
def datetime_round_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros(
            K.round_timestamp_seconds("ts") + F.expr("INTERVAL 1 HOUR")
        ).alias("rounded_plus_1h_us"),
    )


@register(
    "mjd_of_events",
    oracle="""
    SELECT event_id,
           epoch_us(ts) // 86400 + 40587000000 AS mjd_micro
    FROM events
    """,
    covers=("F14",),
    description="timestamp → Modified Julian Date in exact integer micro-days (native, no astropy UDF)",
)
def mjd_of_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Integer micro-days (floor(mjd*1e6)): float ROUND at high scales is
    # engine-dependent at half boundaries; integer arithmetic is exact.
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.expr("unix_micros(ts) div 86400") + F.lit(40587000000)).alias("mjd_micro"),
    )


@register(
    "hms_dms_to_degrees",
    oracle="""
    SELECT p_partkey,
           ROUND(((p_partkey % 24) + ((p_partkey * 7) % 60) / 60.0
                  + ((p_partkey % 600) / 10.0) / 3600.0) * 15.0, 5) AS ra_deg,
           ROUND((CASE WHEN p_partkey % 2 = 0 THEN -1.0 ELSE 1.0 END)
                 * ((p_partkey % 90) + ((p_partkey * 11) % 60) / 60.0
                    + ((p_partkey % 600) / 10.0) / 3600.0), 5) + 0.0 AS dec_deg
    FROM part
    """,
    covers=("F15", "F3", "R5"),
    description="sexagesimal string build + parse to decimal degrees (astropy-free)",
)
def hms_dms_to_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    # Build "H:M:S.s" strings from integer columns, then parse with the
    # kernel — exercising the string path end-to-end.
    h = (F.col("p_partkey") % 24).cast("int")
    m = ((F.col("p_partkey") * 7) % 60).cast("int")
    s = (F.col("p_partkey") % 600) / 10.0
    hms = F.concat_ws(":", h.cast("string"), m.cast("string"), s.cast("string"))
    sign = F.when(F.col("p_partkey") % 2 == 0, F.lit("-")).otherwise(F.lit("+"))
    d = (F.col("p_partkey") % 90).cast("int")
    dm = ((F.col("p_partkey") * 11) % 60).cast("int")
    dms = F.concat(
        sign, F.concat_ws(":", d.cast("string"), dm.cast("string"), s.cast("string"))
    )
    # `+ 0.0` normalizes IEEE negative zero on both sides (dec "-0:0:0").
    return p.select(
        "p_partkey",
        K.hms_to_degrees(hms).alias("ra_deg"),
        (K.dms_to_degrees(dms) + F.lit(0.0)).alias("dec_deg"),
    )


@register(
    "pos_point_literal",
    oracle="""
    SELECT c_custkey,
           '(' || CAST(CAST(ROUND(c_acctbal, 2) AS DECIMAL(12,2)) AS VARCHAR) || ','
               || CAST(CAST(c_nationkey AS DECIMAL(12,2)) AS VARCHAR) || ')' AS pos
    FROM customer
    """,
    covers=("F4", "F5"),
    description="'(x,y)' PostgreSQL point literal via concat (no UDF)",
)
def pos_point_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    ra = F.round(F.col("c_acctbal"), 2).cast("decimal(12,2)").cast("string")
    dec = F.col("c_nationkey").cast("decimal(12,2)").cast("string")
    return c.select("c_custkey", K.add_parenthesis(F.concat_ws(",", ra, dec)).alias("pos"))


@register(
    "wavelength_bounds",
    oracle="""
    SELECT p_partkey,
           ROUND(299792458.0 / ((p_retailprice + (p_size * 10) / 2.0) * 1000000.0), 12) AS em_min,
           ROUND(299792458.0 / ((p_retailprice - (p_size * 10) / 2.0) * 1000000.0), 12) AS em_max
    FROM part
    WHERE p_retailprice > (p_size * 10)
    """,
    covers=("F12", "F13"),
    description="wavelength band math (em_min/em_max parity: observation/transform.py:249-261)",
)
def wavelength_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    cfreq = F.col("p_retailprice")
    bw = F.col("p_size") * 10
    return (
        p.where(cfreq > bw)
        .select(
            "p_partkey",
            F.round(K.em_min(cfreq, bw), 12).alias("em_min"),
            F.round(K.em_max(cfreq, bw), 12).alias("em_max"),
        )
    )


@register(
    "explode_word_counts",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY w
    """,
    covers=("R1", "F3", "A2"),
    description="split → explode → group count (flatten parity)",
)
def explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Additional operator coverage: zip joins, 1:1 validation, JSON parse,
# datetime string parse, null guards, casts, session windows
# ---------------------------------------------------------------------------

@register(
    "join_zip_rownumber",
    oracle="""
    WITH a AS (SELECT s_suppkey, s_name,
                      ROW_NUMBER() OVER (ORDER BY s_suppkey) AS rn FROM supplier),
         b AS (SELECT l_suppkey, SUM(l_quantity) AS qty,
                      ROW_NUMBER() OVER (ORDER BY l_suppkey) AS rn
               FROM lineitem GROUP BY l_suppkey)
    SELECT a.s_suppkey, a.s_name, ROUND(b.qty, 2) AS total_qty
    FROM a JOIN b ON a.rn = b.rn
    """,
    covers=("J7", "J8", "W5"),
    description="positional zip replaced by row_number key join (hstack parity: observation/transform.py:45,368-369)",
)
def join_zip_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference attaches columns positionally (hstack) assuming two
    # frames share row order. The distributed equivalent: materialize the
    # implied order as an explicit row_number key on BOTH sides and join.
    s = surrogate_key(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"), "rn", ["s_suppkey"]
    )
    agg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )
    b = surrogate_key(agg, "rn", ["l_suppkey"]).drop("l_suppkey")
    return s.join(b, "rn").select("s_suppkey", "s_name", "total_qty")


@register(
    "join_validated_1to1",
    oracle="""
    SELECT c.c_custkey, c.c_name, ROUND(s.spend, 2) AS spend
    FROM customer c
    JOIN (SELECT o_custkey, SUM(o_totalprice) AS spend
          FROM orders GROUP BY o_custkey) s
      ON s.o_custkey = c.c_custkey
    """,
    covers=("J2",),
    description="1:1-validated join against a pre-aggregated frame",
)
def join_validated_1to1(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    s = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    return validated_join(c, s, "c_custkey", how="inner", expect="1:1").select(
        "c_custkey", "c_name", "spend"
    )


@register(
    "from_json_unnest",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    covers=("R3", "R4", "R2"),
    description="typed JSON parse + struct unnest (replaces stringify/literal_eval round-trips)",
)
def from_json_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", F.from_json("props", "k BIGINT").alias("__p")
    )
    return parsed.select("event_id", F.col("__p.k").alias("k"))


@register(
    "datetime_string_parse",
    oracle="""
    SELECT o_orderkey,
           epoch_us(strptime(strftime(o_orderdate, '%Y-%m-%d_%H:%M:%S'),
                             '%Y-%m-%d_%H:%M:%S')) AS parsed_us
    FROM orders
    """,
    covers=("F11", "F10", "F6"),
    description="two-format datetime string round-trip (run-summary %Y-%m-%d_%H:%M:%S parity)",
)
def datetime_string_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = F.date_format("o_orderdate", "yyyy-MM-dd'_'HH:mm:ss")
    return o.select(
        "o_orderkey",
        F.unix_micros(F.to_timestamp(s, "yyyy-MM-dd'_'HH:mm:ss")).alias("parsed_us"),
    )


@register(
    "null_guard_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN CASE WHEN value < 1.0 THEN NULL ELSE value END IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM events GROUP BY event_type
    """,
    covers=("P6", "A3", "A4", "P7"),
    description="null-count / distinct-count guard aggregates (shape-assertion parity)",
)
def null_guard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "__v", F.when(F.col("value") < 1.0, F.lit(None)).otherwise(F.col("value"))
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("value") < 1.0, 1).otherwise(0)).alias("n_low"),
        F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0)).alias("n_null"),
    )


@register(
    "session_window_agg",
    oracle="""
    WITH marked AS (
      -- >= not >: Spark's native session_window is half-open
      -- [start, last+gap) — an event at EXACTLY gap distance starts a
      -- new session. Invisible at the uniform tiers; the x100-zipf
      -- tier (replicated base timestamps remixed onto hot users)
      -- manufactured an exact-gap pair and caught the divergence.
      -- ORDER BY ts, event_id (total order): with duplicate timestamps
      -- (the x100 tier remixes replicated base events onto one user)
      -- an ORDER BY ts alone lets the LAG pass and the SUM pass below
      -- tie-break the equal-ts rows DIFFERENTLY, smearing a
      -- new_session marker across sessions (measured at x100-zipf:
      -- one of two equal-ts rows fused into the prior session).
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM sessions GROUP BY user_id, session_no
    """,
    covers=("W4", "W6", "A2"),
    description="gap-based session windows (native session_window vs gaps-and-islands oracle)",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("__start"),
        )
        .select(
            "user_id",
            F.unix_micros("__start").alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    covers=("P1", "P5", "A2"),
    description="pure filter→agg: the pushdown/codegen microbenchmark",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l.l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    covers=("J1", "J3", "A2", "W6"),
    description="returned-items ranking: fact joins + deterministic top-20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_money_sum_exact().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "topk_orders_per_nation",
    oracle="""
    SELECT n_name, o_orderkey, o_totalprice
    FROM (
      SELECT n.n_name, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY n.n_name
                                ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
      FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey)
    WHERE rn <= 3
    """,
    covers=("W1", "W6", "J1"),
    description="top-k per group via ranked window (grouped top-k pattern)",
)
def topk_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_orderkey", "o_totalprice")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "sql_frontend_q01",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("P1", "A2"),
    description="ANSI-SQL frontend: the same engine driven via spark.sql over registered views",
)
def sql_frontend_q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ska_src_maltopuft_etl_spark.engine.catalog import register_star_schema

    register_star_schema(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "rollup_revenue",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    covers=("A2",),
    description="hierarchical ROLLUP totals (multi-level agg in one pass)",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


@register(
    "percentile_stats",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
    covers=("A2",),
    description="exact interpolated percentiles per group (ordered aggregate)",
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles via the DISTRIBUTED sort-rank operator
    (operators/quantiles.py) — bit-identical to ``F.percentile`` but with
    no per-group executor buffering, the shape that survives groups
    spanning a meaningful fraction of a 100 TB fact."""
    o = _t(spark, sf_dir, "orders")
    ex = exact_percentiles(o, "o_totalprice", [0.5, 0.9], by=["o_orderpriority"])
    pct = ex.groupBy("o_orderpriority").agg(
        F.round(
            F.min(F.when(F.col("prob") == 0.5, F.col("value"))), 4
        ).alias("p50"),
        F.round(
            F.min(F.when(F.col("prob") == 0.9, F.col("value"))), 4
        ).alias("p90"),
    )
    ext = o.groupBy("o_orderpriority").agg(
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )
    return pct.join(ext, "o_orderpriority").select(
        "o_orderpriority", "p50", "p90", "lo", "hi"
    )


@register(
    "window_running_and_moving",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
           ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
           NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS spend_quartile
    FROM orders
    """,
    covers=("W4", "W6"),
    description="running sum, moving average frame, and ntile in one window pass",
)
def window_running_and_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w_time.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(
            F.avg("o_totalprice").over(w_time.rowsBetween(-2, 0)), 4
        ).alias("moving_avg3"),
        F.ntile(4)
        .over(Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey"))
        .alias("spend_quartile"),
    )


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    covers=("A2", "P7"),
    description="pivot (long→wide) event-type counts per user",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@register(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    covers=("J1", "A2", "P5"),
    description="TPC-H Q4 pattern: EXISTS decorrelated to a left-semi join (adapted to the synthetic schema: l_shipdate > o_orderdate stands in for commit/receipt)",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join; Catalyst pushes the date filter below
    the join and the semi join never duplicates order rows."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    covers=("J1", "P7", "A2"),
    description="TPC-H Q12 pattern: fact-fact equi-join + conditional aggregation (adapted: l_returnflag stands in for l_shipmode)",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    covers=("J1", "P7", "A1"),
    description="TPC-H Q14 pattern: broadcast dim join + conditional ratio aggregate",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part is the dimension side — explicitly broadcast so the fact
    scan never shuffles (at 100 TB lineitem is the fact table)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q19_disjunctive_filter",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    covers=("J1", "P5", "P7"),
    description="TPC-H Q19 pattern: disjunctive mixed-table predicate; Catalyst derives single-table conjuncts (p_size/p_brand, l_quantity) and pushes them below the join",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "q02_cheapest_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    best AS (SELECT partkey, MIN(unit_cost) AS min_cost FROM costs GROUP BY 1)
    SELECT c.partkey, c.suppkey,
           CAST(FLOOR(c.unit_cost * 10000) AS BIGINT) AS unit_cost_e4
    FROM costs c JOIN best b
      ON c.partkey = b.partkey AND c.unit_cost = b.min_cost
    """,
    covers=("J1", "A2", "W1"),
    description="TPC-H Q2 pattern: correlated MIN subquery decorrelated to agg + self-join (adapted: unit cost from lineitem stands in for partsupp supplycost)",
)
def q02_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-scalar-subquery shape: the per-part minimum rides
    a window frame over the cost aggregate (one extra shuffle on
    partkey) instead of a second aggregate + self-join (two) — measured
    1.4s -> 1.1s at sf0.1. The comparison on the exact (un-rounded)
    double is safe because both sides derive from identical arithmetic
    within one engine."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    costs = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    w = Window.partitionBy("partkey")
    return (
        costs.withColumn("__min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("__min_cost"))
        .select(
            "partkey",
            "suppkey",
            # floor-scaling (not ROUND) for the display column: Spark's
            # HALF_UP and DuckDB's float round disagree at half
            # boundaries, while floor of the identical double is exact
            F.floor(F.col("unit_cost") * 10000).cast("long").alias("unit_cost_e4"),
        )
    )


@register(
    "cube_event_counts",
    oracle="""
    SELECT event_type,
           CAST(strftime(CAST(ts AS DATE), '%Y-%m-%d') AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY CUBE(event_type, CAST(ts AS DATE))
    """,
    covers=("A2", "P7"),
    description="CUBE grouping sets over (event_type, day): all four grouping combinations in one pass (extension beyond the reference's agg surface)",
)
def cube_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "value"
        )
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "timeseries_gapfill_locf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 1000.0) AS BIGINT)) AS BIGINT)
               AS val_milli
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    spans AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY event_type),
    grid AS (
      SELECT event_type, u.h AS hour
      FROM spans, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS u(h)),
    joined AS (
      SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n, h.val_milli
      FROM grid g LEFT JOIN hourly h
        ON h.event_type = g.event_type AND h.hour = g.hour)
    SELECT event_type, epoch_us(hour) AS hour_us, n,
           n = 0 AS gap_filled,
           CAST(last_value(val_milli IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS val_milli_locf
    FROM joined
    """,
    covers=("W4", "R1", "A2"),
    description=(
        "hypertable-style resampling: dense hourly grid per series "
        "(generate_series explode), zero-fill counts, "
        "last-observation-carried-forward values (time_bucket_gapfill/locf "
        "parity); integer-scaled sums keep the fill values exact"
    ),
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a gap-free hourly grid with LOCF imputation.

    Shape: one keyed aggregate to hourly buckets (map-side partials),
    a per-series span aggregate (|series| rows — broadcast back), a
    sequence-explode to the dense grid (rows = span-hours per series,
    generated distributed, never on the driver), a left join of the
    sparse aggregates onto the grid, and one window for the
    carry-forward. Sums are integer-scaled (floor(value*1000) per row,
    THEN summed) so the fill values are exact under any addition
    order — the float-sum alternative isn't reproducible.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000.0).cast("long")).alias("val_milli"),
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "val_milli",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        F.unix_micros("hour").alias("hour_us"),
        "n",
        (F.col("n") == 0).alias("gap_filled"),
        F.last("val_milli", ignorenulls=True).over(w).alias("val_milli_locf"),
    )


@register(
    "timeseries_gapfill_linear",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(FLOOR(value * 1000.0) AS BIGINT)) AS BIGINT)
               AS val_milli
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    spans AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY event_type),
    grid AS (
      SELECT event_type, u.h AS hour
      FROM spans, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS u(h)),
    joined AS (
      SELECT g.event_type, g.hour, h.val_milli
      FROM grid g LEFT JOIN hourly h
        ON h.event_type = g.event_type AND h.hour = g.hour),
    bracketed AS (
      SELECT event_type, hour, val_milli,
             last_value(val_milli IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             epoch_us(CAST(last_value(CASE WHEN val_milli IS NOT NULL
                                           THEN hour END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS TIMESTAMP))
               AS prev_t,
             first_value(val_milli IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             epoch_us(CAST(first_value(CASE WHEN val_milli IS NOT NULL
                                            THEN hour END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS TIMESTAMP))
               AS next_t
      FROM joined)
    SELECT event_type, epoch_us(hour) AS hour_us,
           val_milli IS NULL AS interpolated,
           CASE
             WHEN val_milli IS NOT NULL THEN CAST(val_milli AS DOUBLE)
             WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
             WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
             ELSE CAST(prev_v AS DOUBLE)
                  + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                    * (CAST(epoch_us(hour) - prev_t AS DOUBLE)
                       / CAST(next_t - prev_t AS DOUBLE))
           END AS val_milli_interp
    FROM bracketed
    """,
    covers=("W4", "R1", "P7"),
    description=(
        "linear-interpolation gap fill: bracket each gap with the previous/"
        "next observed point via ignoreNulls window edges, interpolate in a "
        "single fixed-order float expression (bit-reproducible)"
    ),
)
def timeseries_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free hourly series with linear interpolation.

    Same dense-grid build as `timeseries_gapfill_locf`; imputation
    brackets each missing point with last(ignoreNulls) looking back
    and first(ignoreNulls) looking forward (two windows over one
    sort), then one arithmetic expression interpolates. Series edges
    degrade to nearest-observed. All inputs to the float expression
    are exact integers (scaled values, epoch micros), and the
    expression is written with one operation order — identical bits
    in both engines.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000.0).cast("long")).alias("val_milli")
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["event_type", "hour"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_t = F.when(
        F.col("val_milli").isNotNull(), F.col("hour")
    )
    b = joined.select(
        "event_type",
        "hour",
        "val_milli",
        F.last("val_milli", ignorenulls=True).over(back).alias("prev_v"),
        F.unix_micros(F.last(obs_t, ignorenulls=True).over(back)).alias("prev_t"),
        F.first("val_milli", ignorenulls=True).over(fwd).alias("next_v"),
        F.unix_micros(F.first(obs_t, ignorenulls=True).over(fwd)).alias("next_t"),
    )
    interp = (
        F.col("prev_v").cast("double")
        + (F.col("next_v").cast("double") - F.col("prev_v").cast("double"))
        * (
            (F.unix_micros("hour") - F.col("prev_t")).cast("double")
            / (F.col("next_t") - F.col("prev_t")).cast("double")
        )
    )
    return b.select(
        "event_type",
        F.unix_micros("hour").alias("hour_us"),
        F.col("val_milli").isNull().alias("interpolated"),
        F.when(F.col("val_milli").isNotNull(), F.col("val_milli").cast("double"))
        .when(F.col("prev_v").isNull(), F.col("next_v").cast("double"))
        .when(F.col("next_v").isNull(), F.col("prev_v").cast("double"))
        .otherwise(interp)
        .alias("val_milli_interp"),
    )


@register(
    "time_range_moving_stats",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h,
           ROUND(SUM(value) OVER w, 4) AS sum_value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    covers=("W4", "W6", "P5"),
    description="time-based RANGE window frame: per-user trailing-1h event count and value sum (value-based frame, not row-based)",
)
def time_range_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames bound by VALUE distance (here: time) — the frame is
    a set, so peers tie consistently in any engine; expressed over
    epoch micros to keep the boundary arithmetic exact."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_value_1h"),
    )


@register(
    "incremental_agg_events",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 2) AS value_sum,
           ROUND(SUM(value) / COUNT(value), 4) AS value_mean,
           ROUND(SUM(value * value) / COUNT(value)
                 - (SUM(value) / COUNT(value)) * (SUM(value) / COUNT(value)),
                 4) AS value_var,
           MIN(value) AS value_min,
           MAX(value) AS value_max
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=("A2", "A3", "A4", "K3"),
    description=(
        "incremental aggregate maintenance: per-type stats computed by "
        "splitting events into two batches, building mergeable state per "
        "batch, merging states, and finalizing — oracle recomputes from "
        "the full table, proving state-merge == full recompute"
    ),
)
def incremental_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two disjoint batches (event_id parity) → per-batch mergeable
    state → merged state → finalized stats. The driver's oracle
    aggregates the union directly; hash-match proves the monoid
    decomposition (operators/incremental_agg.py) is exact."""
    from ska_src_maltopuft_etl_spark.operators import incremental_agg as ia

    ev = _t(spark, sf_dir, "events")
    batch_a = ev.where(F.col("event_id") % 2 == 0)
    batch_b = ev.where(F.col("event_id") % 2 == 1)
    st_a = ia.aggregate_state(batch_a, ["event_type"], "value")
    st_b = ia.aggregate_state(batch_b, ["event_type"], "value")
    merged = ia.merge_states(st_a, st_b, ["event_type"])
    out = ia.finalize(merged, ["event_type"])
    return out.select(
        "event_type",
        "n_rows",
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_mean", 4).alias("value_mean"),
        F.round("value_var", 4).alias("value_var"),
        F.col("value_min"),
        F.col("value_max"),
    ).orderBy("event_type")


@register(
    "scd2_customer_segments",
    oracle="""
    WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
    batch AS (
      SELECT c_custkey AS k,
             CASE WHEN c_acctbal > 5000 THEN 'PREMIUM' ELSE c_mktsegment END AS seg
      FROM customer
      UNION ALL
      SELECT c_custkey + 100000, 'NEW' FROM customer WHERE c_custkey < 5
    ),
    t1 AS (SELECT epoch_us(TIMESTAMP '1995-01-01 00:00:00') AS us),
    t2 AS (SELECT epoch_us(TIMESTAMP '1997-01-01 00:00:00') AS us)
    SELECT cur.k, cur.seg,
           (SELECT us FROM t1) AS valid_from_us,
           CAST(NULL AS BIGINT) AS valid_to_us
    FROM cur JOIN batch ON cur.k = batch.k AND cur.seg = batch.seg
    UNION ALL
    SELECT cur.k, cur.seg, (SELECT us FROM t1), (SELECT us FROM t2)
    FROM cur JOIN batch ON cur.k = batch.k AND cur.seg <> batch.seg
    UNION ALL
    SELECT batch.k, batch.seg, (SELECT us FROM t2), CAST(NULL AS BIGINT)
    FROM batch JOIN cur ON cur.k = batch.k AND cur.seg <> batch.seg
    UNION ALL
    SELECT batch.k, batch.seg, (SELECT us FROM t2), CAST(NULL AS BIGINT)
    FROM batch ANTI JOIN cur ON cur.k = batch.k
    """,
    covers=("K2", "J4", "W1"),
    description=(
        "type-2 SCD maintenance (sinks/scd2.py): fold a segment-change "
        "batch into a versioned customer dimension — changed keys close "
        "the current version and open a new one, history is append-only; "
        "the oracle rebuilds the same dimension with explicit joins"
    ),
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-outer join on the natural key; changed keys fan out to
    (closed, new) via an exploded struct array — no window, no second
    shuffle. At 100 TB the dimension and batch co-partition on the key."""
    from ska_src_maltopuft_etl_spark.sinks.scd2 import scd2_apply

    t1 = F.lit("1995-01-01 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer")
    existing = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        t1.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    batch = c.select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_acctbal") > 5000, "PREMIUM")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    ).unionByName(
        c.where(F.col("c_custkey") < 5).select(
            (F.col("c_custkey") + 100000).alias("k"), F.lit("NEW").alias("seg")
        )
    )
    dim = scd2_apply(
        existing, batch, ["k"], ["seg"], "1997-01-01 00:00:00"
    )
    return dim.select(
        "k",
        "seg",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
    covers=("R3", "R4", "A2"),
    description=(
        "semi-structured VariantType path (Spark 4): parse_json -> "
        "variant_get typed extraction -> aggregation; the open-schema "
        "dual of the typed from_json_unnest query (no schema declared "
        "at parse time)"
    ),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType keeps the parsed tree in a compact binary form, so
    repeated path extractions avoid re-tokenizing the JSON text and
    unknown fields survive — the right default for evolving telemetry
    schemas at scale (vs from_json's fixed StructType)."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "revenue_exact_decimal",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l.l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(38,4)) AS VARCHAR)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    covers=("J1", "A2"),
    description=(
        "scale-exact money aggregation: DECIMAL-typed sum. A double sum "
        "of 12M money values is order-nondeterministic in its last two "
        "decimals (measured at the x100 tier: Spark-vs-DuckDB relative "
        "spread 6e-14, and DuckDB disagrees with ITSELF by 0.27 across "
        "thread counts — IEEE-754 association, not engine error). "
        "Decimal addition is associative, so this twin is hash-identical "
        "between engines at ANY tier and partitioning — the money path "
        "a 100 TB ledger needs. Prices/discounts are 2-decimal by "
        "construction, so the decimal(18,2) casts are exact; the "
        "certificate surface is the EXACT sum rendered at its native "
        "scale 4 as a fixed-scale string — zero floating-point anywhere, "
        "so hash equality cannot depend on cross-engine decimal->double "
        "rounding parity (round-11 ADVICE fix)."
    ),
)
def revenue_exact_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_orderpriority")
    )
    return li.join(od, "l_orderkey").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
        )
        .cast("decimal(38,4)")
        .cast("string")
        .alias("revenue"),
    )


@register(
    "approx_distinct_accuracy",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_5pct
    FROM events
    GROUP BY event_type
    """,
    covers=("A2", "A4"),
    description=(
        "HyperLogLog++ distinct counting with a verifiable bound: the "
        "Spark side computes BOTH approx_count_distinct (rsd=2%) and the "
        "exact count, emitting whether the estimate landed within 5% — "
        "the oracle emits the exact count and TRUE, so the hash match "
        "PROVES the sketch met its tolerance on this data"
    ),
)
def approx_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB approx_count_distinct is the only sane default for
    high-cardinality distincts (fixed-size sketch, one pass, mergeable
    across partitions); this query keeps it honest against the exact
    answer at test scale."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("__est"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__est") - F.col("exact_users"))
                <= F.col("exact_users") * 0.05
            ).alias("hll_within_5pct"),
        )
    )


@register(
    "approx_quantile_accuracy",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 2) AS p25_exact,
           ROUND(quantile_cont(l_extendedprice, 0.75), 2) AS p75_exact,
           TRUE AS sketch_within_rank_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    covers=("A2", "A3"),
    description=(
        "Greenwald-Khanna quantile sketch with a verifiable rank bound: "
        "percentile_approx(accuracy=1000) estimates must land between "
        "the exact p-2% and p+2% quantiles; oracle emits exact quantiles "
        "+ TRUE, so the hash match proves the rank-error contract"
    ),
)
def approx_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx's GK sketch guarantees rank error <= n/accuracy;
    the check brackets each estimate between exact quantiles +-2% of
    rank — the form of the guarantee itself. The exact side runs on the
    DISTRIBUTED sort-rank operator (operators/quantiles.py), not the
    built-in value-buffering ``percentile`` aggregate, so the
    verification query itself carries the 100 TB-safe shape."""
    li = _t(spark, sf_dir, "lineitem")
    probs = [0.23, 0.25, 0.27, 0.73, 0.75, 0.77]
    ex = exact_percentiles(li, "l_extendedprice", probs, by=["l_returnflag"])

    def _at(p: float):
        return F.min(F.when(F.col("prob") == p, F.col("value")))

    exw = ex.groupBy("l_returnflag").agg(
        *[_at(p).alias(f"__e{i}") for i, p in enumerate(probs)]
    )
    ap = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_approx(l_extendedprice, array(0.25, 0.75), 1000)"
        ).alias("__ap")
    )
    return exw.join(ap, "l_returnflag").select(
        "l_returnflag",
        F.round(F.col("__e1"), 2).alias("p25_exact"),
        F.round(F.col("__e4"), 2).alias("p75_exact"),
        (
            (F.col("__ap")[0] >= F.col("__e0"))
            & (F.col("__ap")[0] <= F.col("__e2"))
            & (F.col("__ap")[1] >= F.col("__e3"))
            & (F.col("__ap")[1] <= F.col("__e5"))
        ).alias("sketch_within_rank_tol"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
      GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS n_view_click,
           CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS n_view_click_purchase
    """,
    covers=("A2", "J1", "P5"),
    description=(
        "ordered funnel analysis: users progressing view -> click -> "
        "purchase in strict timestamp order (each stage's anchor is the "
        "EARLIEST qualifying event after the previous stage) — the "
        "event-sequence pattern the reference's batch model never needed"
    ),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stage aggregates chained by broadcast joins on the (small)
    converted-user set; the raw event scan is touched once per stage
    with the stage's type filter pushed down. Microsecond timestamps
    are exact integers, so the strict-after comparisons cannot drift
    between engines."""
    ev = _t(spark, sf_dir, "events")

    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    return (
        t1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(
            t3.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
        )
    )


@register(
    "cohort_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
      FROM events)
    SELECT strftime(CAST(f.cohort_week AS DATE), '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                          CAST(a.activity_week AS DATE)) / 7 AS INTEGER)
             AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    covers=("A2", "A4", "J1", "F6"),
    description=(
        "cohort retention matrix: users bucketed by first-seen ISO week, "
        "distinct-active counts per (cohort, week offset) — the standard "
        "product-analytics rollup"
    ),
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregates over one scan lineage joined on user_id. The
    cohort frame is one row per user — scale-proportional, so no forced
    broadcast: AQE picks the strategy (broadcast locally, shuffled
    hash at cluster scale where users outgrow executor memory)."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(
                    F.to_date("activity_week"), F.to_date("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "data_quality_report",
    oracle="""
    SELECT 'non_null:l_orderkey' AS expectation,
           CAST(COUNT(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'non_null:l_partkey',
           CAST(COUNT(*) FILTER (l_partkey IS NULL) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'between:l_discount[0,0.08]',
           CAST(COUNT(*) FILTER (l_discount IS NULL OR l_discount < 0
                                 OR l_discount > 0.08) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'between:l_quantity[1,45]',
           CAST(COUNT(*) FILTER (l_quantity IS NULL OR l_quantity < 1
                                 OR l_quantity > 45) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'regex:l_returnflag',
           CAST(COUNT(*) FILTER (l_returnflag IS NULL
                                 OR NOT regexp_matches(l_returnflag, '^[ARN]$'))
                AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'unique:l_orderkey,l_linenumber',
           CAST(COALESCE(SUM(n), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'fk:l_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    covers=("P6", "A2", "J1"),
    description=(
        "declarative data-quality gate (operators/expectations.py): all "
        "row-level expectations (non-null, range, regex) counted in ONE "
        "aggregate over one scan, set-level rules (uniqueness, FK "
        "integrity) as keyed jobs — the distributed replacement for the "
        "reference's per-row Pydantic validation"
    ),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ska_src_maltopuft_etl_spark.operators import expectations as X

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return X.quality_report(
        li,
        [
            X.expect_non_null("l_orderkey", "l_partkey"),
            X.expect_between("l_discount", 0, 0.08),
            X.expect_between("l_quantity", 1, 45),
            X.expect_regex("l_returnflag", "^[ARN]$"),
            X.expect_unique("l_orderkey", "l_linenumber"),
            X.expect_fk("l_orderkey", o, "o_orderkey"),
        ],
    )


@register(
    "window_distribution_funcs",
    oracle="""
    SELECT s_suppkey,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
    covers=("W5", "W6"),
    description=(
        "window distribution functions (ntile / percent_rank / "
        "cume_dist) over a total order — completes the ranking-function "
        "family beyond row_number/lead"
    ),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-order window on a dimension-sized table (100 rows) — at
    fact scale these would partition by a key; the total-order tie-break
    (acctbal desc, then pk) keeps every engine's assignment identical."""
    from pyspark.sql import Window

    s = _t(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return s.select(
        "s_suppkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "set_intersect_except",
    oracle="""
    WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
         finished AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE o_orderstatus = 'F')
    SELECT 'both' AS bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM finished)
    UNION ALL
    SELECT 'urgent_only', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM finished)
    """,
    covers=("U1", "P5", "A2"),
    description=(
        "INTERSECT / EXCEPT set semantics (distinct-based, null-safe) — "
        "completes the set-operator family beyond UNION"
    ),
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    ).distinct()
    finished = o.where(F.col("o_orderstatus") == "F").select(
        "o_custkey"
    ).distinct()
    both = urgent.intersect(finished).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("both").alias("bucket"), "n")
    only = urgent.exceptAll(finished).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("urgent_only").alias("bucket"), "n")
    return both.unionByName(only)


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderstatus), ())
    """,
    covers=("A2", "P7"),
    description=(
        "arbitrary GROUPING SETS (neither pure cube nor rollup) with "
        "GROUPING() disambiguation of produced NULLs vs data NULLs — "
        "completes the grouping family beyond CUBE/ROLLUP"
    ),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets aren't exposed in the DataFrame API —
    this goes through the SQL frontend over a registered view, the same
    single-pass expand+aggregate plan CUBE/ROLLUP compile to."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), ())
        """
    )


@register(
    "map_type_event_profile",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchases,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS errors,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    """,
    covers=("A2", "R5", "P7"),
    description=(
        "MapType round-trip: per-user event-type counts built as a "
        "map<string,bigint> column (map_from_entries over a collected "
        "struct list), then accessed with element_at / map_keys — the "
        "map-column family of the type system, absent elsewhere"
    ),
)
def map_type_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map column is the engine-side artifact under test; the
    output projects plain columns out of it so the oracle (which has no
    equivalent map representation) compares values, not encodings."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    profiled = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "__n"))
        ).alias("__profile")
    )
    return profiled.select(
        "user_id",
        F.coalesce(F.element_at("__profile", "purchase"), F.lit(0)).alias(
            "purchases"
        ),
        F.coalesce(F.element_at("__profile", "error"), F.lit(0)).alias(
            "errors"
        ),
        F.size(F.map_keys("__profile")).cast("long").alias("n_types"),
    )
