"""Query catalog: the SURVEY.md §2 operator inventory as runnable queries.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
The driver compares row count + schema + order-insensitive value hash,
so every computed column is aliased identically on both sides and
floating-point aggregates are rounded identically (sums of doubles are
order-sensitive in the last ulps; ROUND makes both engines agree).

Kudu delegates all of these relational operators to Spark/Impala
(SURVEY.md §2.3-§2.8); what the engine itself contributes is the scan
surface they run over. The scans here run on the driver's raw parquet
tables; engine-table versions (with mutation/time-travel semantics)
live in kudu_spark.engine and are exercised by the mutation queries.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# name -> (spark_fn, oracle_sql | None, gated)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None, bool]] = {}


def query(name: str, oracle: str | None = None, gated: bool = True):
    """Register a query. ``gated=True`` entries are exported to the
    driver's correctness gate, which caps at 50 queries — exactly 50
    are gated so no operator family silently falls past the cap.
    ``gated=False`` entries stay pytest-verified (same DuckDB oracle
    comparison at sf0.001) and benchable, just not driver-gated; they
    are redundant variants of families already gated."""

    def deco(fn):
        REGISTRY[name] = (fn, oracle, gated)
        return fn

    return deco


# Catalog-style schema cache (r15, guide §4 driver-side overhead):
# spark.read.parquet() runs a footer-reading schema-inference job on
# every call — 60-125 ms per table per query CONSTRUCTION, the largest
# single slice of the ~0.2 s fixed per-query overhead. Supplying the
# schema skips that job (12-25 ms). This caches ONLY the inferred
# StructType per parquet path — exactly what a metastore/catalog holds.
# No data, no query results, and no plan state are cached: every
# execution still scans the parquet files. Entries are keyed by path
# and checked against one os.stat fingerprint (inode, mtime), so a
# dataset rewritten at the same path is re-inferred, not read through
# its old schema.
_SCHEMA_CACHE: dict[str, tuple] = {}


def _stat_fingerprint(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = f"{sf_dir}/{table}.parquet"
    if table == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as long and truncate to micros (lossless
        # here — the generator emits whole-microsecond values).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fp = _stat_fingerprint(path)
    cached_fp, schema = _SCHEMA_CACHE.get(path, (None, None))
    if schema is None or cached_fp != fp:
        df = spark.read.parquet(path)
        schema = df.schema
        _SCHEMA_CACHE[path] = (fp, schema)
    else:
        df = spark.read.schema(schema).parquet(path)
    if table == "events" and any(
        f.name == "ts" and f.dataType.simpleString() == "bigint" for f in schema.fields
    ):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


# ---------------------------------------------------------------------------
# §2.1/§2.2 — scans, projections, predicates (Kudu's native query surface)
# ---------------------------------------------------------------------------


@query(
    "scan_project_predicate",
    gated=False,  # r12 rotation: long-green since r1; scan family stays via engine_* scans
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag IN ('R','A')
      AND l_quantity >= 10 AND l_quantity < 20
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def scan_project_predicate(spark, sf_dir):
    """Projected + predicated scan: Kudu's core read op.

    Reference: column pruning tserver/tablet_service.cc:2930-2990;
    predicates column_predicate.h:85-149 (equality/range/IN).
    Catalyst pushes all three predicate kinds into the parquet scan.
    """
    l = load(spark, sf_dir, "lineitem")
    return l.where(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") < 20)
        & (F.col("l_shipdate") >= _ts("1997-01-01"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "scan_key_lookup",
    gated=False,  # r12 rotation: long-green since r1; point-lookup covered by engine_decimal_pk_scan
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    FROM lineitem WHERE l_orderkey = 2000
    """,
)
def scan_key_lookup(spark, sf_dir):
    """Point lookup by PK prefix (whitepaper Q4, kudu.tex:981-983)."""
    l = load(spark, sf_dir, "lineitem")
    return l.where(F.col("l_orderkey") == 2000).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )


@query(
    "scan_count_star",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
    gated=False,  # r12 rotation: long-green since r1; scan family stays
    # gated via key_lookup/project_predicate/json_props; pytest oracles
)
def scan_count_star(spark, sf_dir):
    """Zero-column scan / COUNT(*) fast path (whitepaper Q2, kudu.tex:979)."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "scan_count_nonkey_pred",
    oracle="SELECT count(*) AS n_rows FROM lineitem WHERE l_quantity = 48",
    gated=False,  # COUNT(*) family gated via scan_count_star
)
def scan_count_nonkey_pred(spark, sf_dir):
    """COUNT(*) with non-key predicate (whitepaper Q3, kudu.tex:980)."""
    l = load(spark, sf_dir, "lineitem")
    return l.where(F.col("l_quantity") == 48).agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "scan_null_predicates",
    gated=False,  # rotated out r8 for engine_merge_scan (long-green since
    # r1; null-predicate shape stays pytest-oracled and covered by
    # scan_project_predicate's pushdown assertions)
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE props IS NOT NULL AND value IS NOT NULL
      AND event_type = 'error' AND user_id >= 0
    """,
)
def scan_null_predicates(spark, sf_dir):
    """IS NULL / IS NOT NULL predicates (column_predicate.h:126-131)."""
    e = load(spark, sf_dir, "events")
    return e.where(
        F.col("props").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("event_type") == "error")
        & (F.col("user_id") >= 0)
    ).select("event_id", "user_id", "event_type")


@query(
    "scan_like_prefix",
    gated=False,  # rotated out r8 for engine_sql_txn_scan (long-green
    # since r1; LIKE-prefix rewrite stays pytest-oracled)
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part WHERE p_brand LIKE 'Brand#1%' AND p_size >= 25
    """,
)
def scan_like_prefix(spark, sf_dir):
    """LIKE 'prefix%' → range predicate rewrite (DefaultSource.scala:406-414)."""
    p = load(spark, sf_dir, "part")
    return p.where(F.col("p_brand").startswith("Brand#1") & (F.col("p_size") >= 25)).select(
        "p_partkey", "p_name", "p_brand"
    )


@query(
    "scan_in_list",
    gated=False,  # IN-predicate family gated via scan_project_predicate's isin
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey IN (3, 271, 1927, 27137, 54021, 111222, 999999999)
      AND o_orderstatus IN ('O', 'F')
    """,
)
def scan_in_list(spark, sf_dir):
    """Multi-key point-lookup batch via IN-lists (column_predicate.h:85
    InList; planner-side analogue scan_spec.cc:170) — the predicate
    shape the write-path PK probe uses; pushes to parquet as In()."""
    o = load(spark, sf_dir, "orders")
    return o.where(
        F.col("o_orderkey").isin(3, 271, 1927, 27137, 54021, 111222, 999999999)
        & F.col("o_orderstatus").isin("O", "F")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@query(
    "scan_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    gated=False,  # rotated out for engine_txn_scan (r5): redundant with
    # the ordered-scan family; pytest-oracled + benched
)
def scan_limit_topk(spark, sf_dir):
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (scan_spec.h:151 LIMIT;
    top-k absent in reference, SURVEY §2.6). Tiebreak on PK for determinism."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.4 — aggregations (TPC-H Q1 harness = tpch1.cc:117-210)
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    gated=False,  # r13 rotation: driver-green since r1 (also a bench
    # headline and entry()'s smoke query — entry() stays pointed here
    # regardless of gating); agg family stays pytest-oracled
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 — the reference's own benchmark query (tpch1.cc:31-57)."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_revenue_filter",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    gated=False,  # rotated out for engine_decimal_pk_scan (r5): the Q6
    # shape stays gated via tpch_q19/q14; pytest-oracled + benched
)
def agg_revenue_filter(spark, sf_dir):
    """TPC-H Q6 shape: tight range predicates + single global aggregate."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "agg_distinct_counts",
    gated=False,  # r12 rotation: long-green since r1; agg family stays
    # gated via pricing_summary/rollup; pytest runs the same oracle
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey)  AS n_orders,
           count(DISTINCT l_partkey)   AS n_parts,
           count(*)                    AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_counts(spark, sf_dir):
    """COUNT(DISTINCT) — absent in reference storage (SURVEY §2.4), Spark built-in."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_rollup",
    gated=False,  # r12 rotation: long-green since r1; agg family stays via agg_pricing_summary
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark, sf_dir):
    """ROLLUP grouping sets — Spark built-in (SURVEY §2.4 'absent in reference')."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# §2.3 — joins (delegated to Spark; InBloomFilter ≈ semi-join pushdown)
# ---------------------------------------------------------------------------


@query(
    "join_shipping_priority",
    gated=False,  # r12 rotation: long-green since r1; join family stays
    # gated ×4 (volume/returned/anti/semi-bloom); pytest oracles
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, order_date
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def join_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, top-10 by revenue.

    Scale: customer is fact-scale (~15M rows at SF100), so its
    broadcast is planner-chosen (AQE + autoBroadcastJoinThreshold),
    never forced — the reference's own Spark integration asserts
    planned, not forced, BroadcastHashJoin
    (java/kudu-spark/.../SparkSQLTest.scala:33)."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < _ts("1998-03-15"))
    l = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "order_date")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "join_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join. Plan: the region restriction is
    pushed through nation into SUPPLIER before any fact join (the
    nation⋈region product is ≤25 rows, broadcast unconditionally), so
    lineitem is cut to the region's suppliers (~20% at uniform
    nations) in its first join instead of carrying every row through
    the whole chain. customer/supplier are fact-scale at SF100, so
    their own join strategy stays planner-chosen."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    s2 = s.join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey")).select(
        "s_suppkey", "s_nationkey", "n_name"
    )
    return (
        l.join(s2, l.l_suppkey == F.col("s_suppkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "join_semi_bloom",
    gated=False,  # r13 rotation: driver-green since r2; the bloom scan
    # predicate stays pytest-oracled + pushdown-tested
    oracle="""
    SELECT count(*) AS n_rows
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
    """,
)
def join_semi_bloom(spark, sf_dir):
    """Semi-join ≈ Kudu's InBloomFilter predicate pushdown
    (column_predicate.h:143-149, client.h:1763-1806): the build side
    filters the probe scan. Spark: left-semi join; the planner picks
    broadcast when the key set is small, and the runtime bloom-filter
    rewrite (session.py) covers the large-build case — an unconditional
    key-set broadcast would not survive ~4M filtered keys at SF100."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_size") > 40).select("p_partkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "join_anti_orders_without_lineitems",
    gated=False,  # r12 rotation: long-green since r1; anti-join shape stays via join_semi_bloom
    oracle="""
    SELECT count(*) AS n_rows
    FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """,
)
def join_anti_orders_without_lineitems(spark, sf_dir):
    """Anti join (NOT EXISTS) — the primitive our INSERT duplicate-check
    uses (tablet.cc:836 InsertOrUpsertUnlocked ≈ anti-join against snapshot)."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "join_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def join_returned_item_customers(spark, sf_dir):
    """TPC-H Q10 shape: returned-items revenue per customer, top 20."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1997-01-01")) & (F.col("o_orderdate") < _ts("1997-07-01"))
    )
    l = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §2.5 — window functions (delegated to Spark)
# ---------------------------------------------------------------------------


@query(
    "window_user_activity",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER w                                   AS rn,
           round(lag(value) OVER w, 2)                           AS prev_value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    gated=False,  # r11 rotation: long-green since r1; window family
    # keeps window_session_events + window_tumbling_events gated
)
def window_user_activity(spark, sf_dir):
    """row_number / lag / running sum per user (SURVEY §2.5 — Spark built-ins)."""
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2).alias(
            "running_value"
        ),
    )


@query(
    "window_top3_orders_per_customer",
    gated=False,  # ranking-window family gated via window_session_events
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_top3_orders_per_customer(spark, sf_dir):
    """Top-K per group via ranking window — common OLAP pattern."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.7 — set operations (delegated to Spark)
# ---------------------------------------------------------------------------


@query(
    "setop_except_intersect",
    gated=False,  # r12 rotation: long-green since r1; pytest-oracled
    oracle="""
    SELECT 'only_open' AS side, count(*) AS n FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'both' AS side, count(*) AS n FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def setop_except_intersect(spark, sf_dir):
    """EXCEPT / INTERSECT / UNION ALL (SURVEY §2.7 — engine-side in Kudu's world)."""
    o = load(spark, sf_dir, "orders")
    open_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    done_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    only_open = open_c.exceptAll(done_c).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_open").alias("side"), "n"
    )
    both = open_c.intersect(done_c).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("side"), "n"
    )
    return only_open.unionAll(both)


def _load_registry() -> None:
    # late imports register their REGISTRY entries on first use
    from kudu_spark import pipeline_queries  # noqa: F401
    from kudu_spark import engine_queries  # noqa: F401
    from kudu_spark import tpch_queries  # noqa: F401


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gated queries (≤ 50, the driver's cap)."""
    _load_registry()
    return {name: fn for name, (fn, _, gated) in REGISTRY.items() if gated}


def get_oracles() -> dict[str, str]:
    _load_registry()
    return {
        name: sql for name, (_, sql, gated) in REGISTRY.items() if sql is not None and gated
    }


def get_all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, gated or pytest-only (bench + tests)."""
    _load_registry()
    return {name: fn for name, (fn, _, _) in REGISTRY.items()}


def get_all_oracles() -> dict[str, str]:
    _load_registry()
    return {name: sql for name, (_, sql, _) in REGISTRY.items() if sql is not None}
