"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query through the space_spark table API.
``queries()``   — one entry per implemented operator (SURVEY.md §2 +
                  the training-data operators).
``oracle_sql()``— DuckDB-equivalent SQL for every SQL-expressible query.

Cross-engine determinism rules used throughout (Spark partial aggregation
reorders float additions, DuckDB does not, so raw SUM(double) is NOT
reproducible):
- money sums:  SUM(CAST(ROUND(x*100) AS BIGINT))/100.0  — integer sums are
  order-independent; the per-row double arithmetic is IEEE-identical in
  both engines.
- ranks: computed over ROUNDED scores with an id tie-break.
- dot products: explicit same-order summation on both sides.
- timestamps: compared as strings or integer epoch seconds.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

EMB_DIM = 64


# --------------------------------------------------------------------- utils
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp literals in filters are interpreted in the SESSION timezone
    # while DuckDB is timezone-naive — pin UTC regardless of how the
    # harness built the session (dynamic SQL conf, safe to set per query).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The generator has written events.ts either as INT64 TIMESTAMP(NANOS)
    # (Spark 4 rejects it unless read as a long) or as timestamp[us].
    # Queries are written against the engine-neutral epoch-nanos long, so
    # normalize the timestamp variant to that exact representation (session
    # tz is pinned UTC by _t, matching DuckDB's timezone-naive epoch_ns).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if not isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp_ltz")) * 1000)
            .cast("long"),
        )
    return ev


def money_sum(col, alias: str):
    """Order-independent, cross-engine-exact sum of a currency double."""
    return (F.sum(F.round(col * 100).cast("long")) / F.lit(100.0)).alias(alias)


def MONEY_SUM(expr: str, alias: str) -> str:
    return f"SUM(CAST(ROUND(({expr})*100) AS BIGINT))/100.0 AS {alias}"


def money_avg(col, alias: str):
    return (
        F.sum(F.round(col * 100).cast("long"))
        / (F.lit(100.0) * F.count(F.lit(1)))
    ).alias(alias)


def MONEY_AVG(expr: str, alias: str) -> str:
    return (
        f"SUM(CAST(ROUND(({expr})*100) AS BIGINT))/(100.0*COUNT(*)) AS {alias}"
    )


def _dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    """Explicit left-to-right dot product (matches Spark's aggregate fold)."""
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def _cosine_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"({_dot_sql(a, b, dim)} / "
        f"(SQRT({_dot_sql(a, a, dim)}) * SQRT({_dot_sql(b, b, dim)})))"
    )


def _planes():
    """The LSH hyperplane constants shared by the Spark operators AND the
    SQL oracles — plain Python floats, inlined as literals on both sides,
    so bucket bits are computed from bit-identical doubles everywhere."""
    from space_spark.operators.similarity import _hyperplanes

    return _hyperplanes(EMB_DIM, 8, seed=42)


def _bucket_sql(col: str) -> str:
    """Sign-bit LSH bucket in SQL: same plane order, same left-to-right
    double fold as space_spark.operators.similarity.lsh_bucket."""
    bits = []
    for i, plane in enumerate(_planes()):
        dot = " + ".join(
            f"CAST({col}[{j + 1}] AS DOUBLE)*({w!r})"
            for j, w in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _hash60_sql(col: str) -> str:
    """DuckDB mirror of operators.dedup._hash60_cross_engine (first 15 md5
    hex digits as a 60-bit integer)."""
    return f"('0x' || substring(md5({col}), 1, 15))::BIGINT"


def _simhash_sql() -> str:
    """Per-document 60-bit SimHash from md5 token hashes — identical bit
    votes to operators.dedup.simhash's numpy kernel."""
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(60)
    )
    return f"""
  toks AS (
    SELECT doc_id AS doc,
           UNNEST(list_filter(
             regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x <> '')) AS tok
    FROM documents
  ), th AS (
    SELECT doc, {_hash60_sql('tok')} AS h FROM toks
  ), sig AS (
    SELECT doc, {terms} AS simhash FROM th GROUP BY doc
  )"""


def _jaccard_sql(threshold: float) -> str:
    """All-pairs exact token-3-gram Jaccard >= threshold (the shared
    oracle for the exact inverted-index operator and — by recall-sufficient
    construction — the MinHash-LSH operator)."""
    return f"""
WITH tw AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc,
    list_filter(list_distinct(list_transform(
      generate_series(0, GREATEST(len(w) - 3, 0)),
      i -> array_to_string(w[i+1:i+3], ' ')
    )), x -> x <> '') AS shingles
  FROM tw
), ex AS (
  SELECT doc, len(shingles) AS n_shingles, UNNEST(shingles) AS shingle
  FROM sh
), pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_shingles AS na,
         b.n_shingles AS nb, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, ROUND(common / (na + nb - common), 6) AS jaccard
FROM pairs WHERE ROUND(common / (na + nb - common), 6) >= {threshold}
"""


def _space_tmp() -> str:
    """Temp table location, removed at interpreter exit (a bench run
    builds ~10 throwaway space tables; don't leak them into /tmp)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix="space_q_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# ---------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Load sf0.001 lineitem into a space_spark table and answer a pricing
    query through the table API (snapshot read + manifest pruning +
    Catalyst agg)."""
    from space_spark import Dataset, field

    sf_dir = "/root/testdata/sf0.001"
    src = _t(spark, sf_dir, "lineitem").withColumn(
        "l_rowid", F.monotonically_increasing_id()
    )
    schema = T.StructType(
        [T.StructField("l_rowid", T.LongType())]
        + [f for f in src.schema.fields if f.name != "l_rowid"]
    )
    ds = Dataset.create(spark, _space_tmp() + "/lineitem", schema, ["l_rowid"])
    ds.append(src.select(*schema.fieldNames()))
    df = ds.read(
        filter_=(field("l_quantity") > 10.0) & (field("l_discount") < 0.08)
    )
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ================================================================= QUERIES
# --- TPC-H-ish analytic queries -------------------------------------------
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            money_sum(F.col("l_extendedprice"), "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(charge, "sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            money_avg(F.col("l_extendedprice"), "avg_price"),
            F.round(
                F.sum(F.round(F.col("l_discount") * 100).cast("long"))
                / (F.lit(100.0) * F.count(F.lit(1))), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  SUM(l_quantity) AS sum_qty,
  {MONEY_SUM('l_extendedprice', 'sum_base_price')},
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'sum_disc_price')},
  {MONEY_SUM('l_extendedprice*(1-l_discount)*(1+l_tax)', 'sum_charge')},
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  {MONEY_AVG('l_extendedprice', 'avg_price')},
  ROUND(SUM(CAST(ROUND(l_discount*100) AS BIGINT))/(100.0*COUNT(*)), 6)
    AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    cutoff = "1997-06-01"
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "c_mktsegment")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey").asc()
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("c_mktsegment", "l_orderkey", "revenue", "rnk")
    )


Q3_SQL = f"""
WITH rev AS (
  SELECT l_orderkey, c_mktsegment,
    {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate < TIMESTAMP '1997-06-01'
    AND l_shipdate > TIMESTAMP '1997-06-01'
  GROUP BY l_orderkey, c_mktsegment
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY c_mktsegment ORDER BY revenue DESC, l_orderkey) AS rnk
  FROM rev
)
SELECT c_mktsegment, l_orderkey, revenue, rnk FROM ranked WHERE rnk <= 5
"""


def q5_local_supplier_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_regionkey") < 3)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND r_regionkey < 3
GROUP BY n_name
"""


def q6_revenue_change(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(money_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


Q6_SQL = f"""
SELECT {MONEY_SUM('l_extendedprice*l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-07-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
    {MONEY_SUM('l_extendedprice*(1-l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_order_rollup(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             money_sum(F.col("o_totalprice"), "total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n", "total",
        )
    )


Q_ROLLUP_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n, {MONEY_SUM('o_totalprice', 'total')}
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_pivot_status(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


Q_PIVOT_SQL = """
SELECT o_orderpriority,
  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
"""


def q_window_top_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


Q_WINDOW_TOP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_window_user_events(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.coalesce(F.lag("event_type").over(w), F.lit("none"))
        .alias("prev_type"),
    )


Q_WINDOW_EVENTS_SQL = """
SELECT user_id, event_id,
  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
  COALESCE(LAG(event_type) OVER (
    PARTITION BY user_id ORDER BY ts, event_id), 'none') AS prev_type
FROM events
"""


def q_sessionize(spark, sf_dir):
    """Session = events of a user separated by <= 30 min gaps (gap-based
    sessionization with window cumsum — the batch analog of
    session_window)."""
    ev = _events(spark, sf_dir).withColumn(
        "es", F.expr("ts div 1000000000")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    sess = (
        ev.withColumn("gap", F.col("es") - F.lag("es").over(w))
        .withColumn(
            "new_s",
            F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1)
            .otherwise(0),
        )
        .withColumn("session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )


Q_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es FROM events
), gaps AS (
  SELECT user_id, event_id, es,
    CASE WHEN es - LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
              > 1800
         OR LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id) IS NULL
    THEN 1 ELSE 0 END AS new_s
  FROM e
), sess AS (
  SELECT user_id,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       SUM(n_events)::BIGINT AS total_events
FROM per_session GROUP BY user_id
"""


def q_tumbling_window(spark, sf_dir):
    """5-minute tumbling-window aggregation over the event stream (batch
    equivalent of a Structured Streaming windowed agg)."""
    ev = _events(spark, sf_dir).withColumn(
        "bucket", F.expr("(ts div 1000000000) div 300")
    )
    return ev.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("value"), "sum_value"),
    ).select(
        (F.col("bucket") * 300).alias("bucket_start"), "event_type", "n",
        "sum_value",
    )


Q_TUMBLING_SQL = f"""
SELECT (epoch_ns(ts)//1000000000//300)*300 AS bucket_start, event_type,
  COUNT(*) AS n, {MONEY_SUM('value', 'sum_value')}
FROM events GROUP BY 1, 2
"""


def q_semi_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300000)
    small = orders.where(F.col("o_totalprice") < 20000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(small, cust.c_custkey == small.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


Q_SEMI_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice < 20000)
"""


def q_brand_supplier_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


Q_BRAND_SQL = """
SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers,
  COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_items,
  SUM(l_quantity) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q2_min_bal_supplier(spark, sf_dir):
    """Q2 shape: per part, the lowest-balance supplier that shipped it
    (min-per-group + join-back, ties broken by supplier key)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey") \
        .distinct()
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_acctbal")
    )
    # Single-pass min-per-group + winner selection via a window: one
    # shuffle on p_partkey instead of re-deriving the join tree for a
    # join-back against the mins (the naive Q2 shape runs the 3-way join
    # twice).
    w = Window.partitionBy("p_partkey")
    winners = (
        j.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .groupBy("p_partkey", "p_brand", "min_bal")
        .agg(F.min("s_suppkey").alias("s_suppkey"))
    )
    return winners.select("p_partkey", "p_brand", "s_suppkey", "min_bal")


Q2_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), j AS (
  SELECT p_partkey, p_brand, s_suppkey, s_acctbal
  FROM pairs
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
), mins AS (
  SELECT p_partkey AS mk, MIN(s_acctbal) AS min_bal FROM j GROUP BY 1
)
SELECT j.p_partkey, j.p_brand, MIN(j.s_suppkey) AS s_suppkey, mins.min_bal
FROM j JOIN mins ON j.p_partkey = mins.mk AND j.s_acctbal = mins.min_bal
GROUP BY j.p_partkey, j.p_brand, mins.min_bal
"""


def q7_nation_volume(spark, sf_dir):
    """Q7 shape: shipping volume between distinct nation pairs per year."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, supp.s_nationkey == n1.sk)
        .join(n2, cust.c_nationkey == n2.ck)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                       "volume"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'volume')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name != n2.n_name
GROUP BY 1, 2, 3
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """Q17 shape: revenue from lineitems below 50%% of their part's average
    quantity (correlated-aggregate decorrelated into a join)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # Quantities are integral doubles, so AVG is order-independent exact.
    # Per-part average via a window: ONE shuffle on l_partkey and one
    # lineitem scan, vs the decorrelated groupBy + join-back which scans
    # lineitem twice.
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            money_sum(F.col("l_extendedprice"), "total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q17_SQL = f"""
WITH avgs AS (
  SELECT l_partkey AS ak, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT {MONEY_SUM('l_extendedprice', 'total_price')}, COUNT(*) AS n_items
FROM lineitem JOIN avgs ON l_partkey = ak
WHERE l_quantity < 0.5 * avg_qty
"""


def q12_late_shipments(spark, sf_dir):
    """Q12 shape: per order priority, how many lineitems shipped more than
    90 days after the order date (epoch-second arithmetic keeps the
    comparison engine-exact)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = (
        F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
        > 90 * 86400
    )
    return j.groupBy("o_orderpriority").agg(
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
        F.count(F.lit(1)).alias("n_total"),
    )


Q12_SQL = """
SELECT o_orderpriority,
  SUM(CASE WHEN epoch(l_shipdate) - epoch(o_orderdate) > 90*86400
      THEN 1 ELSE 0 END)::BIGINT AS n_late,
  COUNT(*) AS n_total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q14_promo_revenue_share(spark, sf_dir):
    """Q14 shape: share of revenue from PROMO-type parts (ratio of two
    exact integer-domain sums -> engine-exact double)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev_cents)
                    .otherwise(F.lit(0).cast("long")))
            / F.sum(rev_cents),
            6,
        ).alias("promo_share_pct")
    )


Q14_SQL = """
SELECT ROUND(
  100.0 * SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)
              ELSE 0 END)
        / SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)),
  6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q19_bracketed_revenue(spark, sf_dir):
    """Q19 shape: OR-of-AND brackets over brand/size/quantity."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1)
         & (F.col("l_quantity") <= 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#12") & (F.col("l_quantity") >= 10)
           & (F.col("l_quantity") <= 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#15") & (F.col("l_quantity") >= 20)
           & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 15))
    )
    return j.where(cond).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = f"""
SELECT {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')},
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#12' AND l_quantity BETWEEN 10 AND 20
       AND p_size <= 10)
   OR (p_brand = 'Brand#15' AND l_quantity BETWEEN 20 AND 30
       AND p_size <= 15)
"""


def q4_priority_with_late_item(spark, sf_dir):
    """Q4 shape: orders in early 1996 with at least one lineitem shipped
    more than 30 days after the order date, counted per priority —
    EXISTS decorrelated into a left-semi join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
           > 30 * 86400),
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND epoch(l_shipdate) - epoch(o_orderdate) > 30*86400)
GROUP BY o_orderpriority
"""


def q10_returned_revenue(spark, sf_dir):
    """Q10 shape: top-20 customers by revenue on returned items (rounded
    revenue desc, custkey asc — deterministic cut)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    rev = j.groupBy("c_custkey", "c_name", "c_mktsegment").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue")
    )
    return rev.orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    ).limit(20)


Q10_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment,
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q13_order_count_distribution(spark, sf_dir):
    """Q13 shape: distribution of orders-per-customer including
    zero-order customers (left join + two-level aggregate)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_custs")
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS n_custs
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""


def q18_large_volume_customers(spark, sf_dir):
    """Q18 shape: customers whose single order carries > 300 total
    quantity, with the order details (group-having + joins)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice",
                "total_qty")
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q22_idle_rich_customers(spark, sf_dir):
    """Q22 shape: per market segment, customers with above-average
    positive balance and NO orders (scalar subquery + anti-join).
    Balance average runs in the integer money domain — engine-exact."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
         / (F.lit(100.0) * F.count(F.lit(1)))).alias("ab")
    )
    rich = cust.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("ab")
    )
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                     "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        money_sum(F.col("c_acctbal"), "total_bal"),
    )


Q22_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_custs,
  {MONEY_SUM('c_acctbal', 'total_bal')}
FROM customer
WHERE c_acctbal > (
    SELECT SUM(CAST(ROUND(c_acctbal*100) AS BIGINT))/(100.0*COUNT(*))
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q8_market_share(spark, sf_dir):
    """Q8 shape: per order-year, the share of ASIA-region ECONOMY-part
    revenue delivered by suppliers from NATION_3 (two independent nation
    joins — customer side picks the region, supplier side the share).
    Share = exact-integer money numerator / denominator, rounded to 6."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key")
    )
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("sn_key"),
                          F.col("n_name").alias("supp_nation"))
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", cents)
                  .otherwise(F.lit(0))).alias("num"),
            F.sum(cents).alias("den"),
        )
        .select(
            "o_year",
            F.round(F.col("num") / F.col("den"), 6).alias("mkt_share"),
        )
    )


Q8_SQL = """
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
             / SUM(cents), 6) AS mkt_share
FROM (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         n2.n_name AS supp_nation,
         CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT) AS cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01')
GROUP BY o_year
"""


def q9_product_profit(spark, sf_dir):
    """Q9 shape: revenue from '%widget%' parts by supplier nation and
    order year (the testdata has no partsupp table, so profit omits the
    supplycost term — revenue-only, exact in the integer money domain)."""
    part = _t(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    )
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("sn_key"),
                          F.col("n_name").alias("nation"))
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return j.groupBy(
        "nation", F.year("o_orderdate").alias("o_year")
    ).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "profit")
    )


Q9_SQL = f"""
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'profit')}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, o_year
"""


def q11_important_balance(spark, sf_dir):
    """Q11 shape (scalar-subquery HAVING): nations whose total supplier
    account balance exceeds 2% of the global total. The testdata has no
    partsupp, so supplier balance stands in for stock value; the
    having-threshold compares exact integer cent sums on both sides."""
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cents = F.round(F.col("s_acctbal") * 100).cast("long")
    per_nation = (
        supp.join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("cents_bal"))
    )
    total = supp.agg(F.sum(cents).alias("total_cents"))
    return (
        per_nation.join(F.broadcast(total))
        .where(F.col("cents_bal") * 50 > F.col("total_cents"))
        .select("n_name",
                (F.col("cents_bal") / 100.0).alias("total_bal"))
    )


Q11_SQL = """
SELECT n_name, SUM(CAST(ROUND(s_acctbal*100) AS BIGINT))/100.0 AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) * 50 >
  (SELECT SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) FROM supplier)
"""


def q16_supplier_part_count(spark, sf_dir):
    """Q16 shape: distinct supplier count per (brand, type, size) for
    shipped parts, excluding one brand, a type prefix, and suppliers in
    deficit (the NOT-IN subquery of the original, acctbal < 0 standing in
    for the complaints predicate). Supplier-part pairs come from lineitem
    (no partsupp in the testdata)."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "BRAND_1")
        & (~F.col("p_type").startswith("SMALL"))
        & (F.col("p_size") < 30)
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'BRAND_1' AND p_type NOT LIKE 'SMALL%' AND p_size < 30
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q20_surplus_suppliers(spark, sf_dir):
    """Q20 shape (nested semi-join chain): suppliers who shipped more
    than 50 units of any 'red%' part during 1996. Shipped quantity from
    lineitem stands in for partsupp availqty; the quantity sum runs in
    exact integer centiunits so the > threshold is order-independent."""
    part = _t(spark, sf_dir, "part").where(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
             .alias("qty_cents"))
        .where(F.col("qty_cents") > 5000)
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) > 5000)
"""


def q21_waiting_suppliers(spark, sf_dir):
    """Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order ('late' = shipped more than 60 days
    after the order date; the testdata has no commit/receipt dates).
    Spark-first formulation: instead of the original's EXISTS + NOT
    EXISTS double self-scan, one groupBy over the order computes
    (distinct suppliers, distinct late suppliers) and the late rows
    join back — a single lineitem pass plus one shuffle."""
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        (F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
         > 60 * 86400),
    )
    late_supp = F.when(F.col("is_late"), F.col("l_suppkey"))
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late_supp"),
        # With exactly one late supplier (the filter below), max() IS
        # that supplier, and the late-row count is attributable to it —
        # so the join-back second lineitem pass is unnecessary.
        F.max(late_supp).alias("late_supp"),
        F.sum(F.when(F.col("is_late"), 1).otherwise(0))
        .alias("n_late_rows"),
    ).where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(supp),
                       per_order.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("long").alias("numwait"))
    )


Q21_SQL = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (epoch(l_shipdate) - epoch(o_orderdate) > 60*86400) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), culprit_orders AS (
  SELECT l_orderkey
  FROM j
  GROUP BY l_orderkey
  HAVING COUNT(DISTINCT l_suppkey) > 1
     AND COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM j
JOIN culprit_orders USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE is_late
GROUP BY s_name
"""


def q_asof_signup(spark, sf_dir):
    """As-of join (absent in the reference, SURVEY.md §2.3): for each
    event, the user's most recent signup-event time at or before it."""
    from space_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).withColumn(
        "es", F.expr("ts div 1000000000")
    )
    left = ev.select("user_id", "event_id", "es")
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("es")
    ).distinct().withColumn("signup_es", F.col("es"))
    out = asof_join(left, right, on="es", by="user_id",
                    value_cols=["signup_es"])
    return out.select("user_id", "event_id", "es",
                      F.col("signup_es_asof").alias("last_signup_es"))


Q_ASOF_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es FROM events
), s AS (
  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000 AS signup_es
  FROM events WHERE event_type = 'signup'
)
SELECT e.user_id, e.event_id, e.es, s.signup_es AS last_signup_es
FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.es >= s.signup_es
"""


def q_range_band(spark, sf_dir):
    """Range (interval-containment) join: lineitem quantities into static
    quantity bands — bucketized equi-join, not a nested loop."""
    from space_spark.operators.joins import range_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber",
                                              "l_quantity")
    # Literal dim as a JVM-side VALUES relation (no Python-RDD plan).
    bands = spark.sql(
        "SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi"
        " FROM VALUES ('q00', 0.0, 9.99), ('q10', 10.0, 19.99),"
        " ('q20', 20.0, 29.99), ('q30', 30.0, 39.99), ('q40', 40.0, 50.0)"
        " AS t(band, lo, hi)"
    )
    out = range_join(li, bands, "l_quantity", "lo", "hi", bucket_size=10.0)
    return out.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


Q_RANGE_SQL = """
SELECT band, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
FROM lineitem
JOIN (VALUES ('q00', 0.0, 9.99), ('q10', 10.0, 19.99), ('q20', 20.0, 29.99),
             ('q30', 30.0, 39.99), ('q40', 40.0, 50.0)) AS b(band, lo, hi)
  ON l_quantity >= lo AND l_quantity <= hi
GROUP BY band
"""


def q_grouping_sets(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               -- 100.0D: Spark SQL parses a bare 100.0 literal as DECIMAL
               -- (unlike F.lit), which would decimal-type the division.
               SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0D AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
    """)


Q_GROUPING_SETS_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n, {MONEY_SUM('o_totalprice', 'total')}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (identical linear-interpolation
    semantics in Spark percentile() and DuckDB quantile_cont)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90"),
        F.round(F.min("c_acctbal"), 4).alias("lo"),
        F.round(F.max("c_acctbal"), 4).alias("hi"),
    )


Q_PERCENTILES_SQL = """
SELECT c_mktsegment,
  ROUND(quantile_cont(c_acctbal, 0.5)::DOUBLE, 4) AS p50,
  ROUND(quantile_cont(c_acctbal, 0.9)::DOUBLE, 4) AS p90,
  ROUND(MIN(c_acctbal), 4) AS lo,
  ROUND(MAX(c_acctbal), 4) AS hi
FROM customer GROUP BY c_mktsegment
"""


def q_string_functions(spark, sf_dir):
    """Scalar string-function surface over part names."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("upper_name"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


Q_STRING_SQL = """
SELECT p_partkey, UPPER(p_name) AS upper_name,
  substring(p_name, 1, 5) AS prefix5,
  length(p_name)::BIGINT AS name_len,
  concat_ws('|', p_brand, p_type) AS brand_type,
  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
FROM part
"""


# --- space table API parity queries ---------------------------------------
def space_filter_project(spark, sf_dir):
    """S1-S4,P1-P3: create/append/read with manifest pruning + projection."""
    from space_spark import Dataset, field

    nation = _t(spark, sf_dir, "nation")
    ds = Dataset.create(
        spark, _space_tmp() + "/nation", nation.schema, ["n_nationkey"]
    )
    ds.append(nation)
    return ds.read(
        filter_=field("n_regionkey") == 2, fields=["n_nationkey", "n_name"]
    )


SPACE_FILTER_SQL = """
SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2
"""


def space_rename_read(spark, sf_dir):
    """Schema evolution: column RENAME is metadata-only over immutable
    physical names (core/dataset.py rename_column — the evolution the
    reference's field-ID design reserves, core/schema/arrow.py:28-31).
    Appends before AND after two renames (one PK), filters on a renamed
    column, and reads mixed-era files through one logical schema."""
    from space_spark import Dataset, field

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/cust_rn", cust.schema, ["c_custkey"]
    )
    half = cust.where(F.col("c_custkey") % 2 == 0)
    ds.append(half)
    ds.rename_column("c_custkey", "customer_id")
    ds.rename_column("c_acctbal", "balance")
    ds.append(
        cust.where(F.col("c_custkey") % 2 == 1)
        .withColumnRenamed("c_custkey", "customer_id")
        .withColumnRenamed("c_acctbal", "balance")
    )
    return ds.read(
        filter_=field("balance") >= 0.0,
        fields=["customer_id", "c_name", "balance"],
    )


SPACE_RENAME_SQL = """
SELECT c_custkey AS customer_id, c_name, c_acctbal AS balance
FROM customer WHERE c_acctbal >= 0.0
"""


def space_delete_read(spark, sf_dir):
    """M4: copy-on-write delete."""
    from space_spark import Dataset, field

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/supplier", supp.schema, ["s_suppkey"]
    )
    ds.append(supp)
    ds.delete(field("s_acctbal") < 1000.0)
    return ds.read()


SPACE_DELETE_SQL = """
SELECT * FROM supplier WHERE NOT (s_acctbal < 1000.0)
"""


def space_mor_delete(spark, sf_dir):
    """Merge-on-read delete: positional delete vectors, no data-file
    rewrite (Iceberg-v2-style; beyond the reference). The read
    anti-joins the active vectors; a second MoR delete accumulates."""
    from space_spark import Dataset, field

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/supplier_mor", supp.schema, ["s_suppkey"]
    )
    ds.append(supp)
    ds.delete(field("s_acctbal") < 1000.0, rewrite=False)
    ds.delete(field("s_nationkey") == 3, rewrite=False)
    return ds.read()


SPACE_MOR_SQL = """
SELECT * FROM supplier
WHERE NOT (s_acctbal < 1000.0) AND NOT (s_nationkey = 3)
"""


def space_bitmap_changelog(spark, sf_dir):
    """A copy-on-write predicate delete's DELETE stream, read through
    ``diff`` across the delete's snapshot. The bitmap changelog form
    (the reference's RowBitmap change log, metadata.proto:160-191) was
    removed: the PK deletes log is the table's one delete changelog, so
    this query keeps its name and oracle but reads the PK stream."""
    from space_spark import Dataset, field
    from space_spark.core.dataset import CHANGE_DELETE, CHANGE_TYPE_COL

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/supplier_bm", supp.schema, ["s_suppkey"]
    )
    ds.append(supp)
    v_before = ds.current_snapshot_id
    ds.delete(field("s_acctbal") < 1000.0)
    return ds.diff(v_before, ds.current_snapshot_id).where(
        F.col(CHANGE_TYPE_COL) == CHANGE_DELETE
    ).select("s_suppkey")


SPACE_BITMAP_SQL = """
SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
"""


def space_upsert_read(spark, sf_dir):
    """M3: upsert = delete matching PKs + append."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/customer", cust.schema, ["c_custkey"]
    )
    ds.append(cust)
    updates = cust.where(F.col("c_custkey") < 100).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    ds.upsert(updates)
    return ds.read(fields=["c_custkey", "c_name", "c_acctbal"])


SPACE_UPSERT_SQL = """
SELECT c_custkey,
  CASE WHEN c_custkey < 100 THEN 'UPDATED' ELSE c_name END AS c_name,
  CASE WHEN c_custkey < 100 THEN 0.0 ELSE c_acctbal END AS c_acctbal
FROM customer
"""


def space_merge_read(spark, sf_dir):
    """MERGE INTO (round 9, core/dataset.py merge): conditional
    reconcile in ONE commit — matched rows update only when the source
    balance is HIGHER (the idempotent-ingest guard, here true exactly
    for even keys), unmatched source rows insert, matched-but-stale
    rows stay untouched. Matched probe rides read_by_keys (range+bloom
    pruned); the net change lands through apply_changes (write-first,
    fused dup check, single snapshot)."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/customer", cust.schema, ["c_custkey"]
    )
    ds.append(cust)
    updates = cust.where(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.lit("MERGED").alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal")
         + F.when(F.col("c_custkey") % 2 == 0, F.lit(1000.0))
         .otherwise(F.lit(-1000.0))).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = cust.where(F.col("c_custkey") < 50).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("INSERTED").alias("c_name"),
        "c_nationkey",
        F.lit(1.5).alias("c_acctbal"),
        "c_mktsegment",
    )
    ds.merge(
        updates.unionByName(inserts),
        matched_condition=lambda s, t: s["c_acctbal"] > t["c_acctbal"],
    )
    return ds.read(fields=["c_custkey", "c_name", "c_acctbal"])


def space_merge_full(spark, sf_dir):
    """Full Delta MERGE surface in one statement (round 10): matched
    rows take a guarded partial update, unmatched source rows insert
    only when a source-side condition holds, and target rows ABSENT
    from the source (WHEN NOT MATCHED BY SOURCE) expire or get marked
    stale — first-match-wins across the by-source clauses. One
    snapshot commit; the by-source branch is the one inherently
    O(table) clause type (anti-join against the broadcast source
    keys), everything else rides the pruned matched probe."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/customer_mf", cust.schema, ["c_custkey"]
    )
    ds.append(cust)
    src_upd = cust.where(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.lit("SRC").alias("c_name"),
        F.lit(-2).alias("c_nationkey"),
        (F.col("c_acctbal")
         + F.when(F.col("c_custkey") % 2 == 0, F.lit(1000.0))
         .otherwise(F.lit(-1000.0))).alias("c_acctbal"),
        F.lit("SRCSEG").alias("c_mktsegment"),
    )
    src_ins = cust.where(F.col("c_custkey") < 60).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("INS").alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    ds.merge(
        src_upd.unionByName(src_ins),
        when_matched=[
            {"action": "update",
             "condition": lambda s, t: s["c_acctbal"] > t["c_acctbal"],
             "set": {"c_acctbal": lambda s, t: s["c_acctbal"],
                     "c_name": F.lit("UP")}},
        ],
        when_not_matched=[
            {"action": "insert",
             "condition": lambda s: s["c_acctbal"] > 0},
        ],
        when_not_matched_by_source=[
            {"action": "delete",
             "condition": lambda t: t["c_acctbal"] < -900},
            {"action": "update",
             "condition": lambda t: t["c_custkey"] % 7 == 0,
             "set": {"c_mktsegment": F.lit("STALE")}},
        ],
    )
    return ds.read()


SPACE_MERGE_FULL_SQL = """
WITH src AS (
  SELECT c_custkey,
         c_acctbal + CASE WHEN c_custkey % 2 = 0
                          THEN 1000.0 ELSE -1000.0 END AS s_bal
  FROM customer WHERE c_custkey < 200
), m AS (
  SELECT t.c_custkey,
         CASE WHEN s.c_custkey IS NOT NULL AND s.s_bal > t.c_acctbal
              THEN 'UP' ELSE t.c_name END AS c_name,
         t.c_nationkey,
         CASE WHEN s.c_custkey IS NOT NULL AND s.s_bal > t.c_acctbal
              THEN s.s_bal ELSE t.c_acctbal END AS c_acctbal,
         CASE WHEN s.c_custkey IS NULL AND NOT (t.c_acctbal < -900)
                   AND t.c_custkey % 7 = 0
              THEN 'STALE' ELSE t.c_mktsegment END AS c_mktsegment,
         (s.c_custkey IS NULL AND t.c_acctbal < -900) AS drop_row
  FROM customer t LEFT JOIN src s USING (c_custkey)
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM m WHERE NOT drop_row
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, 'INS' AS c_name,
       c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey < 60 AND c_acctbal > 0
"""


def space_constraint_read(spark, sf_dir):
    """CHECK constraints (round 10, core/dataset.py
    _encode_constraints/_constraint_violation_names — Delta ALTER
    TABLE ADD CONSTRAINT analog; beyond the reference): declared in
    the same closed Expr algebra as manifest pruning, enforced
    WRITE-FIRST — shard files land, then one pushed-down scan of just
    those files (compliant row groups are falsified by their own
    stats, so clean ingest pays footer reads); the incoming DataFrame
    is never evaluated twice. A poisoned batch must abort before
    commit, leaving the table exactly as the first append left it —
    which is what the oracle checks."""
    from space_spark import Dataset, field
    from space_spark.errors import ConstraintViolationError

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/cons", cust.schema, ["c_custkey"],
        check_constraints={
            "bal_floor": field("c_acctbal") >= -1000.0,
            "key_pos": field("c_custkey") >= 0,
        },
    )
    ds.append(cust)
    poison = cust.where(F.col("c_custkey") <= 20).select(
        (F.col("c_custkey") + 500000).alias("c_custkey"),
        "c_name", "c_nationkey",
        F.lit(-99999.0).alias("c_acctbal"), "c_mktsegment",
    )
    try:
        ds.append(poison)
        raise AssertionError("CHECK constraint was not enforced")
    except ConstraintViolationError:
        pass
    return ds.read()


SPACE_CONSTRAINT_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
"""


def space_not_null_read(spark, sf_dir):
    """NOT NULL constraints (round 11 surface, first oracled round 12;
    core/dataset.py _validate_not_null/add_not_null — Delta ``ALTER
    TABLE ... SET NOT NULL`` analog; beyond the reference): a distinct
    constraint type because SQL CHECK passes NULL rows. Declared at
    CREATE for one column and ADDED post-hoc for another (the add
    validates existing rows with one index-only scan and pins the
    branch head + constraints_version across validation — both TOCTOU
    directions closed, see add_constraint). Enforcement is write-first
    on the just-written shard files: a NULL batch aborts before
    commit, leaving the table exactly as the clean append left it —
    which is what the oracle checks."""
    from space_spark import Dataset
    from space_spark.errors import ConstraintViolationError

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/nn", cust.schema, ["c_custkey"],
        not_null=["c_name"],
    )
    ds.append(cust)
    # Post-hoc add: existing rows validate clean, future NULLs refuse.
    ds.add_not_null("c_mktsegment")
    poison = cust.where(F.col("c_custkey") <= 20).select(
        (F.col("c_custkey") + 500000).alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
        "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    try:
        ds.append(poison)
        raise AssertionError("NOT NULL(c_name) was not enforced")
    except ConstraintViolationError:
        pass
    poison2 = cust.where(F.col("c_custkey") <= 20).select(
        (F.col("c_custkey") + 600000).alias("c_custkey"),
        "c_name", "c_nationkey", "c_acctbal",
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    try:
        ds.append(poison2)
        raise AssertionError("added NOT NULL(c_mktsegment) not enforced")
    except ConstraintViolationError:
        pass
    return ds.read()


SPACE_NOT_NULL_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
"""


def space_clustered_read(spark, sf_dir):
    """Persistent clustering declaration (round 11 surface, first
    oracled round 12; core/dataset.py cluster_spec /_validate_cluster_
    spec/set_clustering — Delta ``CLUSTER BY`` analog; beyond the
    reference): the layout is a TABLE PROPERTY, not a per-writer
    convention — ``append`` carries NO cluster arguments here, yet the
    files land range-partitioned on o_custkey because the spec applies
    by default, and manifest min/max pruning then selects a strict
    subset of files for the key-range read (asserted). Distinct from
    space_lineitem_clustered, whose clustering is per-call. The spec
    is asserted to survive a fresh Dataset.load; the ALTER surface
    (set_clustering change/clear/restore) is pinned by
    tests/test_cluster_spec.py, not this query."""
    from space_spark import Dataset, field

    orders = _t(spark, sf_dir, "orders")
    ds = Dataset.create(
        spark, _space_tmp() + "/clus", orders.schema, ["o_orderkey"],
        cluster_by=["o_custkey"],
    )
    ds.append(orders, target_files=16)
    # SF-relative key range (the 2nd quarter of the custkey span) so
    # the same fixture prunes at every scale factor; the oracle SQL
    # derives the identical bounds with integer floor division.
    b = orders.agg(F.min("o_custkey").alias("lo"),
                   F.max("o_custkey").alias("hi")).collect()[0]  # 1 row
    lo = b.lo + (b.hi - b.lo) // 4
    hi = b.lo + (b.hi - b.lo) // 2
    flt = (field("o_custkey") >= lo) & (field("o_custkey") < hi)
    n_all = len(ds.data_files())
    n_hit = len(ds.data_files(filter_=flt))
    assert 0 < n_hit < n_all, (n_hit, n_all)
    # The declaration is metadata: a fresh handle sees it.
    ds2 = Dataset.load(spark, ds.location)
    assert ds2.metadata.cluster_spec == {"cols": ["o_custkey"],
                                         "kind": "range"}
    return ds.read(filter_=flt).groupBy("o_orderstatus").agg(
        money_sum(F.col("o_totalprice"), "total_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
    )


SPACE_CLUSTERED_SQL = f"""
WITH b AS (
  SELECT MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 4 AS lo,
         MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 2 AS hi
  FROM orders
)
SELECT o_orderstatus,
  {MONEY_SUM('o_totalprice', 'total_price')},
  COUNT(*) AS n_orders,
  MIN(o_custkey) AS min_cust,
  MAX(o_custkey) AS max_cust
FROM orders, b
WHERE o_custkey >= b.lo AND o_custkey < b.hi
GROUP BY o_orderstatus
"""


def space_overwrite_read(spark, sf_dir):
    """INSERT OVERWRITE (round 10, core/dataset.py overwrite): full
    replacement in one snapshot — new files land write-first, the old
    rows' primary keys dump DISTRIBUTED into a directory-valued
    delete-stream entry so diff()/CDC/MV refresh replay the overwrite,
    time travel still reaches the old content (asserted). Read returns
    the replacement (region re-keyed), which is what the oracle
    checks; a stale result would mean the swap wasn't atomic."""
    from space_spark import Dataset

    region = _t(spark, sf_dir, "region")
    ds = Dataset.create(
        spark, _space_tmp() + "/ovw", region.schema, ["r_regionkey"]
    )
    ds.append(region)
    v_old = ds.current_snapshot_id
    ds.overwrite(
        region.select(
            (F.col("r_regionkey") + 500).cast("int").alias("r_regionkey"),
            F.upper("r_name").alias("r_name"),
        )
    )
    assert ds.read(version=v_old).count() == region.count()
    assert ds.diff(v_old, None).where(
        F.col("_change_type") == "DELETE"
    ).count() == region.count()
    return ds.read()


SPACE_OVERWRITE_SQL = """
SELECT r_regionkey + 500 AS r_regionkey, upper(r_name) AS r_name
FROM region
"""


def space_update_read(spark, sf_dir):
    """UPDATE ... SET ... WHERE (round 10, core/dataset.py update —
    Delta UPDATE analog; beyond the reference): column assignments over
    a manifest-pruned matched read, riding upsert's write-first
    single-commit path — cost O(matching files), CDF encodes the
    standard DELETE+ADD pair per updated row. Here: 10% price markup
    and a reclassification for low-balance suppliers."""
    from space_spark import Dataset, field

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/upd", supp.schema, ["s_suppkey"]
    )
    ds.append(supp)
    matched = ds.read(
        filter_=(field("s_acctbal") < 0.0) | (field("s_suppkey") < 5)
    ).count()
    assert matched > 0, "update fixture must match at every SF"
    ds.update(
        (field("s_acctbal") < 0.0) | (field("s_suppkey") < 5),
        {"s_name": "FLAGGED",
         "s_acctbal": F.col("s_acctbal") * 1.1},
    )
    return ds.read().select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


SPACE_UPDATE_SQL = """
SELECT s_suppkey,
       CASE WHEN s_acctbal < 0.0 OR s_suppkey < 5 THEN 'FLAGGED'
            ELSE s_name END AS s_name,
       s_nationkey,
       CASE WHEN s_acctbal < 0.0 OR s_suppkey < 5 THEN s_acctbal * 1.1
            ELSE s_acctbal END AS s_acctbal
FROM supplier
"""


def space_rollback_read(spark, sf_dir):
    """Rollback to an ancestor snapshot (round 10, core/dataset.py
    rollback — Iceberg rollback_to_snapshot semantics; metadata-only
    branch rewind, instant at any table size): append region, append a
    poisoned batch, roll the branch back, append the corrected batch —
    the read must show base + corrected only, and the abandoned
    snapshot must still be time-travelable (asserted) until expiry."""
    from space_spark import Dataset

    region = _t(spark, sf_dir, "region")
    ds = Dataset.create(
        spark, _space_tmp() + "/rollbk", region.schema, ["r_regionkey"]
    )
    ds.append(region)
    v_base = ds.current_snapshot_id
    ds.append(
        region.select(
            (F.col("r_regionkey") + 100).cast("int").alias("r_regionkey"),
            F.lit("OOPS").alias("r_name"),
        )
    )
    v_bad = ds.current_snapshot_id
    ds.rollback(v_base)
    ds.append(
        region.select(
            (F.col("r_regionkey") + 200).cast("int").alias("r_regionkey"),
            F.lit("FIXED").alias("r_name"),
        )
    )
    assert ds.read(version=v_bad).where(
        F.col("r_name") == "OOPS"
    ).count() > 0, "abandoned snapshot lost before expiry"
    return ds.read()


SPACE_ROLLBACK_SQL = """
SELECT r_regionkey, r_name FROM region
UNION ALL
SELECT r_regionkey + 200 AS r_regionkey, 'FIXED' AS r_name FROM region
"""


def space_clone_read(spark, sf_dir):
    """Zero-copy shallow clone (round 10, core/dataset.py clone — Delta
    SHALLOW CLONE / Iceberg snapshot-table analog; beyond the
    reference, whose tables cannot fork): the clone's first snapshot
    REFERENCES the source's data files through remapped manifests —
    O(files) metadata, zero data bytes copied (asserted: the clone's
    data dir is empty right after cloning) — then DIVERGES: a CoW
    delete rewrites survivors into the clone's own location and an
    append lands clone-local files, while the source stays
    byte-identical (asserted on its file list). The returned read
    plans across external (source-referenced) and internal files with
    the same manifest pruning."""
    from space_spark import Dataset, field

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    base = _space_tmp()
    src = Dataset.create(
        spark, base + "/clone_src", part.schema, ["p_partkey"]
    )
    src.append(part)
    src_files = sorted(src.data_files())

    clone = src.clone(base + "/clone_dst")
    data_dir = os.path.join(base, "clone_dst", "data")
    assert not [
        f for _r, _d, fs in os.walk(data_dir) for f in fs
        if f.endswith(".parquet")
    ], "shallow clone copied data bytes"

    clone.delete(field("p_partkey") <= 50)
    clone.append(
        part.where(F.col("p_partkey") <= 30).select(
            (F.col("p_partkey") + 1000000).alias("p_partkey"),
            "p_name",
            F.lit("CLONE").alias("p_brand"),
            "p_retailprice",
        )
    )
    assert sorted(src.data_files()) == src_files, (
        "clone mutation touched the source's file set"
    )
    return clone.read(filter_=field("p_retailprice") > 1200.0).select(
        "p_partkey", "p_brand", "p_retailprice"
    )


SPACE_CLONE_SQL = """
SELECT p_partkey, p_brand, p_retailprice FROM (
  SELECT p_partkey, p_brand, p_retailprice
  FROM part WHERE p_partkey > 50
  UNION ALL
  SELECT p_partkey + 1000000 AS p_partkey, 'CLONE' AS p_brand,
         p_retailprice
  FROM part WHERE p_partkey <= 30
)
WHERE p_retailprice > 1200.0
"""


SPACE_MERGE_SQL = """
WITH upd AS (
  SELECT c_custkey,
         c_acctbal + CASE WHEN c_custkey % 2 = 0
                          THEN 1000.0 ELSE -1000.0 END AS new_bal
  FROM customer WHERE c_custkey < 200
)
SELECT t.c_custkey,
       CASE WHEN u.c_custkey IS NOT NULL AND u.new_bal > t.c_acctbal
            THEN 'MERGED' ELSE t.c_name END AS c_name,
       CASE WHEN u.c_custkey IS NOT NULL AND u.new_bal > t.c_acctbal
            THEN u.new_bal ELSE t.c_acctbal END AS c_acctbal
FROM customer t LEFT JOIN upd u ON t.c_custkey = u.c_custkey
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, 'INSERTED' AS c_name,
       1.5 AS c_acctbal
FROM customer WHERE c_custkey < 50
"""


def space_insert_read(spark, sf_dir):
    """M2: insert fails on existing PKs, appends new ones."""
    from space_spark import Dataset

    region = _t(spark, sf_dir, "region")
    ds = Dataset.create(
        spark, _space_tmp() + "/region", region.schema, ["r_regionkey"]
    )
    ds.append(region)
    new_rows = spark.sql(
        "SELECT CAST(k AS INT) AS r_regionkey, n AS r_name"
        " FROM VALUES (100, 'SPACE'), (101, 'SPARK') AS t(k, n)"
    )
    ds.insert(new_rows)
    return ds.read()


SPACE_INSERT_SQL = """
SELECT * FROM region
UNION ALL SELECT * FROM (VALUES (100, 'SPACE'), (101, 'SPARK'))
  AS t(r_regionkey, r_name)
"""


def space_compact_read(spark, sf_dir):
    """Maintenance: 6 trickle appends fragment the table, compact() heals
    it back to ~one file as a NO-CHANGE snapshot (empty changelog), and
    the read is byte-identical to the pre-compaction rows."""
    from space_spark import Dataset, field

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/cust_compact", cust.schema, ["c_custkey"]
    )
    for i in range(6):
        ds.append(cust.where(F.col("c_custkey") % 6 == i))
    v_before = ds.current_snapshot_id
    ds.compact(target_bytes=64 * 1024 * 1024, cluster_by=["c_custkey"])
    assert len(ds.data_files()) == 1, "compaction did not merge files"
    assert ds.diff(v_before, None).count() == 0, "compaction not no-change"
    return ds.read(filter_=field("c_acctbal") > 9000.0)


SPACE_COMPACT_SQL = """
SELECT * FROM customer WHERE c_acctbal > 9000.0
"""


def space_time_travel(spark, sf_dir):
    """M6/M7: snapshot time travel via version pinning."""
    from space_spark import Dataset, field

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/supplier_tt", supp.schema, ["s_suppkey"]
    )
    ds.append(supp.where(F.col("s_suppkey") < 50))
    ds.add_tag("v1")
    ds.append(supp.where(F.col("s_suppkey") >= 50))
    return ds.read(version="v1")


SPACE_TIME_TRAVEL_SQL = """
SELECT * FROM supplier WHERE s_suppkey < 50
"""


def space_diff_changes(spark, sf_dir):
    """§2.9: change-data feed between two versions."""
    from space_spark import Dataset, field

    nation = _t(spark, sf_dir, "nation")
    ds = Dataset.create(
        spark, _space_tmp() + "/nation_cdf", nation.schema, ["n_nationkey"]
    )
    ds.append(nation)
    ds.delete(field("n_regionkey") == 2)
    return ds.diff(0, ds.current_snapshot_id).select(
        "n_nationkey", "_change_type"
    )


SPACE_DIFF_SQL = """
SELECT n_nationkey, 'ADD' AS _change_type FROM nation
UNION ALL
SELECT n_nationkey, 'DELETE' AS _change_type FROM nation WHERE n_regionkey = 2
"""


def space_join_view(spark, sf_dir):
    """J1: single-key inner equi-join view over two space tables."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    osum = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             money_sum(F.col("o_totalprice"), "total_spent"))
    )
    base = _space_tmp()
    left = Dataset.create(spark, base + "/cust", cust.schema, ["custkey"])
    left.append(cust)
    right = Dataset.create(spark, base + "/osum", osum.schema, ["custkey"])
    right.append(osum)
    return left.join(right, keys="custkey").read()


SPACE_JOIN_SQL = f"""
SELECT c_custkey AS custkey, c_name, n_orders, total_spent
FROM customer
JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders,
    {MONEY_SUM('o_totalprice', 'total_spent')}
  FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


def space_map_batches_udf(spark, sf_dir):
    """§2.7: batch UDF view (dict[str, ndarray] -> dict convention)."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/cust_udf", cust.schema, ["c_custkey"]
    )
    ds.append(cust)

    def udf(batch):
        return {"c_custkey": batch["c_custkey"],
                "bal2": batch["c_acctbal"] * 2}

    out_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("bal2", T.DoubleType()),
        ]
    )
    return ds.map_batches(
        udf, out_schema, input_fields=["c_custkey", "c_acctbal"]
    ).read()


SPACE_MAP_SQL = """
SELECT c_custkey, c_acctbal * 2 AS bal2 FROM customer
"""


def space_filter_udf(spark, sf_dir):
    """P7: row-predicate UDF view."""
    from space_spark import Dataset

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/supp_udf", supp.schema, ["s_suppkey"]
    )
    ds.append(supp)
    view = ds.filter_view(
        lambda row: row["s_acctbal"] > 5000.0, input_fields=["s_acctbal"]
    )
    return view.read().select("s_suppkey", "s_name", "s_acctbal")


SPACE_FILTER_UDF_SQL = """
SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 5000.0
"""


def space_read_by_keys(spark, sf_dir):
    """P6: primary-key point lookups (range-pruned broadcast semi-join)."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    ds = Dataset.create(
        spark, _space_tmp() + "/cust_keys", cust.schema, ["c_custkey"]
    )
    ds.append(cust)
    return ds.read_by_keys([1, 5, 9, 999999],
                           fields=["c_custkey", "c_name", "c_acctbal"])


SPACE_READ_BY_KEYS_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_custkey IN (1, 5, 9, 999999)
"""


def space_lineitem_clustered(spark, sf_dir):
    """Full-scale lifecycle: the largest table through the storage engine
    with clustered (range-partitioned) files, so the range predicate
    prunes most files via manifest stats before Catalyst ever plans."""
    from space_spark import Dataset, field

    li = _t(spark, sf_dir, "lineitem")
    ds = Dataset.create(
        spark, _space_tmp() + "/lineitem_big", li.schema,
        ["l_orderkey", "l_linenumber"],
    )
    ds.append(li, cluster_by=["l_orderkey"], target_files=16)
    pruned = ds.read(
        filter_=(field("l_orderkey") >= 1000) & (field("l_orderkey") < 2000)
    )
    return pruned.groupBy("l_returnflag").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SPACE_LINEITEM_SQL = f"""
SELECT l_returnflag,
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')},
  COUNT(*) AS n_items
FROM lineitem
WHERE l_orderkey >= 1000 AND l_orderkey < 2000
GROUP BY l_returnflag
"""


def space_zorder_pruned(spark, sf_dir):
    """Z-order layout (beyond-reference, operators/zorder.py): lineitem
    written with a Morton-interleaved (l_orderkey, l_partkey) key, then
    filtered on the SECOND column only — single-column range clustering
    would prune nothing here; the z-layout's per-file min/max rectangles
    prune on both dimensions."""
    from space_spark import Dataset, field

    li = _t(spark, sf_dir, "lineitem")
    ds = Dataset.create(
        spark, _space_tmp() + "/lineitem_z", li.schema,
        ["l_orderkey", "l_linenumber"],
    )
    ds.append(li, zorder_by=["l_orderkey", "l_partkey"], target_files=16)
    pruned = ds.read(
        filter_=(field("l_partkey") >= 200) & (field("l_partkey") < 400)
    )
    return pruned.groupBy("l_linestatus").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
        .alias("qty_cents"),
    )


SPACE_ZORDER_SQL = f"""
SELECT l_linestatus,
  {MONEY_SUM('l_extendedprice*(1-l_discount)', 'revenue')},
  COUNT(*) AS n_items,
  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
FROM lineitem
WHERE l_partkey >= 200 AND l_partkey < 400
GROUP BY l_linestatus
"""


def dedup_substr(spark, sf_dir):
    """Cross-document exact-substring dedup (ExactSubstr, Lee et al.
    2022): any 12-token run already seen earlier in the corpus is
    removed from later documents token-wise; documents rebuild from
    surviving tokens. ``oracle_compat=True`` pins md5 window
    fingerprints so DuckDB reproduces them bit-for-bit; the production
    default is 8-byte xxhash64 (see dedup.py docstring)."""
    from space_spark.operators.dedup import dedup_substrings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_substrings(docs, "doc_id", "text", window=12,
                            oracle_compat=True)


DEDUP_SUBSTR_SQL = r"""
WITH docs AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '') AS toks
  FROM documents
), w AS (
  SELECT doc_id, unnest(generate_series(0, len(toks) - 12)) AS s, toks
  FROM docs WHERE len(toks) >= 12
), wh AS (
  SELECT doc_id, s,
         md5(array_to_string(toks[s + 1:s + 12], ' ')) AS h
  FROM w
), firsts AS (
  SELECT doc_id, s,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
  FROM wh
), covered AS (
  SELECT DISTINCT doc_id, s + u AS pos
  FROM (SELECT doc_id, s,
               unnest(generate_series(0, 11)) AS u
        FROM firsts WHERE rn > 1)
), tokens AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS tok
  FROM docs
), kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokens t LEFT JOIN covered c
    ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
), kept_agg AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS text,
         COUNT(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
), drop_agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_dropped FROM covered
  GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(k.text, '') AS text,
  COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
  COALESCE(g.n_dropped, 0)::BIGINT AS n_dropped
FROM docs d
LEFT JOIN kept_agg k ON d.doc_id = k.doc_id
LEFT JOIN drop_agg g ON d.doc_id = g.doc_id
"""


def space_range_join(spark, sf_dir):
    """Key-range partitioned equi-join (SURVEY §2.3 J2, the reference's
    ray/ops/join.py re-expressed): customer and orders loaded into two
    space tables clustered on the join key, the key range derived from
    manifest stats (driver-side), split into 4 sub-ranges, each joined
    over pruned file subsets and unioned — bit-equal to the plain SQL
    join the oracle runs."""
    from space_spark import Dataset
    from space_spark.operators.joins import range_partitioned_join

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    base = _space_tmp()
    dc = Dataset.create(spark, base + "/cust", cust.schema, ["c_custkey"])
    dc.append(cust, cluster_by=["c_custkey"], target_files=8)
    do = Dataset.create(spark, base + "/ord", orders.schema, ["o_orderkey"])
    do.append(orders, cluster_by=["c_custkey"], target_files=8)
    j = range_partitioned_join(dc, do, "c_custkey", n_ranges=4)
    return j.groupBy((F.col("c_custkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice"), "total"),
        F.sum("c_custkey").alias("cust_sum"),
    )


SPACE_RANGE_JOIN_SQL = f"""
SELECT o.o_custkey % 10 AS bucket,
  COUNT(*) AS n_orders,
  {MONEY_SUM('o.o_totalprice', 'total')},
  SUM(o.o_custkey)::BIGINT AS cust_sum
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY bucket
"""


def sample_temperature(spark, sf_dir):
    """Temperature (alpha=0.5) mixture resampling, the mT5/XLM-R
    multilingual rebalancing: group g keeps floor(sqrt(n_g * n_min))
    rows — denominator-free quotas through IEEE sqrt (correctly rounded
    by definition), so both engines agree bit-exactly."""
    from space_spark.operators.sampling import temperature_mix_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix_sample(docs, "lang", "doc_id", alpha=0.5)


SAMPLE_TEMPERATURE_SQL = """
WITH c AS (
  SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang
), m AS (SELECT MIN(n) AS n_min FROM c),
q AS (
  SELECT lang,
         CAST(FLOOR(SQRT(CAST(n * n_min AS DOUBLE))) AS BIGINT) AS quota
  FROM c, m
), ranked AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
        ::BIGINT % 10000, doc_id) AS rn
  FROM documents WHERE lang IS NOT NULL
)
SELECT r.doc_id, r.lang FROM ranked r JOIN q ON r.lang = q.lang
WHERE r.rn <= q.quota
"""


def text_c4_rules(spark, sf_dir):
    """C4-style document filters (Raffel et al. 2020 §2.2): sentence
    count, terminal-punctuation line fraction, code/boilerplate signals,
    combined keep flag. The word-soup corpus gains sentence/line
    structure via a ' table ' -> '.\\n' rewrite (same left-to-right
    non-overlapping replace on both engines)."""
    from space_spark.operators.text import c4_rules

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", " table ", ".\n").alias("text"),
    )
    return c4_rules(docs, "text").select(
        "doc_id", "n_sentences", "n_text_lines", "punct_line_frac",
        "has_curly_brace", "has_lorem_ipsum", "mentions_javascript",
        "c4_keep",
    )


TEXT_C4_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         regexp_replace(text, ' table ', '.' || chr(10), 'g') AS t
  FROM documents
), s AS (
  SELECT doc_id, t,
    list_filter(string_split(t, chr(10)),
                x -> length(trim(x)) > 0) AS lines,
    CAST(len(list_filter(regexp_split_to_array(t, '[.!?]'),
                         x -> length(trim(x)) > 0)) AS BIGINT)
      AS n_sentences
  FROM docs
)
SELECT doc_id,
  n_sentences,
  CAST(len(lines) AS BIGINT) AS n_text_lines,
  ROUND(CASE WHEN len(lines) > 0
        THEN CAST(len(list_filter(lines,
               x -> regexp_matches(trim(x), '[.!?"'']$'))) AS DOUBLE)
             / len(lines)
        ELSE 0.0 END, 6) AS punct_line_frac,
  contains(lower(t), '{') AS has_curly_brace,
  contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
  contains(lower(t), 'javascript') AS mentions_javascript,
  (n_sentences >= 3
   AND NOT contains(lower(t), '{')
   AND NOT contains(lower(t), 'lorem ipsum')
   AND ROUND(CASE WHEN len(lines) > 0
        THEN CAST(len(list_filter(lines,
               x -> regexp_matches(trim(x), '[.!?"'']$'))) AS DOUBLE)
             / len(lines)
        ELSE 0.0 END, 6) >= 0.5) AS c4_keep
FROM s
"""


def text_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM scoring (KenLM-perplexity stand-in, CCNet-style
    quality bucketing): per-document summed log10 token probability in
    exact integer micro-units (order-independent integer sums — float
    summation order would break cross-engine hashing). Vocab broadcasts
    back to the corpus, so corpus tokens never shuffle on the skewed
    token key."""
    from space_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs, "doc_id", "text").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_scored").cast("long").alias("n_scored"),
        "logprob_micro_sum",
    )


TEXT_UNIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
             AS token
    FROM documents)
  WHERE token <> ''
), counts AS (
  SELECT token, COUNT(*)::BIGINT AS freq FROM toks GROUP BY token
), vocab AS (
  SELECT token, freq FROM (
    SELECT token, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS r
    FROM counts)
  WHERE r <= 65536
), scored AS (
  SELECT token,
         CAST(ROUND(log10(freq / total) * 1000000) AS BIGINT) AS lp
  FROM vocab, (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM vocab)
), per_doc AS (
  SELECT doc_id,
    COUNT(*)::BIGINT AS n_tokens,
    COUNT(lp)::BIGINT AS n_scored,
    COALESCE(SUM(lp), 0)::BIGINT AS logprob_micro_sum
  FROM toks LEFT JOIN scored USING (token)
  GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
  COALESCE(p.n_scored, 0)::BIGINT AS n_scored,
  COALESCE(p.logprob_micro_sum, 0)::BIGINT AS logprob_micro_sum
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def space_zorder_string(spark, sf_dir):
    """Z-order over a STRING column (byte-prefix bucketing,
    operators/zorder.py:_as_double): orders written Morton-interleaved
    on (o_custkey, o_orderpriority), then filtered on the string column
    only — each file carries a compact o_orderpriority min/max range, so
    the manifest prunes on a string predicate, the common real-world
    clustering key (URL host, language, source)."""
    from space_spark import Dataset, field

    orders = _t(spark, sf_dir, "orders")
    ds = Dataset.create(
        spark, _space_tmp() + "/orders_z", orders.schema, ["o_orderkey"]
    )
    ds.append(orders, zorder_by=["o_custkey", "o_orderpriority"],
              target_files=16)
    pruned = ds.read(filter_=field("o_orderpriority") == "1-URGENT")
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice"), "total"),
        F.sum("o_custkey").alias("cust_sum"),
    )


SPACE_ZORDER_STRING_SQL = f"""
SELECT o_orderstatus,
  COUNT(*) AS n_orders,
  {MONEY_SUM('o_totalprice', 'total')},
  SUM(o_custkey)::BIGINT AS cust_sum
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


def space_stream_cdc(spark, sf_dir):
    """Streaming CDC replication end-to-end (SURVEY §2.9's change feed in
    Structured-Streaming form, beyond the batch-only reference): a source
    space table is mutated (append, upsert, CoW delete), its change feed
    is consumed as a stream (``format("space").option("readChangeFeed",
    "true")``) and applied onto a SECOND space table by
    ``stream_apply_changes`` under an availableNow trigger. Returns the
    replica's final state, which must equal the mutations' net effect —
    the oracle recomputes that net effect in plain SQL."""
    from space_spark import Dataset, field
    from space_spark.sources.datasource import register_space_source
    from space_spark.streaming.changefeed import stream_apply_changes

    register_space_source(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    base = _space_tmp()
    src = Dataset.create(spark, base + "/cdc_src", cust.schema,
                         ["c_custkey"])
    src.append(cust.where(F.col("c_custkey") <= 300))
    src.upsert(
        cust.where(F.col("c_custkey").between(101, 150)
                   | F.col("c_custkey").between(301, 330))
        .withColumn("c_acctbal", F.lit(0.0))
    )
    src.delete((field("c_custkey") >= 251) & (field("c_custkey") <= 300))
    tgt = Dataset.create(spark, base + "/cdc_tgt", cust.schema,
                         ["c_custkey"])
    feed = (
        spark.readStream.format("space")
        .option("readChangeFeed", "true")
        .load(src.location)
    )
    q = stream_apply_changes(feed, tgt, base + "/cdc_ckpt")
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "CDC replication stream did not finish within 600s — "
            "refusing to read a partially-applied target"
        )
    q.stop()
    return tgt.reload().read().select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )


SPACE_STREAM_CDC_SQL = """
SELECT c_custkey, c_name,
  CASE WHEN c_custkey BETWEEN 101 AND 150
         OR c_custkey BETWEEN 301 AND 330
       THEN 0.0 ELSE c_acctbal END AS c_acctbal,
  c_nationkey
FROM customer
WHERE c_custkey <= 250 OR c_custkey BETWEEN 301 AND 330
"""


def stream_dedup_events(spark, sf_dir):
    """Streaming dedup with watermark-BOUNDED state
    (``dropDuplicatesWithinWatermark``, changefeed.py stream_dedup),
    exercised across four deterministic micro-batches
    (maxFilesPerTrigger=1 over mtime-ordered files, availableNow):

      b1: every event twice, plus a BUMPER row whose event time sits
          2010s (>> 2x the 63s delay) above every real event
                                      -> in-batch dups dropped
      b2: one sentinel 5 years later  -> the eviction opportunity: by
          this batch's end, the watermark through b1 (bumper - 63s)
          exceeds every real b1 expiry, so ALL b1 state is gone
      b3: same keys 10 years later x2 -> ALL re-emitted (state was
          evicted — the bounded-state property an unbounded
          dropDuplicates would get wrong by dropping them)
      b4: replay of b3's rows         -> contributes NOTHING (every key
          is live in state from b3; rows may also be late)

    The bumper makes this robust to the probed eviction/late-filter
    batch lag (tests/test_stream_dedup_semantics.py): membership is
    pure key-existence and batch N evicts with the watermark through
    N-1, so WITHOUT the bumper the b1 keys within 126s of b1's max
    event time would survive into b3, get dup-dropped there, and only
    re-emit in b4 IF the (one-batch-lagging) late filter admits them —
    an implementation-detail dependence. With the bumper, every real
    b1 expiry sits far below the watermark through b1 and the whole b1
    state is provably evicted before b3 under any conforming timing.
    Every remaining decision sits years from the 63-second horizon, so
    the output is order- and timing-independent: b1-once ∪ bumper ∪
    sentinel ∪ b3-once — which is what the SQL oracle states. Event
    times are synthesized from event_id so both engines compute
    identical timestamps."""
    import glob as _glob
    import shutil
    import time as _time

    from space_spark.streaming.changefeed import stream_dedup

    base = _space_tmp()
    stream_dir, out_dir, ckpt = (
        base + "/in", base + "/out", base + "/ckpt"
    )
    os.makedirs(stream_dir)
    e = (
        _events(spark, sf_dir)
        .where(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            (
                F.expr("timestamp'2024-01-01 00:00:00'")
                + F.expr(
                    "make_interval(0,0,0,0,0,0, (event_id % 1000) * 10)"
                )
            ).alias("ts"),
        )
    )
    # One-row fixtures as pure-JVM literal SELECTs: a Python-side
    # createDataFrame builds a defaultParallelism-partition RDD whose
    # evaluation needs Python workers — seconds when the pool is cold,
    # for a constant row.
    sentinel = spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS event_id,"
        " CAST(-1 AS BIGINT) AS user_id, 'sentinel' AS event_type,"
        " timestamp'2029-01-01 00:00:00' AS ts"
    )
    # Real event times are base + (event_id % 1000)*10s, i.e. at most
    # base + 9990s; the bumper at base + 12000s pushes the watermark
    # through b1 to base + 11937s > every real expiry (ts + 63s).
    bumper = spark.sql(
        "SELECT CAST(-2 AS BIGINT) AS event_id,"
        " CAST(-2 AS BIGINT) AS user_id, 'bumper' AS event_type,"
        " timestamp'2024-01-01 00:00:00'"
        " + make_interval(0,0,0,0,0,0,12000) AS ts"
    )
    e10 = e.withColumn("ts", F.expr("ts + make_interval(10)"))

    def write_one(df, name, mtime):
        stage = base + "/stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        dest = os.path.join(stream_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    now = _time.time()
    write_one(e.unionAll(e).unionAll(bumper), "batch0.parquet", now - 400)
    write_one(sentinel, "batch1.parquet", now - 300)
    write_one(e10.unionAll(e10), "batch2.parquet", now - 200)
    write_one(e10, "batch3.parquet", now - 100)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    deduped = stream_dedup(stream, "event_id", "ts",
                           watermark="63 seconds")
    # The state-store instance count is frozen per checkpoint at the
    # first batch = spark.sql.shuffle.partitions; 32 instances x 4
    # micro-batches of open/commit overhead dwarf this demo's data, so
    # size to the demo (a production stream picks ~cores). Restored
    # right after the stream finishes.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow terminates on its own; a False return means the
        # stream is STILL RUNNING after 600s and out_dir is partial —
        # surface a timeout, not a downstream row-count mismatch
        # (ADVICE r6).
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming dedup did not drain its 4 micro-batches "
                "within 600s — refusing to read a partial output"
            )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )


STREAM_DEDUP_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         TIMESTAMP '2024-01-01 00:00:00'
           + (event_id % 1000) * INTERVAL 10 SECOND AS ts
  FROM events WHERE event_id % 7 = 0
)
SELECT event_id, user_id, event_type, ts FROM e
UNION ALL
SELECT CAST(-2 AS BIGINT) AS event_id, CAST(-2 AS BIGINT) AS user_id,
       'bumper' AS event_type,
       TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 12000 SECOND AS ts
UNION ALL
SELECT CAST(-1 AS BIGINT) AS event_id, CAST(-1 AS BIGINT) AS user_id,
       'sentinel' AS event_type,
       TIMESTAMP '2029-01-01 00:00:00' AS ts
UNION ALL
SELECT event_id, user_id, event_type,
       ts + INTERVAL 10 YEAR AS ts
FROM e
"""


def space_sql_table(spark, sf_dir):
    """SQL-catalog surface (beyond reference parity — the reference
    delegates SQL to external engines, README.md:17): attach an existing
    space table to the Spark session catalog via schema-less
    ``CREATE TABLE ... USING space``, mutate it with ``INSERT INTO`` SQL,
    and read it back through ``spark.table()``. The table location rides
    the catalog schema's field metadata (see SpaceDataSource docstring)."""
    import uuid

    from space_spark.catalogs.directory import DirCatalog

    root = _space_tmp()
    cat = DirCatalog(spark, root)
    nation = _t(spark, sf_dir, "nation")
    ds = cat.create_dataset("nation_sql", nation.schema, ["n_nationkey"])
    ds.append(nation)
    tbl = "space_nation_" + uuid.uuid4().hex[:8]
    cat.attach_sql("nation_sql", tbl)
    spark.sql(
        f"INSERT INTO `{tbl}` VALUES (990, 'ATLANTIS', 0), "
        f"(991, 'LEMURIA', 1)"
    )
    out = (
        spark.table(tbl)
        .where(F.col("n_regionkey") <= 1)
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )
    # Materialize (bounded: nation is a fixed 25-row table at every SF)
    # then DROP the catalog entry — repeated gate runs otherwise
    # accumulate metastore tables pointing at vanished tmp dirs (the
    # same leak class ADVICE r7 flagged on the bucketed join).
    try:
        result = out.toArrow()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
    return spark.createDataFrame(result)


SPACE_SQL_TABLE_SQL = """
SELECT n_nationkey, n_name FROM (
  SELECT n_nationkey, n_name, n_regionkey FROM nation
  UNION ALL
  SELECT * FROM (VALUES (990, 'ATLANTIS', 0), (991, 'LEMURIA', 1))
    AS t(n_nationkey, n_name, n_regionkey)
)
WHERE n_regionkey <= 1
ORDER BY n_nationkey
"""


def space_record_fields(spark, sf_dir):
    """S5/S7: record-field blob storage roundtrip through address structs."""
    from space_spark import Dataset

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.encode("text", "UTF-8").alias("payload")
    )
    ds = Dataset.create(
        spark, _space_tmp() + "/docs_rec", docs.schema, ["doc_id"],
        record_fields=["payload"],
    )
    ds.append(docs)
    out = ds.read(fields=["doc_id", "payload"])
    return out.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


# md5/substring operate on text (not blob: DuckDB md5 is VARCHAR-only);
# equivalent to the Spark byte-level ops because the corpus is pure ASCII
# (verified: octet_length(encode(text)) == length(text) for every row).
SPACE_RECORD_SQL = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


# --- training-data pipeline operators --------------------------------------
def dedup_exact_documents(spark, sf_dir):
    from space_spark.operators.dedup import duplicate_groups

    docs = _t(spark, sf_dir, "documents")
    return duplicate_groups(docs, ["text"], "doc_id").select(
        F.col("keep_id"), F.col("dup_count"), F.md5("text").alias("text_md5")
    )


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count, md5(text) AS text_md5
FROM documents WHERE doc_id IS NOT NULL GROUP BY text
"""


def dedup_ngram_jaccard(spark, sf_dir):
    from space_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4)


DEDUP_JACCARD_SQL = _jaccard_sql(0.4)


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup, exact-verified: banded LSH (64 bands x 2
    rows, recall >= 0.99998 at the 0.5 threshold) generates candidates,
    exact Jaccard verifies them — so the emitted set equals the all-pairs
    exact-threshold set, which IS the SQL oracle. Equality is additionally
    asserted against the inverted-index exact operator in
    tests/test_dedup_equivalence.py."""
    from space_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=128, bands=64, ngram=3,
        threshold=0.5,
    )


MINHASH_LSH_SQL = _jaccard_sql(0.5)


def dedup_cluster_labels(spark, sf_dir):
    """Connected components over the exact-Jaccard(>=0.5) pair graph:
    cluster_id = min doc id per component (min-label propagation;
    oracle = recursive-CTE transitive closure)."""
    from space_spark.operators.dedup import dedup_clusters, \
        ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters(pairs)


def _clusters_sql(threshold: float) -> str:
    jac = _jaccard_sql(threshold).strip()
    head, tail = jac[len("WITH"):].rsplit("SELECT doc_a", 1)
    return f"""
WITH RECURSIVE {head.strip().rstrip(',')},
jpairs AS (SELECT doc_a{tail}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL SELECT doc_b, doc_a FROM jpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""


DEDUP_CLUSTERS_SQL = _clusters_sql(0.5)


def dedup_keep_best(spark, sf_dir):
    """Canonical-document selection (round 10, operators/dedup.py
    keep_best_per_cluster): near-dup clusters keep their LONGEST
    member (tie: min doc_id) instead of exact_dedup's min-id winner —
    the "drop duplicates, keep the best copy" decision a pretraining
    pipeline actually wants. Winner election is a groupBy-max over a
    (score, -id) struct with map-side combine + id join-back — no
    window, so one 10^8-member boilerplate cluster never lands on a
    single reducer."""
    from space_spark.operators.dedup import (
        dedup_clusters,
        keep_best_per_cluster,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )
    labels = dedup_clusters(pairs)
    scored = docs.withColumn(
        "doc_len", F.length("text").cast("long")
    )
    return keep_best_per_cluster(
        scored, labels, "doc_id", "doc_len"
    ).select("doc_id", "doc_len")


def _keep_best_sql(threshold: float) -> str:
    base = _clusters_sql(threshold).strip()
    head, final = base.rsplit("SELECT src AS doc", 1)
    return f"""{head.rstrip()},
labels AS (SELECT src AS doc{final}),
scored AS (
  SELECT d.doc_id, length(d.text)::BIGINT AS doc_len, l.cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc
),
wmax AS (
  SELECT cluster_id, max(doc_len) AS ml FROM scored
  WHERE cluster_id IS NOT NULL GROUP BY cluster_id
),
winners AS (
  SELECT s.cluster_id, min(s.doc_id) AS win
  FROM scored s JOIN wmax
    ON s.cluster_id = wmax.cluster_id AND s.doc_len = wmax.ml
  GROUP BY s.cluster_id
)
SELECT s.doc_id, s.doc_len FROM scored s
WHERE s.cluster_id IS NULL OR s.doc_id IN (SELECT win FROM winners)
"""


DEDUP_KEEP_BEST_SQL = _keep_best_sql(0.5)


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash hamming near-dup — EXACT by pigeonhole (4 bit-chunks cover
    hamming<=3) and cross-engine reproducible (md5-derived token hashes),
    so all-pairs bit_count SQL is a true oracle."""
    from space_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


SIMHASH_PAIRS_SQL = f"""
WITH {_simhash_sql()}
SELECT a.doc AS doc_a, b.doc AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def text_stats(spark, sf_dir):
    from space_spark.operators.text import with_text_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_text_stats(docs, "text").select(
        "doc_id",
        F.col("token_count").cast("long").alias("token_count"),
        F.col("char_count").cast("long").alias("char_count"),
        "punct_ratio",
        "distinct_token_ratio",
        "quality_score",
        "pred_lang",
        "fingerprint",
    )


_SW = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in {
        "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
        "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
        "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
        "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein"],
    }.items()
}

TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
    length(text) AS n_chars,
    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
  FROM documents
), scored AS (
  SELECT doc_id, text, toks, n_chars,
    len(toks) AS tc,
    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
    CASE WHEN len(toks) > 0
         THEN len(list_distinct(toks)) / len(toks) ELSE 0.0 END AS dtr,
    len(list_filter(toks, t -> list_contains({_SW['en']}, t))) AS sw_en,
    len(list_filter(toks, t -> list_contains({_SW['es']}, t))) AS sw_es,
    len(list_filter(toks, t -> list_contains({_SW['fr']}, t))) AS sw_fr,
    len(list_filter(toks, t -> list_contains({_SW['de']}, t))) AS sw_de
  FROM base
)
SELECT doc_id,
  tc::BIGINT AS token_count,
  n_chars::BIGINT AS char_count,
  ROUND(pr, 6) AS punct_ratio,
  ROUND(dtr, 6) AS distinct_token_ratio,
  ROUND(0.3 * LEAST(tc / 100.0, 1.0) + 0.3 * (1.0 - pr) + 0.2 * dtr
        + 0.2 * LEAST((CASE WHEN tc > 0 THEN sw_en / tc ELSE 0.0 END) * 5.0,
                      1.0), 6) AS quality_score,
  CASE WHEN GREATEST(sw_de, sw_en, sw_es, sw_fr) <= 0 THEN 'unknown'
       WHEN sw_de >= GREATEST(sw_en, sw_es, sw_fr) THEN 'de'
       WHEN sw_en >= GREATEST(sw_es, sw_fr) THEN 'en'
       WHEN sw_es >= sw_fr THEN 'es'
       ELSE 'fr' END AS pred_lang,
  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM scored
"""


def _enriched_docs(spark, sf_dir):
    """Documents with a deterministic synthetic contact footer (emails,
    URLs, phone numbers, IPv4) derived from doc_id — the testdata corpus
    is plain word-soup, so the PII/URL extraction queries build their
    own signal identically on both engines (byte-identical strings)."""
    d = F.col("doc_id")
    footer = F.concat_ws(
        " ",
        F.lit("contact"),
        F.concat(F.lit("user"), d, F.lit("@example.com")),
        F.concat(F.lit("https://site"), d % 7, F.lit(".example.org/p/"), d),
        F.concat(F.lit("tel"), F.lit(" "), (d % 900 + 100).cast("long"),
                 F.lit("-"), ((d * 7) % 900 + 100).cast("long"),
                 F.lit("-"), (d % 9000 + 1000).cast("long")),
        F.concat(F.lit("10."), (d % 256).cast("long"), F.lit("."),
                 ((d * 3) % 256).cast("long"), F.lit("."),
                 (d % 100).cast("long")),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws(" ", F.col("text"), footer).alias("text")
    )


_ENRICHED_DOCS_SQL = """
  SELECT doc_id,
    text || ' contact user' || doc_id::VARCHAR || '@example.com' ||
    ' https://site' || (doc_id % 7)::VARCHAR || '.example.org/p/' ||
    doc_id::VARCHAR ||
    ' tel ' || (doc_id % 900 + 100)::VARCHAR || '-' ||
    ((doc_id * 7) % 900 + 100)::VARCHAR || '-' ||
    (doc_id % 9000 + 1000)::VARCHAR ||
    ' 10.' || (doc_id % 256)::VARCHAR || '.' ||
    ((doc_id * 3) % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR AS text
  FROM documents
"""


def text_quality_rules(spark, sf_dir):
    """Gopher-style repetition/quality filters. The word-soup corpus has
    no line structure, so the query first rewrites ' table ' separators
    into bullet lines (same left-to-right non-overlapping regexp_replace
    on both engines) to exercise the line-level rules."""
    from space_spark.operators.text import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", " table ", "\n- table\n").alias("text"),
    )
    out = gopher_quality_flags(docs, "text")
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "mean_word_len", "alpha_word_frac", "dup_line_frac",
        "bullet_line_frac", "ellipsis_line_frac", "symbol_word_ratio",
        "gopher_pass",
    )


TEXT_QUALITY_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         regexp_replace(text, ' table ', chr(10) || '- table' || chr(10),
                        'g') AS t
  FROM documents
), s AS (
  SELECT doc_id, t,
    regexp_split_to_array(trim(t), '\s+') AS words,
    len(regexp_extract_all(t, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
      AS n_bpe,
    string_split(t, chr(10)) AS lines,
    length(t) - length(replace(t, '#', '')) AS hash_cnt,
    (length(t) - length(replace(t, '...', ''))) / 3 AS ell_cnt
  FROM docs
), m AS (
  SELECT doc_id, hash_cnt, ell_cnt, n_bpe,
    len(words) AS nw, len(lines) AS nl,
    list_sum(list_transform(words, x -> length(x))) AS wchars,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_w,
    len(list_distinct(lines)) AS dlines,
    len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]'))) AS bullets,
    len(list_filter(lines, x -> regexp_matches(x, '\.\.\.$'))) AS ells
  FROM s
), r AS (
  SELECT doc_id,
    nw::BIGINT AS n_words, n_bpe::BIGINT AS n_tokens_bpe,
    nl::BIGINT AS n_lines,
    ROUND(CASE WHEN nw > 0 THEN wchars / nw ELSE 0.0 END, 6)
      AS mean_word_len,
    ROUND(CASE WHEN nw > 0 THEN alpha_w / nw ELSE 0.0 END, 6)
      AS alpha_word_frac,
    ROUND(CASE WHEN nl > 0 THEN 1 - dlines / nl ELSE 0.0 END, 6)
      AS dup_line_frac,
    ROUND(CASE WHEN nl > 0 THEN bullets / nl ELSE 0.0 END, 6)
      AS bullet_line_frac,
    ROUND(CASE WHEN nl > 0 THEN ells / nl ELSE 0.0 END, 6)
      AS ellipsis_line_frac,
    ROUND(CASE WHEN nw > 0 THEN (hash_cnt + ell_cnt) / nw ELSE 0.0 END, 6)
      AS symbol_word_ratio
  FROM m
)
SELECT *,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3 AND mean_word_len <= 10
   AND alpha_word_frac > 0.8 AND dup_line_frac < 0.3
   AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
   AND symbol_word_ratio < 0.1) AS gopher_pass
FROM r
"""


def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction over footer-enriched documents: typed
    match counts and the md5 of the scrubbed text (tags substituted in a
    fixed order on both engines)."""
    from space_spark.operators.text import pii_stats

    out = pii_stats(_enriched_docs(spark, sf_dir), "text")
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        "has_pii",
        F.md5("redacted").alias("redacted_md5"),
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_URL = "https?://[A-Za-z0-9./?=_%-]+"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

TEXT_PII_SQL = f"""
WITH docs AS ({_ENRICHED_DOCS_SQL})
SELECT doc_id,
  len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '{_PII_URL}'))::BIGINT AS n_urls,
  len(regexp_extract_all(text, '{_PII_PHONE}'))::BIGINT AS n_phones,
  len(regexp_extract_all(text, '{_PII_IPV4}'))::BIGINT AS n_ipv4,
  (len(regexp_extract_all(text, '{_PII_EMAIL}'))
   + len(regexp_extract_all(text, '{_PII_PHONE}'))
   + len(regexp_extract_all(text, '{_PII_IPV4}'))) > 0 AS has_pii,
  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
        '{_PII_URL}', '<URL>', 'g'),
        '{_PII_IPV4}', '<IP>', 'g'),
        '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM docs
"""


def text_url_hosts(spark, sf_dir):
    """Domain-level URL profile: per-host URL and document counts over
    footer-enriched documents (crawl-curation / blocklist statistics)."""
    from space_spark.operators.text import url_host_stats

    out = url_host_stats(_enriched_docs(spark, sf_dir), "text")
    return out.select(
        "host",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


TEXT_URL_HOSTS_SQL = f"""
WITH docs AS ({_ENRICHED_DOCS_SQL}),
u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))
           AS host
  FROM docs
)
SELECT host, COUNT(*)::BIGINT AS n_urls,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs
FROM u
GROUP BY host
"""


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any token 8-gram
    with the held-out 'benchmark' slice (doc_id % 11 == 0 stands in for
    an eval suite). The benchmark gram set is broadcast, so the corpus
    never shuffles — the GPT-3/Pile eval-leak filter at ingest cost."""
    from space_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=8)


TEXT_DECONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(
    regexp_split_to_array(lower(trim(text)), '\s+'),
    x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, list_filter(list_distinct(list_transform(
    generate_series(0, GREATEST(len(w) - 8, 0)),
    i -> array_to_string(w[i+1:i+8], ' '))), x -> x <> '') AS g
  FROM toks
), bench AS (
  SELECT DISTINCT UNNEST(g) AS gram FROM grams WHERE doc_id % 11 = 0
), corpus AS (
  SELECT doc_id, UNNEST(g) AS gram FROM grams WHERE doc_id % 11 != 0
)
SELECT c.doc_id, COUNT(*)::BIGINT AS n_shared_grams
FROM corpus c JOIN bench b USING (gram)
GROUP BY c.doc_id
"""


DOMAIN_MIX_WEIGHTS = {
    "en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15,
}


def sample_domain_mix(spark, sf_dir):
    """Domain-mixture resampling: downsample each language so the kept
    corpus matches the target mix (40% en, 15% each of de/es/fr/zh) —
    the mixture-weights step of a pretraining pipeline. Exact integer
    quotas from a broadcast count table; rows kept by hash rank."""
    from space_spark.operators.sampling import domain_mix_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return domain_mix_sample(docs, "lang", "doc_id", DOMAIN_MIX_WEIGHTS)


DOMAIN_MIX_SQL = """
WITH w(lang, wt) AS (VALUES
  ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
  ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
  ('zh', CAST(0.15 AS DOUBLE))),
d AS (
  SELECT doc_id, documents.lang, wt FROM documents JOIN w
  ON documents.lang = w.lang
), counts AS (
  SELECT lang, wt, COUNT(*) AS n FROM d GROUP BY lang, wt
), t AS (
  SELECT MIN(FLOOR(n / wt)) AS t FROM counts
), quotas AS (
  SELECT lang, FLOOR(wt * t.t) AS quota FROM counts, t
), ranked AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
        ::BIGINT % 10000, doc_id) AS rn
  FROM d
)
SELECT r.doc_id, r.lang FROM ranked r JOIN quotas q
ON r.lang = q.lang WHERE r.rn <= q.quota
"""


def dedup_semantic(spark, sf_dir):
    """SemDeDup over the embedding corpus: 16 deterministic clusters,
    in-cluster cosine >= 0.4 marks the higher-id vector a duplicate of
    the smallest matching id (the synthetic embeddings are near-uniform
    on the sphere — max pairwise cosine ~0.51 — so 0.4 is the regime
    where the dup-marking path does real work)."""
    from space_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", n_clusters=16,
                          threshold=0.4).select(
        "vec_id", F.col("list_id").cast("long").alias("list_id"),
        "dup_of", "is_dup",
    )


def _semantic_dedup_sql(n_clusters: int = 16, threshold: float = 0.4) -> str:
    from space_spark.operators.similarity import (
        KNUTH_ID_MOD,
        KNUTH_MOD,
        KNUTH_MULT,
    )

    key = f"((id % {KNUTH_ID_MOD}) * {KNUTH_MULT}) % {KNUTH_MOD}"
    csim = f"ROUND({_cosine_sql('s.v', 'c.cent_v')}, 6)"
    return f"""
WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {key}, id) AS cent_id, v AS cent_v
  FROM v ORDER BY {key}, id LIMIT {n_clusters}
), c_assign AS (
  SELECT id, v, list_id FROM (
    SELECT s.id, s.v, c.cent_id AS list_id, ROW_NUMBER() OVER (
      PARTITION BY s.id ORDER BY {csim} DESC, c.cent_id) AS r
    FROM v s, cents c) WHERE r <= 1
), pairs AS (
  SELECT b.id AS id, a.id AS winner
  FROM c_assign a JOIN c_assign b ON a.list_id = b.list_id AND a.id < b.id
  WHERE ROUND({_cosine_sql('a.v', 'b.v')}, 6) >= {threshold}
), dups AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: without it DuckDB inlines the whole
  -- pair pipeline (64-dim dot-product expressions over the cluster
  -- cross join) into the recursive term and dies with a spurious OOM;
  -- materialized, the recursion joins a tiny (duplicate-volume) table.
  SELECT id, MIN(winner) AS dup_of FROM pairs GROUP BY id),
chase(id, rep) AS (
  SELECT id, dup_of FROM dups
  UNION ALL
  SELECT c.id, d.dup_of FROM chase c JOIN dups d ON c.rep = d.id
), final AS (
  -- the unique terminal of each strictly-decreasing pointer chain:
  -- the first ancestor that is not itself a duplicate
  SELECT id, rep AS dup_of FROM chase
  WHERE rep NOT IN (SELECT id FROM dups)
)
SELECT c.id AS vec_id, c.list_id, f.dup_of,
       f.dup_of IS NOT NULL AS is_dup
FROM c_assign c LEFT JOIN final f USING (id)
"""


def text_repetition(spark, sf_dir):
    """Gopher repetition rules (Rae et al. 2021 §A1.1): most-frequent
    n-gram character coverage (n=2..4) and duplicated-5-gram character
    fraction, per document."""
    from space_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs, "text", "doc_id")


def _rep_sql() -> str:
    def gram_cte(n):
        return f"""
g{n} AS (
  SELECT doc_id, len,
    UNNEST(list_transform(
      generate_series(0, GREATEST(len(w) - {n}, 0)),
      i -> array_to_string(w[i+1:i+{n}], ' '))) AS gram
  FROM toks
), c{n} AS (
  SELECT doc_id, gram, COUNT(*) AS c, ANY_VALUE(len) AS len
  FROM g{n} GROUP BY doc_id, gram
)"""

    def top_cte(n):
        return f"""
t{n} AS (
  SELECT doc_id,
    CASE WHEN len > 0 THEN ROUND(c * length(gram) / len, 6)
         ELSE 0.0 END AS frac
  FROM (SELECT doc_id, gram, c, len, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY c DESC, gram) AS r FROM c{n})
  WHERE r = 1
)"""

    return f"""
WITH toks AS (
  SELECT doc_id, length(text) AS len,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS w
  FROM documents
),{gram_cte(2)},{top_cte(2)},{gram_cte(3)},{top_cte(3)},{gram_cte(4)},{top_cte(4)},{gram_cte(5)},
d5 AS (
  SELECT doc_id,
         CASE WHEN ANY_VALUE(len) > 0
              THEN ROUND(SUM((c - 1) * length(gram))
                         / ANY_VALUE(len), 6)
              ELSE 0.0 END AS frac
  FROM c5 GROUP BY doc_id
)
SELECT toks.doc_id,
  COALESCE(t2.frac, 0.0) AS top2gram_char_frac,
  COALESCE(t3.frac, 0.0) AS top3gram_char_frac,
  COALESCE(t4.frac, 0.0) AS top4gram_char_frac,
  COALESCE(d5.frac, 0.0) AS dup5gram_char_frac
FROM toks
LEFT JOIN t2 ON toks.doc_id = t2.doc_id
LEFT JOIN t3 ON toks.doc_id = t3.doc_id
LEFT JOIN t4 ON toks.doc_id = t4.doc_id
LEFT JOIN d5 ON toks.doc_id = d5.doc_id
"""


TEXT_REPETITION_SQL = _rep_sql()


def sample_weighted(spark, sf_dir):
    """Quality-weighted Bernoulli resampling: keep each document with
    probability min(1, n_chars/3000) decided by the deterministic id
    hash — the quality-classifier sampling step of a corpus pipeline
    (no shuffle; membership stable under appends)."""
    from space_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.least(F.col("n_chars") / 3000.0, F.lit(1.0)).alias("w"),
    )
    return weighted_sample(docs, "w", "doc_id").drop("w")


SAMPLE_WEIGHTED_SQL = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
        ::BIGINT % 10000
      < LEAST(n_chars / 3000.0, 1.0) * 10000.0
"""


def ann_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss Gaussian random projection of the embedding
    corpus to 8 dims (fixed seeded planes, 1/sqrt(d) scaling) — the
    dimensionality-reduction step ahead of ANN indexing at scale."""
    from space_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    out = random_projection(emb, "vec_id", "embedding", out_dim=8)
    # per-component scalar columns: sortable/hashable on both engines
    return out.select(
        "vec_id",
        *[F.element_at("proj", i + 1).alias(f"p{i}") for i in range(8)],
    )


def _rp_sql(out_dim: int = 8, seed: int = 7) -> str:
    import math

    from space_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(EMB_DIM, out_dim, seed)
    inv = repr(1.0 / math.sqrt(float(out_dim)))
    comps = []
    for p in planes:
        lits = ", ".join(
            f"CAST({v!r} AS DOUBLE)" for v in p
        )
        comps.append(
            f"ROUND({_dot_sql('embedding', f'[{lits}]')} * "
            f"CAST({inv} AS DOUBLE), 6)"
        )
    cols = ", ".join(f"{c} AS p{i}" for i, c in enumerate(comps))
    # Lockstep with random_projection's poison filter: null vectors,
    # wrong-length vectors, and non-finite/null components are excluded
    # (no such rows exist in the synthetic corpus, but the filter must
    # agree between engines on any input).
    return f"""SELECT vec_id, {cols} FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
  AND NOT list_bool_or(list_transform(embedding,
        x -> x IS NULL OR isnan(x) OR isinf(x)))"""


ANN_RP_SQL = _rp_sql()


def dedup_corpus_lines(spark, sf_dir):
    """Cross-document line dedup (CCNet/RefinedWeb boilerplate removal):
    every distinct line survives only at its first (doc, position)
    occurrence — short (<5 chars) and empty lines are exempt — and
    documents are rebuilt from surviving lines. The word-soup corpus
    gains line structure via the same ' table ' rewrite as
    text_quality_rules."""
    from space_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", " quick ", "\nquick\n").alias("text"),
    )
    return dedup_lines(docs, "doc_id", "text")


DEDUP_LINES_SQL = """
WITH docs AS (
  SELECT doc_id,
         COALESCE(regexp_replace(text, ' quick ',
                                 chr(10) || 'quick' || chr(10), 'g'),
                  '') AS text
  FROM documents
), split AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs
), lines AS (
  SELECT doc_id,
         generate_subscripts(parts, 1) - 1 AS pos,
         unnest(parts) AS line
  FROM split
), kept AS (
  SELECT doc_id, pos, line,
         (length(line) < 5 OR line = '')
         OR ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
           AS keep
  FROM lines
)
SELECT doc_id,
  COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                      ORDER BY pos), '') AS text,
  COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
  COALESCE(SUM(CASE WHEN keep THEN 0 ELSE 1 END), 0)::BIGINT AS n_dropped
FROM kept GROUP BY doc_id
"""


def text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary construction: top-100 tokens by frequency."""
    from space_spark.operators.text import vocab_topk

    docs = _t(spark, sf_dir, "documents").select("text")
    return vocab_topk(docs, "text", 100).select(
        "token", F.col("freq").cast("long").alias("freq")
    )


TEXT_VOCAB_SQL = """
SELECT token, COUNT(*)::BIGINT AS freq
FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 100
"""


def text_heavy_hitters(spark, sf_dir):
    """Exact frequent tokens via the two-pass Misra-Gries sketch +
    recount plan (operators/text.py heavy_hitters): per-partition
    MG(k) summaries bound the candidate exchange at O(partitions*k)
    rows — the long tail (the dominant shuffle cost of a naive
    groupBy at web-corpus scale) never shuffles — then one broadcast-
    joined recount makes the counts exact. Threshold 2000 ppm (0.2%
    of all token occurrences), integer-compared so any SQL engine
    reproduces it bit-for-bit."""
    from space_spark.operators.text import heavy_hitters

    docs = _t(spark, sf_dir, "documents").select("text")
    return heavy_hitters(docs, "text", threshold_ppm=2000).select(
        "token", F.col("freq").cast("long").alias("freq")
    )


TEXT_HEAVY_HITTERS_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
    AS token FROM documents
), t AS (SELECT token FROM toks WHERE token <> ''),
tot AS (SELECT COUNT(*) AS n FROM t)
SELECT token, COUNT(*)::BIGINT AS freq
FROM t, tot
GROUP BY token, tot.n
HAVING COUNT(*) * 1000000 >= 2000 * tot.n
ORDER BY freq DESC, token ASC
"""


def text_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (score rounded before ranking,
    term tie-break — engine-independent)."""
    from space_spark.operators.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tf_idf_top_terms(docs, "doc_id", "text", top_n=3).select(
        "doc", "term", F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"), "score",
        F.col("rank").cast("long").alias("rnk"),
    )


TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id AS doc,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), terms_ne AS (
  SELECT * FROM terms WHERE term <> ''
), tf AS (
  SELECT doc, term, COUNT(*)::BIGINT AS tf FROM terms_ne GROUP BY doc, term
), dfreq AS (
  SELECT term, COUNT(DISTINCT doc)::BIGINT AS df FROM terms_ne GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc, tf.term, tf, df,
         ROUND(tf * LN(n_docs / df), 4) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc
            ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc, term, tf, df, score, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 3
"""


def text_chunk_windows(spark, sf_dir):
    """Fixed-token-window document chunking (32-token chunks, 8-token
    overlap) — the LLM context-window preprocessing step."""
    from space_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=32,
                           overlap=8)


TEXT_CHUNK_SQL = """
WITH base AS (
  SELECT doc_id AS doc,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc, toks, len(toks) AS n FROM base
), chunks AS (
  SELECT doc, toks,
         unnest(generate_series(1, n, 24)) AS start,
         generate_subscripts(generate_series(1, n, 24), 1) AS cid
  FROM s
)
SELECT doc, cid::BIGINT AS chunk_id,
       array_to_string(list_slice(toks, start, start + 31), ' ')
         AS chunk_text,
       len(list_slice(toks, start, start + 31))::BIGINT AS n_tokens
FROM chunks
"""


def text_pack_sequences(spark, sf_dir):
    """Sequence packing: documents laid out into 512-token context bins
    by global token offset — computed with a distributed two-phase
    prefix sum (the oracle's global window would single-partition at
    scale)."""
    from space_spark.operators.packing import pack_offsets

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("long").alias("n_tokens"),
    )
    return pack_offsets(docs, "doc_id", "n_tokens", context_len=512)


TEXT_PACK_SQL = """
WITH toks AS (
  SELECT doc_id,
         len(regexp_split_to_array(lower(trim(text)), '\\s+'))::BIGINT
           AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
  (SUM(n_tokens) OVER (ORDER BY doc_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT
    AS offset,
  FLOOR(((SUM(n_tokens) OVER (ORDER BY doc_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens))
     / 512)::BIGINT AS bin_id
FROM toks
"""


def sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: md5-bucket assignment, stable
    under repartitioning and appends (rand() is neither)."""
    from space_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )


SAMPLE_SPLIT_SQL = """
SELECT doc_id,
  CASE
    WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
         ::BIGINT % 10000 < 9000 THEN 'train'
    WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
         ::BIGINT % 10000 < 9500 THEN 'val'
    ELSE 'test'
  END AS split
FROM documents
"""


def sample_stratified(spark, sf_dir):
    """Exact per-stratum 10% sample over the source strata: hash-ranked
    window keeps ceil(0.1 * n) rows per stratum."""
    from space_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, "source", 0.1, "doc_id")


SAMPLE_STRATIFIED_SQL = """
WITH b AS (
  SELECT doc_id, source,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
      ::BIGINT % 10000 AS bucket
  FROM documents
), r AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY bucket ASC, doc_id ASC) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM b
)
SELECT doc_id, source FROM r WHERE rn <= CEIL(n * 0.1)
"""


def ann_cosine_topk(spark, sf_dir):
    from space_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    # vec_id < 5 bounds the query set at 5 rows — skip the count probe.
    return cosine_topk(emb, queries_df, "vec_id", "embedding", k=5,
                       n_queries=5).select(
        "query_id", "neighbor_id", "score",
        F.col("rank").cast("long").alias("rnk"),
    )


ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id,
         ROUND({_cosine_sql('qv', 'cv')}, 4) AS score
       FROM q, c WHERE query_id != neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, score, rnk FROM ranked WHERE rnk <= 5
"""


def bitext_margin_topk(spark, sf_dir):
    """Margin-based bitext mining (LASER/CCMatrix, Artetxe & Schwenk
    2019) over two disjoint embedding corpora: per-source best target
    by ratio margin, threshold 1.0 (operators/similarity.py
    bitext_mine; registered round 13 per the r12 verdict — the last
    major operator without a CORRECTNESS row). Every 10th vector plays
    'source', the 5-offset decile plays 'target': disjoint id spaces
    as the operator requires, both sides O(corpus/10) so the exact
    top-k oracle path stays bounded at every SF."""
    from space_spark.operators.similarity import bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.where(F.col("vec_id") % 10 == 0)
    tgt = emb.where(F.col("vec_id") % 10 == 5)
    return bitext_mine(src, tgt, "vec_id", "embedding", k=4,
                       margin_threshold=1.0)


BITEXT_MARGIN_SQL = f"""
WITH src AS (SELECT vec_id AS id, embedding AS v FROM embeddings
             WHERE vec_id % 10 = 0),
     tgt AS (SELECT vec_id AS id, embedding AS v FROM embeddings
             WHERE vec_id % 10 = 5),
fwd AS (
  SELECT s.id AS src_id, t.id AS tgt_id,
         ROUND({_cosine_sql('s.v', 't.v')}, 4) AS cosine
  FROM src s, tgt t
), fwd_k AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS r
  FROM fwd
), fwdk AS (SELECT src_id, tgt_id, cosine FROM fwd_k WHERE r <= 4),
bwd AS (
  SELECT t.id AS tgt_id, s.id AS bsrc_id,
         ROUND({_cosine_sql('t.v', 's.v')}, 4) AS bscore
  FROM tgt t, src s
), bwd_k AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY tgt_id ORDER BY bscore DESC, bsrc_id) AS r
  FROM bwd
),
avg_fwd AS (SELECT src_id, AVG(cosine) AS src_avg FROM fwdk
            GROUP BY src_id),
avg_bwd AS (SELECT tgt_id, AVG(bscore) AS tgt_avg FROM bwd_k
            WHERE r <= 4 GROUP BY tgt_id),
scored AS (
  SELECT f.src_id, f.tgt_id, f.cosine,
         ROUND(f.cosine / (af.src_avg / 2 + ab.tgt_avg / 2), 4)
           AS margin
  FROM fwdk f
  JOIN avg_fwd af USING (src_id)
  JOIN avg_bwd ab USING (tgt_id)
), best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rr
  FROM scored
)
SELECT src_id, tgt_id, cosine, margin FROM best
WHERE rr = 1 AND margin >= 1.0
"""


def _ann_lsh_sql() -> str:
    """LSH-bucketed top-k oracle SQL. The REGISTERED ann_lsh_topk query
    was retired round 12 (see _RETIRED: ann_ivf_topk covers bucketed
    ANN; tests/test_ann_recall.py pins the kernel), but this SQL stays:
    ann_recall_report composes it as the 'lsh' method's subquery."""
    probe_list = ", ".join(
        ["b0"] + [f"xor(b0, {1 << i})" for i in range(8)]
    )
    return f"""
WITH q0 AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_bucket_sql('embedding')} AS b0
  FROM embeddings WHERE vec_id < 5
), q AS (
  SELECT query_id, qv, UNNEST([{probe_list}]) AS bucket FROM q0
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         {_bucket_sql('embedding')} AS bucket
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         ROUND({_cosine_sql('qv', 'cv')}, 4) AS score
  FROM q JOIN c USING (bucket)
  WHERE query_id != neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, score, rnk FROM ranked WHERE rnk <= 5
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN. Centroids are the 16 corpus vectors with the
    smallest Knuth-hashed ids; list assignment rounds the same
    deterministic cosine fold before argmax with centroid-id tie-breaks —
    every step is reproducible in SQL, so the query is fully oracled."""
    from space_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries_df, "vec_id", "embedding", k=5,
                    n_centroids=16, n_probe=8).select(
        "query_id", "neighbor_id", "score",
        F.col("rank").cast("long").alias("rnk"),
    )


def _ann_ivf_sql(n_centroids: int = 16, n_probe: int = 8) -> str:
    from space_spark.operators.similarity import (
        KNUTH_ID_MOD,
        KNUTH_MOD,
        KNUTH_MULT,
    )

    csim = f"ROUND({_cosine_sql('s.v', 'c.cent_v')}, 6)"
    return f"""
WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (
           ORDER BY ((id % {KNUTH_ID_MOD}) * {KNUTH_MULT}) % {KNUTH_MOD}, id) AS cent_id,
         v AS cent_v
  FROM v
  ORDER BY ((id % {KNUTH_ID_MOD}) * {KNUTH_MULT}) % {KNUTH_MOD}, id LIMIT {n_centroids}
), c_assign AS (
  SELECT id, v, list_id FROM (
    SELECT s.id, s.v, c.cent_id AS list_id, ROW_NUMBER() OVER (
      PARTITION BY s.id ORDER BY {csim} DESC, c.cent_id) AS r
    FROM v s, cents c) WHERE r <= 1
), q_assign AS (
  SELECT id, v, list_id FROM (
    SELECT s.id, s.v, c.cent_id AS list_id, ROW_NUMBER() OVER (
      PARTITION BY s.id ORDER BY {csim} DESC, c.cent_id) AS r
    FROM (SELECT * FROM v WHERE id < 5) s, cents c) WHERE r <= {n_probe}
), scored AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id,
         ROUND({_cosine_sql('q.v', 'c.v')}, 4) AS score
  FROM q_assign q JOIN c_assign c USING (list_id)
  WHERE q.id != c.id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, score, rnk FROM ranked WHERE rnk <= 5
"""


def ann_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column — 4x
    smaller ANN index storage, engine-exact arithmetic."""
    from space_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "vec_id", "embedding")
    # The comparison harness sorts/hashes scalar columns — serialize the
    # int8 vector to CSV (exact, order-preserving).
    return out.select(
        "id", "scale", F.concat_ws(",", F.col("q")).alias("q_csv")
    )


ANN_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id AS id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale,
         embedding
  FROM embeddings
)
SELECT id, ROUND(scale, 8) AS scale,
  array_to_string(
    CASE WHEN scale > 0
      THEN list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) / scale) AS INT))
      ELSE list_transform(embedding, x -> 0)
    END, ',') AS q_csv
FROM s
"""


def embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs via sign-bit LSH buckets (the registered
    plan is fully distributed — no driver-side matrix; the blocked-GEMM
    exact variant remains available as neardup_pairs(exact=True) and is
    what tests compare against). Bucket bits use fixed plane constants +
    the deterministic fold, so the bucket restriction is mirrored exactly
    in the SQL oracle."""
    from space_spark.operators.similarity import neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.9, dim=EMB_DIM,
        n_planes=8, exact=False,
    )


NEARDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND({_cosine_sql('a.embedding', 'b.embedding')}, 4) AS score
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({_cosine_sql('a.embedding', 'b.embedding')}, 4) >= 0.9
"""


def multimodal_image_features(spark, sf_dir):
    from space_spark.operators.multimodal import image_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return image_features(docs, "doc_id", "payload")


MULTIMODAL_SQL = """
SELECT doc_id,
  octet_length(encode(text))::BIGINT AS n_bytes,
  (octet_length(encode(text)) % 1920 + 1)::INT AS width,
  ((octet_length(encode(text)) * 7919 + 13) % 1080 + 1)::INT AS height,
  (octet_length(encode(text)) % 3 + 1)::INT AS channels,
  md5(text) AS content_md5
FROM documents
"""


def multimodal_frame_sample(spark, sf_dir):
    from space_spark.operators.multimodal import frame_sample_stub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return frame_sample_stub(docs, "doc_id", "payload", every_n_bytes=256)


FRAME_SAMPLE_SQL = """
SELECT doc_id, i::INT AS frame_idx,
  md5(substring(text, (i * 256 + 1)::INT, 256)) AS frame_md5
FROM (
  SELECT doc_id, text,
    UNNEST(range(0,
      CAST(CEIL(GREATEST(length(text), 1) / 256.0) AS BIGINT))) AS i
  FROM documents
)
"""


def multimodal_audio_features(spark, sf_dir):
    from space_spark.operators.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return audio_features(docs, "doc_id", "payload")


AUDIO_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n, md5(text) AS digest
  FROM documents
)
SELECT doc_id,
  n::BIGINT AS n_bytes,
  (8000 * (n % 3 + 1))::INT AS sample_rate,
  (n * 256 + (n * 31) % 997)::BIGINT AS n_samples,
  (n * 256 + (n * 31) % 997) / (8000.0 * (n % 3 + 1)) AS duration_sec,
  (('0x' || substring(digest, 1, 8))::BIGINT % 1000) / 1000.0
    AS mean_amplitude,
  digest AS content_md5
FROM b
"""


def space_mv_refresh(spark, sf_dir):
    """§2.8 end-to-end: a filter->map_batches view over a space table is
    materialized, then the SOURCE mutates (append, then a CoW delete)
    and ``MaterializedView.refresh()`` syncs INCREMENTALLY — one MV
    commit per source snapshot, deletes propagated by primary key,
    adds run through the view's UDF plan (reference ray/runners.py
    refresh loop). The oracle recomputes the view over the source's
    net final state."""
    from space_spark import Dataset, field

    docs = _t(spark, sf_dir, "documents")
    base = _space_tmp()
    ds = Dataset.create(spark, base + "/mv_src", docs.schema, ["doc_id"])
    ds.append(docs.where(F.col("doc_id") % 3 == 0))

    def udf(batch):
        return {
            "doc_id": batch["doc_id"],
            "score": batch["n_chars"] * 3 + batch["doc_id"],
        }

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.LongType()),
        ]
    )
    view = ds.filter_view(
        lambda row: row["n_chars"] > 400, input_fields=["n_chars"]
    ).map_batches(udf, out_schema, input_fields=["doc_id", "n_chars"])
    mv = view.materialize(spark, base + "/mv")
    applied = mv.refresh()
    assert len(applied) == 1, applied
    ds.append(docs.where(F.col("doc_id") % 3 == 1))
    ds.delete(field("doc_id") < 60)
    applied = mv.refresh()
    assert len(applied) == 2, applied  # one MV commit per source snapshot
    return mv.read().select("doc_id", "score")


SPACE_MV_REFRESH_SQL = """
SELECT doc_id, n_chars * 3 + doc_id AS score
FROM documents
WHERE (doc_id % 3 = 0 OR doc_id % 3 = 1)
  AND doc_id >= 60
  AND n_chars > 400
"""


def space_stream_mv(spark, sf_dir):
    """§2.8 x §2.9 end-to-end (round 8): a filter->map_batches view is
    materialized, the SOURCE mutates (two appends, an upsert that flips
    rows OUT of the filter, a CoW delete), and ``stream_refresh`` drives
    the MV off the source's CDC readStream — one availableNow micro-batch
    nets the whole feed per primary key and lands adds+deletes+synced
    marker as ONE MV commit (streaming/changefeed.py stream_refresh; the
    batch sibling is space_mv_refresh). The oracle recomputes the view
    over the source's net final state; the returned MV is RELOADED from
    disk so the result proves committed storage, not driver state."""
    from space_spark import Dataset, MaterializedView, field
    from space_spark.sources.datasource import register_space_source
    from space_spark.streaming.changefeed import stream_refresh

    register_space_source(spark)
    docs = _t(spark, sf_dir, "documents")
    base = _space_tmp()
    ds = Dataset.create(spark, base + "/smv_src", docs.schema, ["doc_id"])

    def udf(batch):
        return {
            "doc_id": batch["doc_id"],
            "score": batch["n_chars"] * 3 + batch["doc_id"],
        }

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.LongType()),
        ]
    )
    view = ds.filter_view(
        lambda row: row["n_chars"] > 400, input_fields=["n_chars"]
    ).map_batches(udf, out_schema, input_fields=["doc_id", "n_chars"])
    mv = view.materialize(spark, base + "/smv")
    ds.append(docs.where(F.col("doc_id") % 3 == 0))
    ds.append(docs.where(F.col("doc_id") % 3 == 1))
    # Update some rows to FAIL the filter: their MV rows must vanish
    # even though the view transform emits nothing for them.
    ds.upsert(
        docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 90))
        .withColumn("n_chars", F.lit(0).cast(
            docs.schema["n_chars"].dataType))
    )
    ds.delete(field("doc_id") >= 400)
    q = stream_refresh(mv, base + "/smv_ckpt")
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "stream_refresh did not drain the CDC catch-up within "
            "600s — refusing to read a partially-maintained MV"
        )
    q.stop()
    return MaterializedView.load(spark, base + "/smv").read().select(
        "doc_id", "score"
    )


SPACE_STREAM_MV_SQL = """
SELECT doc_id, n_chars * 3 + doc_id AS score
FROM documents
WHERE (doc_id % 3 = 0 OR doc_id % 3 = 1)
  AND NOT (doc_id % 3 = 0 AND doc_id < 90)
  AND doc_id < 400
  AND n_chars > 400
"""


def space_agg_mv(spark, sf_dir):
    """Incremental aggregate materialized view (round 13,
    core/agg_views.py — north-star scope, no reference counterpart): a
    (lang, source) rollup of count/sum/avg/min/max over n_chars is
    materialized, then maintained through two appends, an upsert that
    CHANGES values (delete+add in one snapshot), a CoW delete that
    removes group extremes (the holistic min/max repair path), and a
    MoR delete — each refresh folds the change feed into the stored
    state (deleted values recovered via a pruned parent-version point
    read; only damaged groups recompute). The oracle recomputes the
    rollup over the net final state; the MV is RELOADED from disk so
    the result proves committed storage, not driver state."""
    from space_spark import Dataset, MaterializedView, field

    docs = _t(spark, sf_dir, "documents")
    base = _space_tmp()
    ds = Dataset.create(spark, base + "/agg_src", docs.schema,
                        ["doc_id"])
    view = ds.aggregate_view(
        ["lang", "source"],
        {
            "n_docs": ("count", "*"),
            "sum_chars": ("sum", "n_chars"),
            "avg_chars": ("avg", "n_chars"),
            "min_chars": ("min", "n_chars"),
            "max_chars": ("max", "n_chars"),
        },
    )
    mv = view.materialize(spark, base + "/agg_mv")
    ds.append(docs.where(F.col("doc_id") % 3 == 0))
    mv.refresh()                       # fold the first snapshot alone
    ds.append(docs.where(F.col("doc_id") % 3 != 0))
    # Value change: doubled n_chars lands as delete+add in one snapshot.
    ds.upsert(
        docs.where(F.col("doc_id") % 11 == 0)
        .withColumn("n_chars", F.col("n_chars") * 2)
    )
    # CoW delete: removes many per-group extremes -> repair path.
    ds.delete(field("doc_id") % 7 == 0)
    # MoR delete exercises the bitmap-masked parent read.
    ds.delete(field("doc_id") == 1, rewrite=False)
    mv.refresh()                       # fold the remaining four
    out = MaterializedView.load(spark, base + "/agg_mv").read()
    return out.select(
        "lang", "source", "n_docs", "sum_chars",
        F.round(F.col("avg_chars"), 6).alias("avg_chars_r"),
        "min_chars", "max_chars",
    )


SPACE_AGG_MV_SQL = """
WITH net AS (
  SELECT lang, source,
         CASE WHEN doc_id % 11 = 0 THEN n_chars * 2
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 7 != 0 AND doc_id != 1
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       ROUND(SUM(CAST(n_chars AS DOUBLE))
             / COUNT(n_chars), 6) AS avg_chars_r,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM net
GROUP BY lang, source
"""


def text_bpe_pack(spark, sf_dir):
    """Tokenizer-aware sequence packing (round 8): documents laid into
    512-token context bins by REAL BPE token counts (not whitespace
    estimates — the packing a trainer actually consumes), via the same
    distributed two-phase prefix sum as text_pack_sequences (the
    oracle's global window would single-partition at scale; the count
    itself is a map-only JVM expression)."""
    from space_spark.operators.bpe import bpe_token_count
    from space_spark.operators.dedup import _fan_out
    from space_spark.operators.packing import pack_offsets

    # Fan out before the 64-merge BPE replace chain (r14-opt, guide
    # §2): the single-file scan is ONE partition and the count is a
    # narrow projection BELOW pack_offsets' range exchange, so the
    # heaviest per-row kernel ran on one core. The round-robin
    # exchange moves (doc_id, text) once — projected first, guide
    # §2.3 — and the range exchange then carries only
    # (doc_id, n_tokens).
    docs = _fan_out(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_tokens"),
    )
    return pack_offsets(docs, "doc_id", "n_tokens", context_len=512)


def _bpe_pack_sql() -> str:
    from space_spark.operators.bpe import bpe_count_sql

    return f"""
WITH toks AS (
  SELECT doc_id, {bpe_count_sql('text')} AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
  (SUM(n_tokens) OVER (ORDER BY doc_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT
    AS offset,
  FLOOR(((SUM(n_tokens) OVER (ORDER BY doc_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens))
     / 512)::BIGINT AS bin_id
FROM toks
"""


def export_shards_manifest(spark, sf_dir):
    """Training-shard export end-to-end (round 8): the corpus (with
    real BPE token counts) is written as 8 parquet shards in a
    deterministic md5-keyed shuffle order (operators/export.py), and
    the returned manifest — per-shard row count, token budget, key
    range, and the id at each shard's first shuffle position — is
    aggregated from the files JUST WRITTEN, so the oracle checking it
    also proves the sink executed correctly."""
    from space_spark.operators.bpe import bpe_token_count
    from space_spark.operators.dedup import _fan_out
    from space_spark.operators.export import export_training_shards

    # Fan out before the BPE chain (r14-opt, guide §2): same
    # single-partition-scan serialization as text_bpe_pack — the count
    # evaluated below the shard-id exchange on one core. Projected to
    # (doc_id, text) before the exchange (guide §2.3).
    docs = _fan_out(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tokens")
    )
    return export_training_shards(
        docs, "doc_id", _space_tmp() + "/shards", n_shards=8
    )


def _export_shards_sql() -> str:
    from space_spark.operators.bpe import bpe_count_sql

    return f"""
WITH t AS (
  SELECT doc_id, {bpe_count_sql('text')} AS n_tokens,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))
      ::BIGINT AS k
  FROM documents
)
SELECT (k % 8)::INT AS shard_id,
  COUNT(*)::BIGINT AS n_rows,
  MIN(k)::BIGINT AS min_key,
  MAX(k)::BIGINT AS max_key,
  min_by(doc_id, k)::BIGINT AS first_id,
  SUM(n_tokens)::BIGINT AS n_tokens
FROM t GROUP BY 1
"""


def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (round 8): corpus compressed to 8x4-bit
    codes (16-entry codebooks per subspace, deterministic Knuth-sample
    codebooks), queries scan CODES via additive integer-micro lookup
    tables — the memory-bound regime that makes a 100 TB embedding
    corpus scannable (operators/similarity.py pq_topk; see the
    integer-micro distance discipline there for why this float-geometry
    operator is exactly hash-verifiable against ANSI SQL)."""
    from space_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.where(F.col("vec_id") < 5), "vec_id", "embedding",
        k=5, dim=EMB_DIM, m=8, n_codes=16,
    ).select(
        "query_id", "neighbor_id", "adist_micro",
        F.col("rnk").cast("long").alias("rnk"),
    )


def _ann_pq_sql(m: int = 8, n_codes: int = 16, k: int = 5,
                n_queries: int = 5) -> str:
    from space_spark.operators.similarity import (
        KNUTH_ID_MOD,
        KNUTH_MOD,
        KNUTH_MULT,
    )

    sub = EMB_DIM // m
    # Left-to-right chain, same fold order as the Spark expression.
    chain = " + ".join(
        f"(CAST(a.v[s*{sub}+{j}+1] AS DOUBLE) - "
        f"CAST(b.v[s*{sub}+{j}+1] AS DOUBLE))"
        f"*(CAST(a.v[s*{sub}+{j}+1] AS DOUBLE) - "
        f"CAST(b.v[s*{sub}+{j}+1] AS DOUBLE))"
        for j in range(sub)
    )
    knuth = f"((id % {KNUTH_ID_MOD}) * {KNUTH_MULT}) % {KNUTH_MOD}"
    return f"""
WITH v AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = {EMB_DIM}
    AND len(list_filter(embedding, x -> x IS NULL
          OR isnan(CAST(x AS DOUBLE))
          OR abs(CAST(x AS DOUBLE)) = CAST('infinity' AS DOUBLE))) = 0
), cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {knuth}, id) - 1 AS c, v
  FROM v ORDER BY {knuth}, id LIMIT {n_codes}
), subs AS (SELECT UNNEST(range({m})) AS s),
dists AS (
  SELECT a.id, subs.s, b.c,
         CAST(ROUND(({chain}) * 1000000) AS BIGINT) AS d
  FROM v a, subs, cb b
), encoded AS (
  SELECT id, s, c FROM (
    SELECT id, s, c,
           ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d, c) AS r
    FROM dists) WHERE r = 1
), lut AS (
  SELECT id AS query_id, s, c, d
  FROM dists WHERE id < {n_queries}
), scored AS (
  SELECT l.query_id, e.id AS neighbor_id,
         SUM(l.d)::BIGINT AS adist_micro
  FROM encoded e JOIN lut l USING (s, c)
  WHERE e.id != l.query_id
  GROUP BY l.query_id, e.id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist_micro ASC, neighbor_id ASC
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, adist_micro, rnk
FROM ranked WHERE rnk <= {k}
"""


def _ann_ivfpq_sql(m: int = 8, n_codes: int = 16, n_lists: int = 16,
                   n_probe: int = 4, k: int = 5,
                   n_queries: int = 5) -> str:
    from space_spark.operators.similarity import (
        KNUTH_ID_MOD,
        KNUTH_MOD,
        KNUTH_MULT,
    )

    sub = EMB_DIM // m
    pq_chain = " + ".join(
        f"(CAST(a.v[s*{sub}+{j}+1] AS DOUBLE) - "
        f"CAST(b.v[s*{sub}+{j}+1] AS DOUBLE))"
        f"*(CAST(a.v[s*{sub}+{j}+1] AS DOUBLE) - "
        f"CAST(b.v[s*{sub}+{j}+1] AS DOUBLE))"
        for j in range(sub)
    )
    coarse_chain = " + ".join(
        f"(CAST(a.v[{j + 1}] AS DOUBLE) - CAST(b.v[{j + 1}] AS DOUBLE))"
        f"*(CAST(a.v[{j + 1}] AS DOUBLE) - CAST(b.v[{j + 1}] AS DOUBLE))"
        for j in range(EMB_DIM)
    )
    knuth = f"((id % {KNUTH_ID_MOD}) * {KNUTH_MULT}) % {KNUTH_MOD}"
    return f"""
WITH v AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = {EMB_DIM}
    AND len(list_filter(embedding, x -> x IS NULL
          OR isnan(CAST(x AS DOUBLE))
          OR abs(CAST(x AS DOUBLE)) = CAST('infinity' AS DOUBLE))) = 0
), cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {knuth}, id) - 1 AS c, v
  FROM v ORDER BY {knuth}, id LIMIT {n_codes}
), cl AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {knuth}, id) - 1 AS list_id, v
  FROM v ORDER BY {knuth}, id LIMIT {n_lists}
), coarse AS (
  SELECT a.id, b.list_id,
         CAST(ROUND(({coarse_chain}) * 1000000) AS BIGINT) AS d
  FROM v a, cl b
), c_assign AS (
  SELECT id, list_id FROM (
    SELECT id, list_id,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, list_id) AS r
    FROM coarse) WHERE r = 1
), q_probe AS (
  SELECT id AS query_id, list_id FROM (
    SELECT id, list_id,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, list_id) AS r
    FROM coarse WHERE id < {n_queries}) WHERE r <= {n_probe}
), subs AS (SELECT UNNEST(range({m})) AS s),
dists AS (
  SELECT a.id, subs.s, b.c,
         CAST(ROUND(({pq_chain}) * 1000000) AS BIGINT) AS d
  FROM v a, subs, cb b
), encoded AS (
  SELECT id, s, c FROM (
    SELECT id, s, c,
           ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d, c) AS r
    FROM dists) WHERE r = 1
), lut AS (
  SELECT id AS query_id, s, c, d
  FROM dists WHERE id < {n_queries}
), scored AS (
  SELECT q.query_id, e.id AS neighbor_id,
         SUM(l.d)::BIGINT AS adist_micro
  FROM encoded e
  JOIN c_assign ca USING (id)
  JOIN q_probe q ON ca.list_id = q.list_id
  JOIN lut l ON l.query_id = q.query_id AND l.s = e.s AND l.c = e.c
  WHERE e.id != q.query_id
  GROUP BY q.query_id, e.id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist_micro ASC, neighbor_id ASC
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, adist_micro, rnk
FROM ranked WHERE rnk <= {k}
"""


def ann_ivfpq_rerank(spark, sf_dir):
    """IVF-PQ + EXACT re-ranking (round 10): the production recall fix
    (FAISS IndexRefineFlat) — the ADC scan's top 4k candidates per
    query are re-scored with exact squared-L2 over the RAW vectors
    (integer-micro pipeline, same sequential fold), and the final
    top-k ranks by the exact distance. PQ quantization error then only
    matters if it evicts a true neighbor from the 4k shortlist, so
    recall approaches the pure-IVF ceiling while the corpus scan stays
    codes-only (operators/similarity.py ivfpq_rerank_topk)."""
    from space_spark.operators.similarity import ivfpq_rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk(
        emb, emb.where(F.col("vec_id") < 5), "vec_id", "embedding",
        k=5, rerank_factor=4, dim=EMB_DIM, m=8, n_codes=16, n_lists=16,
        n_probe=4,
    ).select(
        "query_id", "neighbor_id", "dist_micro",
        F.col("rnk").cast("long").alias("rnk"),
    )


def _ann_ivfpq_rerank_sql(m: int = 8, n_codes: int = 16,
                          n_lists: int = 16, n_probe: int = 4,
                          k: int = 5, rerank_factor: int = 4,
                          n_queries: int = 5) -> str:
    """The ivfpq oracle's pipeline cut at rnk <= R (run verbatim as a
    nested CTE), then an exact rerank over raw vectors: both stages
    are exact integer arithmetic, so the two-stage index
    hash-verifies end-to-end."""
    r_cut = rerank_factor * k
    base = _ann_ivfpq_sql(m=m, n_codes=n_codes, n_lists=n_lists,
                          n_probe=n_probe, k=r_cut, n_queries=n_queries)
    exact_chain = " + ".join(
        f"(CAST(q.v[{j + 1}] AS DOUBLE) - CAST(n.v[{j + 1}] AS DOUBLE))"
        f"*(CAST(q.v[{j + 1}] AS DOUBLE) - CAST(n.v[{j + 1}] AS DOUBLE))"
        for j in range(EMB_DIM)
    )
    return f"""
WITH cand AS (
{base}
), v AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = {EMB_DIM}
    AND len(list_filter(embedding, x -> x IS NULL
          OR isnan(CAST(x AS DOUBLE))
          OR abs(CAST(x AS DOUBLE)) = CAST('infinity' AS DOUBLE))) = 0
), exact AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(ROUND(({exact_chain}) * 1000000) AS BIGINT) AS dist_micro
  FROM cand c
  JOIN v q ON q.id = c.query_id
  JOIN v n ON n.id = c.neighbor_id
), rr AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dist_micro ASC, neighbor_id ASC
  ) AS rnk
  FROM exact
)
SELECT query_id, neighbor_id, dist_micro, rnk
FROM rr WHERE rnk <= {k}
"""


def ann_recall_report(spark, sf_dir):
    """ANN retrieval-QUALITY report (round 9): recall@5 of every
    approximate index — LSH buckets, IVF, PQ/ADC, IVF-PQ — against the
    exact broadcast-GEMM baseline (`cosine_topk`), per query. The ANN
    suite proves determinism; THIS query proves the indexes actually
    retrieve (the r8 verdict's gap): hits_at_5 is exact integer
    counting over oracle-verified method outputs, so the whole quality
    report is itself hash-verified cross-engine
    (operators/similarity.py recall_at_k). Floors are pinned in
    tests/test_ann_recall.py; the recall-vs-n_probe trade is measured
    in SCALE.md."""
    from space_spark.operators.similarity import (
        cosine_topk, ivf_topk, ivfpq_topk, lsh_bucket_topk, pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    # The five index constructions below are INDEPENDENT and each runs
    # eager driver-bounded jobs at build time (the exact baseline's
    # checkpoint; centroid/codebook collects in ivf/pq/ivfpq; the
    # query-row collect in lsh) — serially they cost ~2.5 s of mostly
    # scheduling latency at sf0.1. Build them from a small thread pool
    # (guide §2.6 overlap-independent-jobs; measured ~1.5 s saved):
    # the produced PLANS are identical — only the construction-time
    # jobs overlap — so results and the per-method oracles are
    # untouched.
    from concurrent.futures import ThreadPoolExecutor

    def _exact():
        return (
            cosine_topk(emb, q, "vec_id", "embedding", k=5, n_queries=5)
            .where(F.col("rank") <= 5).select("query_id", "neighbor_id")
            # Pinned (r13-opt): consumed twice below (hit join + base
            # grid); unpinned, the whole exact scoring pass — a full
            # corpus x queries fold — executed twice per run. 25 rows.
            .localCheckpoint(eager=True)
        )

    builders = [
        ("__exact__", _exact),
        ("lsh", lambda: lsh_bucket_topk(emb, q, "vec_id", "embedding",
                                        k=5, dim=EMB_DIM, n_planes=8,
                                        probes=1)
         .where(F.col("rank") <= 5)),
        ("ivf", lambda: ivf_topk(emb, q, "vec_id", "embedding", k=5,
                                 n_centroids=16, n_probe=8)
         .where(F.col("rank") <= 5)),
        ("pq", lambda: pq_topk(emb, q, "vec_id", "embedding", k=5,
                               dim=EMB_DIM, m=8, n_codes=16)),
        ("ivfpq", lambda: ivfpq_topk(emb, q, "vec_id", "embedding",
                                     k=5, dim=EMB_DIM, m=8, n_codes=16,
                                     n_lists=16, n_probe=4)),
    ]
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [(name, pool.submit(fn)) for name, fn in builders]
        built = {name: f.result() for name, f in futures}
    exact = built.pop("__exact__")
    methods = [(name, built[name]) for name in ("lsh", "ivf", "pq",
                                                "ivfpq")]
    # One tagged union joined ONCE against the exact top-5 — per-method
    # recall_at_k calls would embed (and recompute) the exact plan in
    # every union branch (8 evaluations); this shape evaluates each ANN
    # plan once and the exact baseline twice (hit join + base grid) —
    # same arithmetic as recall_at_k, same oracle.
    tagged = None
    for name, df in methods:
        part = df.select(F.lit(name).alias("method"), "query_id",
                         "neighbor_id")
        tagged = part if tagged is None else tagged.unionByName(part)
    hits = (
        tagged.join(exact, ["query_id", "neighbor_id"], "inner")
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # Base grid from EXACT's query set (norm-filtered, like the oracle's
    # base): a zero-hit (method, query) must appear as recall 0.0.
    grid = exact.select("query_id").distinct().select(
        "query_id",
        F.explode(F.array(*[F.lit(n) for n, _ in methods]))
        .alias("method"),
    )
    return grid.join(hits, ["method", "query_id"], "left").select(
        "method", "query_id",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long")
        .alias("hits_at_5"),
        F.round(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(5.0), 4)
        .alias("recall"),
    )


def _ann_recall_sql() -> str:
    """Recall@5 oracle: each method's EXISTING oracle SQL becomes a
    nested-WITH subquery; hits = LEFT JOIN match count against the
    exact top-5 (5 rows per query, distinct neighbors — the count IS
    the intersection size)."""
    inners = {
        "lsh": _ann_lsh_sql(),
        "ivf": _ann_ivf_sql(),
        "pq": _ann_pq_sql(),
        "ivfpq": _ann_ivfpq_sql(),
    }
    blocks = ",\n".join(
        f"m_{name} AS (SELECT query_id, neighbor_id FROM ({sql}) t)"
        for name, sql in inners.items()
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, e.query_id, "
        f"COUNT(a.neighbor_id)::BIGINT AS hits_at_5 "
        f"FROM exact e LEFT JOIN m_{name} a "
        f"ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id "
        f"GROUP BY e.query_id"
        for name in inners
    )
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ANN_TOPK_SQL}) t),
{blocks}
SELECT method, query_id, hits_at_5,
       ROUND(hits_at_5 / 5.0, 4) AS recall
FROM ({unions}) r
"""


def pipeline_pretrain_filter(spark, sf_dir):
    """End-to-end pretraining-filter CASCADE (round 8 capstone): the
    composed pipeline a real corpus runs through, as one query —
    normalize -> C4 document rules -> Gopher quality rules -> benchmark
    decontamination (8-gram overlap vs the held-out doc_id%11 slice) ->
    per-survivor REAL BPE token accounting. Each stage is an existing
    audited operator; this query exists to prove they COMPOSE: flags
    filter lazily (no materialization between stages, Catalyst fuses
    the three projection stages into one pass over the text), the only
    exchanges are decontamination's bounded hit-count aggregate and its
    broadcast bench-gram set. Attrition on this corpus: 500 docs ->
    ~236 after C4 -> ~182 after Gopher -> minus contaminated -> BPE
    budget for the rest."""
    from space_spark.operators.bpe import bpe_token_count
    from space_spark.operators.dedup import _fan_out, decontaminate
    from space_spark.operators.text import c4_rules, gopher_quality_flags

    # Fan out BEFORE the regex cascade (r14-opt, guide §2): the corpus
    # is one parquet file -> ONE scan partition, and c4+gopher+BPE are
    # narrow ops, so the whole cascade ran twice on a single core
    # (measured: 2.3 s/evaluation single-task at sf0.1 vs 0.1 s for the
    # scan itself). One round-robin exchange of the raw text
    # parallelizes every downstream per-row kernel; decontaminate is
    # told not to add its (now redundant) internal fan-out.
    docs = _fan_out(_t(spark, sf_dir, "documents").select(
        "doc_id",
        # Same normalization as text_c4_rules: the word-soup corpus
        # gains sentence/line structure via ' table ' -> '.\n'.
        F.regexp_replace("text", " table ", ".\n").alias("text"),
    ))
    bench = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    kept = (
        gopher_quality_flags(
            c4_rules(corpus, "text").where("c4_keep"), "text"
        )
        .where("gopher_pass")
        .select("doc_id", "text")
    )
    contaminated = decontaminate(kept, bench, "doc_id", "text", n=8,
                                 fan_out=False)
    clean = kept.join(contaminated.select("doc_id"), "doc_id",
                      "left_anti")
    return clean.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def _pipeline_filter_sql() -> str:
    from space_spark.operators.bpe import bpe_count_sql

    c4_keep = """
  (n_sentences >= 3
   AND NOT contains(lower(t), '{')
   AND NOT contains(lower(t), 'lorem ipsum')
   AND punct_line_frac >= 0.5)"""
    return f"""
WITH docs AS (
  SELECT doc_id,
         regexp_replace(text, ' table ', '.' || chr(10), 'g') AS t
  FROM documents
), c4s AS (
  SELECT doc_id, t,
    CAST(len(list_filter(regexp_split_to_array(t, '[.!?]'),
                         x -> length(trim(x)) > 0)) AS BIGINT)
      AS n_sentences,
    list_filter(string_split(t, chr(10)),
                x -> length(trim(x)) > 0) AS nelines
  FROM docs WHERE doc_id % 11 != 0
), c4f AS (
  SELECT doc_id, t, n_sentences,
    ROUND(CASE WHEN len(nelines) > 0
          THEN CAST(len(list_filter(nelines,
                 x -> regexp_matches(trim(x), '[.!?"'']$'))) AS DOUBLE)
               / len(nelines)
          ELSE 0.0 END, 6) AS punct_line_frac
  FROM c4s
), c4 AS (
  SELECT doc_id, t FROM c4f WHERE {c4_keep}
), gs AS (
  SELECT doc_id, t,
    regexp_split_to_array(trim(t), '\\s+') AS words,
    string_split(t, chr(10)) AS lines,
    length(t) - length(replace(t, '#', '')) AS hash_cnt,
    (length(t) - length(replace(t, '...', ''))) / 3 AS ell_cnt
  FROM c4
), gm AS (
  SELECT doc_id, t, hash_cnt, ell_cnt,
    len(words) AS nw, len(lines) AS nl,
    list_sum(list_transform(words, x -> length(x))) AS wchars,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
      AS alpha_w,
    len(list_distinct(lines)) AS dlines,
    len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
      AS bullets,
    len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.$'))) AS ells
  FROM gs
), kept AS (
  SELECT doc_id, t FROM gm
  WHERE nw >= 50 AND nw <= 100000
    AND ROUND(CASE WHEN nw > 0 THEN wchars / nw ELSE 0.0 END, 6)
          BETWEEN 3 AND 10
    AND ROUND(CASE WHEN nw > 0 THEN alpha_w / nw ELSE 0.0 END, 6) > 0.8
    AND ROUND(CASE WHEN nl > 0 THEN 1 - dlines / nl ELSE 0.0 END, 6)
          < 0.3
    AND ROUND(CASE WHEN nl > 0 THEN bullets / nl ELSE 0.0 END, 6) < 0.9
    AND ROUND(CASE WHEN nl > 0 THEN ells / nl ELSE 0.0 END, 6) < 0.3
    AND ROUND(CASE WHEN nw > 0 THEN (hash_cnt + ell_cnt) / nw
              ELSE 0.0 END, 6) < 0.1
), kt AS (
  SELECT doc_id, list_filter(
    regexp_split_to_array(lower(trim(t)), '\\s+'), x -> x <> '') AS w
  FROM kept
), bt AS (
  SELECT doc_id, list_filter(
    regexp_split_to_array(lower(trim(t)), '\\s+'), x -> x <> '') AS w
  FROM docs WHERE doc_id % 11 = 0
), kg AS (
  SELECT doc_id, UNNEST(list_filter(list_distinct(list_transform(
    generate_series(0, GREATEST(len(w) - 8, 0)),
    i -> array_to_string(w[i+1:i+8], ' '))), x -> x <> '')) AS gram
  FROM kt
), bg AS (
  SELECT DISTINCT UNNEST(list_filter(list_distinct(list_transform(
    generate_series(0, GREATEST(len(w) - 8, 0)),
    i -> array_to_string(w[i+1:i+8], ' '))), x -> x <> '')) AS gram
  FROM bt
), contaminated AS (
  SELECT DISTINCT kg.doc_id FROM kg JOIN bg USING (gram)
)
SELECT doc_id, {bpe_count_sql('t')} AS n_bpe_tokens
FROM kept
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def space_bloom_point_read(spark, sf_dir):
    """P6 at scale (round 8): point reads pruned by per-file primary-key
    BLOOM filters (core/blooms.py), the index for tables NOT clustered
    on the probed key — four interleaved appends give every file a key
    range spanning the whole domain, so min/max stats prune nothing,
    and only key membership can skip files. The query asserts the
    bloom probe actually pruned (< all files survive) before returning
    the exact point-read rows."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ds = Dataset.create(
        spark, _space_tmp() + "/blm", cust.schema, ["c_custkey"],
        bloom_filters=True,
    )
    for r in range(4):
        ds.append(cust.where(F.col("c_custkey") % 4 == r).coalesce(1))
    ds = ds.reload()
    keys = [3, 41, 97]
    all_files = ds.data_files()
    snapshot = ds.metadata.snapshot(ds.current_snapshot_id)
    import pandas as pd

    keys_df = spark.createDataFrame(pd.DataFrame({"c_custkey": keys}))
    survived = ds._bloom_prune(all_files, snapshot, keys_df)
    assert len(survived) < len(all_files), (
        "bloom probe pruned nothing on an unclustered table"
    )
    return ds.read_by_keys(keys).select(
        "c_custkey", "c_name", "c_acctbal"
    )


SPACE_BLOOM_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_custkey IN (3, 41, 97)
"""


def space_random_access(spark, sf_dir):
    """S12: random access point reads over a record-field table —
    RandomAccessDataSource orders items by primary key and fetches
    blob bytes address-by-address, coalescing reads per blob file.
    doc_id is contiguous 0..N-1 in the testdata, so item index ==
    doc_id and the fetched set is exactly expressible in SQL. The
    materialized fetch is k bounded point reads (k ~ N/37) — the
    driver-side list is the API's contract (a training loader's
    __getitems__), not a distributed-plan collect."""
    from space_spark import Dataset
    from space_spark.core.random_access import RandomAccessDataSource

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    ds = Dataset.create(spark, _space_tmp() + "/ra", schema, ["doc_id"],
                        record_fields=["payload"])
    ds.append(docs)
    rds = RandomAccessDataSource(ds)
    idx = list(range(5, len(rds), 37))
    vals = rds.__getitems__(idx)
    # Arrow-native literal for the ~N/37-row result: a list-of-tuples
    # createDataFrame would be a Python-RDD plan needing worker
    # processes to evaluate (the shape test_no_python_rdd_literals_in_
    # plans bans elsewhere).
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(idx, pa.int64()),
        "text": pa.array([bytes(v).decode("utf-8") for v in vals],
                         pa.string()),
    }))


SPACE_RANDOM_ACCESS_SQL = """
SELECT doc_id, text FROM documents
WHERE doc_id >= 5 AND (doc_id - 5) % 37 = 0
"""


def space_zero_copy_load(spark, sf_dir):
    """S9: zero-copy Parquet load — an EXTERNAL parquet file is
    registered into the table via manifest rows only (stats from its
    own footer, bytes never copied), interleaved with a normal append,
    and a filtered read plans across both internal and external files
    with the same manifest pruning."""
    from space_spark import Dataset, field
    from space_spark.sources.loaders import append_parquet

    nation = _t(spark, sf_dir, "nation")
    ds = Dataset.create(spark, _space_tmp() + "/zc", nation.schema,
                        ["n_nationkey"])
    append_parquet(ds, os.path.join(sf_dir, "nation.parquet"))
    ds.append(
        nation.select(
            (F.col("n_nationkey") + 100).cast("int").alias("n_nationkey"),
            "n_name",
            "n_regionkey",
        )
    )
    assert len(ds.data_files()) >= 2
    return ds.read(filter_=field("n_regionkey") <= 2).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


SPACE_ZERO_COPY_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM (
  SELECT n_nationkey, n_name, n_regionkey FROM nation
  UNION ALL
  SELECT n_nationkey + 100 AS n_nationkey, n_name, n_regionkey FROM nation
)
WHERE n_regionkey <= 2
"""


# ----------------------------------------------- round-8 additions
# The nine queries below were implemented and locally oracle-verified
# in round 7 (at sf0.001 AND sf0.01) and REGISTERED in round 8 per the
# round-7 verdict ("Next round #1"): vacuum-read, branch-write,
# schema-evolution, video-metadata, hard-negative mining,
# perplexity-bucket quality mix, streaming session aggregation,
# bucketed co-located join, incremental fingerprint dedup. Never-green
# entries have staleness -inf, so all nine lead the round-8 gate
# window automatically.


def space_vacuum_read(spark, sf_dir):
    """M7+: snapshot expiry + vacuum. A CoW delete strands the original
    file once history is expired; vacuum must remove it (the round-6
    campaign found vacuum deleting LIVE record manifests — this query
    is the external-evidence surface for that class of bug) and the
    table must still read correctly afterward."""
    from space_spark import Dataset, field

    supp = _t(spark, sf_dir, "supplier")
    ds = Dataset.create(
        spark, _space_tmp() + "/vac", supp.schema, ["s_suppkey"]
    )
    ds.append(supp.where(F.col("s_suppkey") <= 60).coalesce(1))
    ds.delete(field("s_suppkey") <= 20)
    ds.append(supp.where(F.col("s_suppkey") > 60))
    ds.expire_snapshots(keep_last=1)
    removed = ds.vacuum()
    assert removed, "vacuum removed nothing despite expired rewrites"
    return ds.reload().read()


SPACE_VACUUM_SQL = """
SELECT * FROM supplier WHERE s_suppkey > 20
"""


def space_branch_write(spark, sf_dir):
    """M6: branch WRITE isolation — commits on a branch never move
    main; both heads read back from one table."""
    from space_spark import Dataset

    nation = _t(spark, sf_dir, "nation")
    ds = Dataset.create(
        spark, _space_tmp() + "/br", nation.schema, ["n_nationkey"]
    )
    ds.append(nation.where(F.col("n_regionkey") <= 2))
    ds.add_branch("dev")
    ds.set_current_branch("dev")
    ds.append(nation.where(F.col("n_regionkey") > 2))
    dev = ds.read(branch="dev").withColumn("branch", F.lit("dev"))
    main = ds.read(branch="main").withColumn("branch", F.lit("main"))
    return dev.unionByName(main).select(
        "branch", "n_nationkey", "n_name", "n_regionkey"
    )


SPACE_BRANCH_SQL = """
SELECT 'dev' AS branch, n_nationkey, n_name, n_regionkey FROM nation
UNION ALL
SELECT 'main', n_nationkey, n_name, n_regionkey FROM nation
WHERE n_regionkey <= 2
"""


def space_schema_evolution(spark, sf_dir):
    """§2.6+: add_column / drop_column (both metadata-only) — old files
    read NULL for the added column, dropped bytes project away."""
    from space_spark import Dataset

    region = _t(spark, sf_dir, "region")
    ds = Dataset.create(
        spark, _space_tmp() + "/ev", region.schema, ["r_regionkey"]
    )
    ds.append(region)
    ds.add_column("r_score", T.LongType())
    ds.append(
        region.select(
            (F.col("r_regionkey") + 10).cast(
                region.schema["r_regionkey"].dataType
            ).alias("r_regionkey"),
            "r_name",
            (F.col("r_regionkey") * 7).cast("long").alias("r_score"),
        )
    )
    ds.drop_column("r_name")
    return ds.reload().read().select("r_regionkey", "r_score")


SPACE_EVOLUTION_SQL = """
SELECT r_regionkey, CAST(NULL AS BIGINT) AS r_score FROM region
UNION ALL
SELECT r_regionkey + 10, CAST(r_regionkey * 7 AS BIGINT) FROM region
"""


def multimodal_video_metadata(spark, sf_dir):
    """Video container metadata over binary blobs (video_features pseudo
    path — deterministic, oracle-reproducible; the headers path is the
    real MP4/AVI parse, unit-tested against constructed containers)."""
    from space_spark.operators.multimodal import video_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return video_features(docs, "doc_id", "payload")


VIDEO_METADATA_SQL = """
SELECT doc_id,
  octet_length(encode(text))::BIGINT AS n_bytes,
  'pseudo' AS container,
  (octet_length(encode(text)) % 1920 + 1)::INT AS width,
  ((octet_length(encode(text)) * 7919 + 13) % 1080 + 1)::INT AS height,
  (octet_length(encode(text)) % 240 + 1)::BIGINT AS n_frames,
  (octet_length(encode(text)) % 240 + 1) / 24.0 AS duration_sec,
  md5(text) AS content_md5
FROM documents
"""


def stream_session_agg(spark, sf_dir):
    """Streaming gap-based sessionization (streaming/changefeed.py
    session_agg: F.session_window + watermark) across three
    deterministic micro-batches (maxFilesPerTrigger=1 over mtime-ordered
    files, availableNow):

      b1: real events with synthesized time offset < 5640s
      b2: the rest of the real events, plus a BUMPER (user -2) at
          base+13000s — sessions straddling the b1/b2 time boundary
          (offset 5593 in b1, 5640 in b2: 47s < the 100s gap) exercise
          the cross-batch state-store session MERGE, and every b2 row
          sits above the post-b1 watermark (5593-63), so nothing is
          late-dropped under any conforming watermark timing
      b3: FLUSHER (user -3) at base+20000s — processed with the
          watermark through b2 (13000-63 = 12937s), which exceeds every
          real session end (max 11233+100), so ALL real sessions
          finalize and emit in b3
      b4: a second flusher row (user -3, base+20001s) — processed with
          the watermark through b3 (19937s > 13100), which flushes the
          BUMPER's own session; it merges into the flusher session
          itself (1s apart)

    Every session's emission is decided in a REAL batch, so the output
    does not depend on whether the availableNow drain appends a
    trailing no-data micro-batch: the bumper session (in the oracle)
    emits in b4, and the flusher session (excluded) can NEVER emit —
    its last event is the stream's global maximum event time, so the
    watermark (max - 63s) is forever below its end (max + 100s). No
    sink-side row filter is involved: a predicate on the grouping key
    would be pushed below the watermark operator and silently remove
    the sentinels from watermark tracking (observed: the two
    highest-ending real sessions never flush). Session bounds return
    as epoch SECONDS (long): integer arithmetic both engines compute
    identically. Event times are synthesized from event_id (offset =
    (event_id % 240) * 47s), and 47 ∤ 100 keeps every inter-event gap
    strictly off the merge-boundary equality case."""
    import glob as _glob
    import shutil
    import time as _time

    from space_spark.streaming.changefeed import session_agg

    base = _space_tmp()
    stream_dir, out_dir, ckpt = (
        base + "/in", base + "/out", base + "/ckpt"
    )
    os.makedirs(stream_dir)
    e = (
        _events(spark, sf_dir)
        .where(F.col("event_id") % 11 == 0)
        .select(
            "event_id",
            "user_id",
            (
                F.expr("timestamp'2024-01-01 00:00:00'")
                + F.expr(
                    "make_interval(0,0,0,0,0,0, (event_id % 240) * 47)"
                )
            ).alias("ts"),
        )
    )
    bumper = spark.sql(
        "SELECT CAST(-2 AS BIGINT) AS event_id,"
        " CAST(-2 AS BIGINT) AS user_id,"
        " timestamp'2024-01-01 00:00:00'"
        " + make_interval(0,0,0,0,0,0,13000) AS ts"
    )
    flusher = spark.sql(
        "SELECT CAST(-3 AS BIGINT) AS event_id,"
        " CAST(-3 AS BIGINT) AS user_id,"
        " timestamp'2024-01-01 00:00:00'"
        " + make_interval(0,0,0,0,0,0,20000) AS ts"
    )
    flusher2 = spark.sql(
        "SELECT CAST(-4 AS BIGINT) AS event_id,"
        " CAST(-3 AS BIGINT) AS user_id,"
        " timestamp'2024-01-01 00:00:00'"
        " + make_interval(0,0,0,0,0,0,20001) AS ts"
    )

    def write_one(df, name, mtime):
        stage = base + "/stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        dest = os.path.join(stream_dir, name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    now = _time.time()
    lo = e.where((F.col("event_id") % 240) * 47 < 5640)
    hi = e.where((F.col("event_id") % 240) * 47 >= 5640)
    write_one(lo, "batch0.parquet", now - 400)
    write_one(hi.unionAll(bumper), "batch1.parquet", now - 300)
    write_one(flusher, "batch2.parquet", now - 200)
    write_one(flusher2, "batch3.parquet", now - 100)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    sessions = session_agg(
        stream, "user_id", "ts", gap="100 seconds",
        watermark="63 seconds",
        extra_aggs=[
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        ],
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming sessionization did not drain its 4 "
                "micro-batches within 600s — refusing to read a "
                "partial output"
            )
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start_es"),
        F.col("session_end").cast("long").alias("session_end_es"),
        F.col("n_events").cast("long").alias("n_events"),
        "first_event_id",
        "last_event_id",
    )


STREAM_SESSION_SQL = """
WITH e AS (
  SELECT event_id, user_id,
         1704067200 + (event_id % 240) * 47 AS es
  FROM events WHERE event_id % 11 = 0
), g AS (
  SELECT event_id, user_id, es,
    CASE WHEN LAG(es) OVER w IS NULL
           OR es - LAG(es) OVER w >= 100
    THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
  MIN(es)::BIGINT AS session_start_es,
  (MAX(es) + 100)::BIGINT AS session_end_es,
  COUNT(*)::BIGINT AS n_events,
  MIN(event_id)::BIGINT AS first_event_id,
  MAX(event_id)::BIGINT AS last_event_id
FROM s GROUP BY user_id, sid
UNION ALL
SELECT CAST(-2 AS BIGINT), CAST(1704067200 + 13000 AS BIGINT),
       CAST(1704067200 + 13100 AS BIGINT), CAST(1 AS BIGINT),
       CAST(-2 AS BIGINT), CAST(-2 AS BIGINT)
"""


def ann_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: per query vector, the top-5
    most-similar corpus vectors with a DIFFERENT label — the offline
    negatives a SimCSE/DPR/CLIP-style trainer mines at corpus scale.
    Same broadcast-probe plan as ann_cosine_topk with the
    label-inequality predicate fused into the join condition."""
    from space_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return hard_negatives(
        emb, queries_df, "vec_id", "embedding", "label", k=5, n_queries=5
    ).select(
        "query_id", "neighbor_id", "neighbor_label", "score",
        F.col("rank").cast("long").alias("rnk"),
    )


ANN_HARDNEG_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                  label AS neighbor_label
           FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id, neighbor_label,
         ROUND({_cosine_sql('qv', 'cv')}, 4) AS score
       FROM q, c
       WHERE query_id != neighbor_id AND qlabel <> neighbor_label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, score, rnk
FROM ranked WHERE rnk <= 5
"""


def sample_quality_mix(spark, sf_dir):
    """CCNet-style perplexity-bucket mixing: unigram-LM score ->
    head/middle/tail label from corpus-level integer cut points (scalar
    aggregate, NO ntile/global sort) -> per-bucket md5-hash keep rates
    (1.0 / 0.5 / 0.1). The quality-weighted thinning step of a crawl
    pipeline, bit-identical across engines."""
    from space_spark.operators.sampling import quality_mix_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_mix_sample(docs, "doc_id", "text").select(
        "doc_id", "bucket", "mean_lp_micro"
    )


SAMPLE_QUALITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
             AS token
    FROM documents)
  WHERE token <> ''
), counts AS (
  SELECT token, COUNT(*)::BIGINT AS freq FROM toks GROUP BY token
), vocab AS (
  SELECT token, freq FROM (
    SELECT token, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS r
    FROM counts)
  WHERE r <= 65536
), lp_scored AS (
  SELECT token,
         CAST(ROUND(log10(freq / total) * 1000000) AS BIGINT) AS lp
  FROM vocab, (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM vocab)
), per_doc AS (
  SELECT doc_id,
    COUNT(lp)::BIGINT AS n_scored,
    COALESCE(SUM(lp), 0)::BIGINT AS s
  FROM toks LEFT JOIN lp_scored USING (token)
  GROUP BY doc_id
), means AS (
  SELECT d.doc_id,
    CASE WHEN COALESCE(p.n_scored, 0) > 0
         THEN CAST(FLOOR(CAST(p.s AS DOUBLE) / p.n_scored) AS BIGINT)
    END AS mean_lp_micro
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
), stats AS (
  SELECT COUNT(mean_lp_micro)::BIGINT AS cnt,
         SUM(mean_lp_micro) AS ssum,
         MIN(mean_lp_micro) AS smin
  FROM means
), labeled AS (
  SELECT m.doc_id, m.mean_lp_micro,
    CASE
      WHEN m.mean_lp_micro IS NULL THEN 'tail'
      WHEN m.mean_lp_micro >=
           CAST(FLOOR(CAST(ssum AS DOUBLE) / cnt) AS BIGINT) THEN 'head'
      WHEN m.mean_lp_micro >= CAST(FLOOR(CAST(
             CAST(FLOOR(CAST(ssum AS DOUBLE) / cnt) AS BIGINT) + smin
           AS DOUBLE) / 2.0) AS BIGINT) THEN 'middle'
      ELSE 'tail'
    END AS bucket
  FROM means m, stats
)
SELECT doc_id, bucket, mean_lp_micro
FROM labeled
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      % 10000
      < CASE bucket WHEN 'head' THEN 10000
                    WHEN 'middle' THEN 5000
                    ELSE 1000 END
"""


def space_bucketed_join(spark, sf_dir):
    """Bucketed co-located join: orders and customer are both written
    as bucketed tables on the join key (8 buckets, bucket-sorted), so
    the sort-merge join runs with NO exchange on either side — the
    bucketing discipline that turns a repeated big-table join into a
    scan-local merge at any scale (tests/test_plan_properties.py pins
    the exchange-free join shape). The only shuffle in the whole plan
    is the final segment aggregate. Money sums ride integer cents, the
    cross-engine money discipline every q* query uses."""
    import uuid

    base = _space_tmp()
    o_t = "bk_orders_" + uuid.uuid4().hex[:8]
    c_t = "bk_cust_" + uuid.uuid4().hex[:8]
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    (orders.write.format("parquet").bucketBy(8, "o_custkey")
     .sortBy("o_custkey").option("path", base + "/o").saveAsTable(o_t))
    (cust.write.format("parquet").bucketBy(8, "c_custkey")
     .sortBy("c_custkey").option("path", base + "/c").saveAsTable(c_t))
    # hint("merge") pins the sort-merge strategy: at bench scale the
    # customer side fits the broadcast threshold and AQE would pick a
    # broadcast join, hiding exactly the property this query exists to
    # demonstrate — at 100 TB neither side broadcasts, and the bucketed
    # SMJ is the plan that needs no exchange on either side.
    agg = (
        spark.table(o_t).hint("merge")
        .join(spark.table(c_t),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("revenue_cents"),
        )
    )
    # Materialize (bounded: one row per market segment at ANY data
    # scale), then DROP the catalog entries — saveAsTable over a temp
    # path otherwise accumulates metastore tables pointing at vanished
    # dirs across gate runs (ADVICE r7). External-table DROP removes
    # only metadata; the temp files go with _space_tmp's lifecycle.
    # Arrow literal return, same discipline as space_random_access.
    try:
        result = agg.toArrow()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {o_t}")
        spark.sql(f"DROP TABLE IF EXISTS {c_t}")
    return spark.createDataFrame(result)


SPACE_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def space_incremental_dedup(spark, sf_dir):
    """Incremental batch dedup against a SPACE-table fingerprint
    history — the daily-crawl pattern: yesterday's corpus is never
    rescanned; its md5 content fingerprints (text.fingerprint, the
    cross-engine md5 of whitespace-normalized lowercase text) live in a
    fingerprint-PK space table, and each new batch (1) dedups within
    itself (first doc_id wins — partial-aggregable groupBy-min, the
    audited exact_dedup discipline), (2) anti-joins the history table
    (a hash shuffle bounded by batch + history fingerprints, never
    document bytes), and (3) appends its surviving fingerprints back,
    so tomorrow's batch sees today's. The history append is verified
    inside the query (reload row count == history + survivors) and the
    survivors are returned."""
    from space_spark import Dataset
    from space_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    hist_src = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    hist_fps = hist_src.groupBy("fp").agg(
        F.min("doc_id").alias("first_doc_id")
    )
    ds = Dataset.create(
        spark, _space_tmp() + "/fph",
        hist_fps.schema, ["fp"],
    )
    ds.append(hist_fps)
    n_hist = ds.reload().read().count()
    firsts = batch.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = firsts.join(
        ds.read().select("fp"), on="fp", how="left_anti"
    )
    ds.append(
        survivors.select("fp", F.col("doc_id").alias("first_doc_id"))
    )
    n_after = ds.reload().read().count()
    n_surv = survivors.count()
    assert n_after == n_hist + n_surv, (n_after, n_hist, n_surv)
    return survivors.select("doc_id", F.col("fp").alias("fingerprint"))


SPACE_INCR_DEDUP_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
  FROM documents
), hist AS (
  SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0
), firsts AS (
  SELECT f, MIN(doc_id) AS doc_id
  FROM fp WHERE doc_id % 3 != 0 GROUP BY f
)
SELECT s.doc_id, s.f AS fingerprint
FROM firsts s LEFT JOIN hist h ON s.f = h.f
WHERE h.f IS NULL
"""



# ------------------------------------------------- round-11 write surfaces
def space_generated_cols(spark, sf_dir):
    """Generated columns (round 11, core/dataset.py _align /
    _encode_generated — Delta GENERATED ALWAYS AS (expr) analog;
    beyond the reference): column values DECLARED as expressions in
    the same closed algebra manifest pruning and CHECK constraints
    use (now widened with Arith/Func value nodes), recomputed on
    every write path. The append below OMITS both generated columns;
    a second append SUPPLIES poisoned values, which must be
    overwritten by the expressions — the invariant col == expr holds
    by construction, which is exactly what the oracle recomputes."""
    from space_spark import Dataset, field

    cust = _t(spark, sf_dir, "customer")
    gen_schema = T.StructType(
        list(cust.schema.fields)
        + [T.StructField("key2", T.LongType()),
           T.StructField("name_up", T.StringType())]
    )
    ds = Dataset.create(
        spark, _space_tmp() + "/gencols", gen_schema, ["c_custkey"],
        generated_columns={
            "key2": field("c_custkey") * 2 + 1,
            "name_up": field("c_name").fn("upper"),
        },
    )
    ds.append(cust.where(F.col("c_custkey") % 2 == 0))
    poisoned = cust.where(F.col("c_custkey") % 2 == 1).select(
        "*", F.lit(-1).alias("key2"), F.lit("WRONG").alias("name_up")
    )
    ds.append(poisoned)
    return ds.read()


SPACE_GENERATED_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       c_custkey * 2 + 1 AS key2,
       upper(c_name) AS name_up
FROM customer
"""


def space_identity_read(spark, sf_dir):
    """Identity columns (round 11, core/dataset.py _assign_identity —
    Delta GENERATED ALWAYS AS IDENTITY analog): value ranges reserved
    ATOMICALLY under the commit lock (no cross-writer collisions),
    assigned shuffle-free via a per-partition prefix sum — contiguous
    per write, so after two clean appends the id SET is exactly
    1..N even though the doc->id mapping is partition-order-dependent
    (the query returns only the ids, which ARE deterministic)."""
    from space_spark import Dataset

    cust = _t(spark, sf_dir, "customer")
    id_schema = T.StructType(
        [T.StructField("rid", T.LongType()),
         T.StructField("c_name", T.StringType()),
         T.StructField("c_acctbal", T.DoubleType())]
    )
    ds = Dataset.create(
        spark, _space_tmp() + "/ident", id_schema, ["rid"],
        identity_columns={"rid": {"start": 1, "step": 1}},
    )
    half = cust.select("c_name", "c_acctbal", "c_custkey")
    ds.append(half.where(F.col("c_custkey") % 2 == 0)
              .drop("c_custkey"))
    # Second append: the watermark continues — still 1..N overall.
    ds.append(half.where(F.col("c_custkey") % 2 == 1)
              .drop("c_custkey"))
    return ds.read().select("rid")


SPACE_IDENTITY_SQL = """
SELECT CAST(ROW_NUMBER() OVER () AS BIGINT) AS rid FROM customer
"""


def space_blob_clone(spark, sf_dir):
    """Shallow clone of a record-field (blob) table (round 11,
    core/dataset.py clone + StorageMetadata.record_bases): blob
    ADDRESSES inside the source's immutable data files resolve on the
    CLONE through record-base indirection — zero blob bytes copied at
    clone time, byte-identical reads. The query round-trips document
    text through blob storage on the clone; the oracle is the
    original text."""
    from space_spark import Dataset

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    blob_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()),
         T.StructField("payload", T.BinaryType())]
    )
    src = Dataset.create(
        spark, _space_tmp() + "/blobsrc", blob_schema, ["doc_id"],
        record_fields=["payload"],
    )
    src.append(docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    ))
    clone = src.clone(_space_tmp() + "/blobclone")
    return clone.read().select(
        "doc_id", F.decode(F.col("payload"), "UTF-8").alias("text_rt")
    )


SPACE_BLOB_CLONE_SQL = """
SELECT doc_id, text AS text_rt FROM documents
"""


# ------------------------------------------------------------------ registry
#
# The external correctness gate checks the FIRST 50 queries() entries
# only, so ordering IS the rotation policy. Round 7 replaced the
# round-6 "basis file + every-other-round" scheme (which saturated at
# 100 entries and could starve churn re-verification — round-6 verdict
# "What's wrong #2", "Missing #1") with a STALENESS CURSOR derived
# entirely from the CORRECTNESS_r*.json files already on disk:
#
#   churned = _CHURNED_THIS_ROUND entries (operator code touched this
#             round: re-verify immediately) — at most _CHURN_QUOTA,
#             always first, so churn can never be capacity-starved;
#   rest    = every other entry, least-recently-GREEN first (ties by
#             definition order). Entries never green — new queries AND
#             red rows, which deliberately do not count as "checked" —
#             have staleness -inf and lead automatically.
#
# Guarantee (pinned by tests/test_registry_rotation.py via simulation):
# with N registry entries, a W=50 window and at most Q=_CHURN_QUOTA
# churned slots per round, every entry is green-checked at least every
# ceil(N / (W - Q)) rounds — ceil(N/42): 2 rounds up to N=84, 3 rounds
# up to N=126 — for ANY adversarial churn sequence. There is no
# capacity ceiling and no _GATE_BASIS to bump: the ordering updates
# itself when the driver writes each round's CORRECTNESS file. The only
# per-round manual step is refreshing _CHURNED_THIS_ROUND from the
# round's diff.
_GATE_WINDOW = 50
# Steady-state quota. The staleness bound is enforced on the LIVE
# registry size and quota by tests/test_registry_rotation.py
# (test_live_registry_staleness_bound, round-7 verdict "What's wrong
# #3"): ceil(N / (_GATE_WINDOW - _CHURN_QUOTA)) <= 3 — that test runs
# on the LIVE len(_query_registry()), so the number in force is
# whatever it computes, not a count written here (round-8 verdict
# "What's wrong #1": hand-written counts here went stale twice).
_CHURN_QUOTA = 8
# Registry budget ledger (round 12): the ceil(N/(W-Q)) <= 3 bound caps
# the live registry at 126 with the driver's observed W=50 check window
# (every CORRECTNESS_r*.json has exactly 50 rows — the window is
# driver-fixed, not raisable from here). Round 10 ended at N=125 with
# one slot; round 11 registered three new surfaces (generated columns,
# identity columns, blob clone) retiring two; round 12 registers
# space_not_null_read + space_clustered_read retiring two more (the
# entries in _RETIRED below, each with documented superset coverage +
# named pytest). Historical green rows remain in old CORRECTNESS
# files; test_registry_rotation exempts exactly the _RETIRED set.
#
# Registry decision, round 13 (verdict r12 next-#5): bitext_mine is
# now REGISTERED as bitext_margin_topk (its full margin formula
# oracled in DuckDB), in the slot opened by retiring q_intersect.
# tests/test_bitext_mine.py keeps the numpy brute-force oracle,
# threshold/shape cases, the pluggable-top-k contract, and the plan
# assertion that the operator forces no broadcast on its O(corpus)
# per-id averages.
_RETIRED = {"space_merge_multi", "ann_ivfpq_topk",
            # Round 12 (slots for space_not_null_read +
            # space_clustered_read, verdict r11 next-#4):
            #   text_bpe_tokens — text_bpe_pack runs the SAME frozen
            #     64-merge encoder (bpe_count via the merged chain) as
            #     its first stage, and the piece-level cross-engine
            #     equivalence stays pinned by tests/test_bpe.py (the
            #     framed-replace vs priority-queue proof suite).
            #   ann_lsh_topk — bucketed-ANN read path stays covered by
            #     ann_ivf_topk (registered) and the LSH kernel itself
            #     by tests/test_ann_recall.py recall floors +
            #     tests/test_dedup_robustness.py.
            "text_bpe_tokens", "ann_lsh_topk",
            # Round 13 (slot for bitext_margin_topk, verdict r12
            # next-#5):
            #   q_intersect — single-set-op query: INTERSECT on one
            #     column is the semi-join surface q_semi_anti keeps
            #     registered (and q_except keeps EXCEPT registered);
            #     set-op semantics are pinned by Spark itself (no
            #     custom code ran in q_intersect's plan).
            #   q_except — the other single-set-op query, same argument
            #     (its slot went to space_agg_mv, the round's new
            #     incremental-aggregate-MV surface): EXCEPT on one
            #     column is the anti-join surface q_semi_anti keeps
            #     registered, and no custom code ran in its plan.
            "q_intersect", "q_except"}
_CHURNED_THIS_ROUND = [
    # r13 churn, derived from the round's diff by tools/churn_suggest.py
    # against base 96fe4f6. The tool over-flags every space_* query via
    # the Dataset CLASS diff (same coarseness as r10-r12); these eight
    # are the queries whose SPECIFICALLY-changed code runs in their
    # plan. The round's core changes: zero-copy loads commit through
    # the shared pinned loop with full constraint validation
    # (loaders.py), the bloom probe is survivor-row-group-bounded on
    # both sides of the manifest format (manifests.py), and timestamp
    # equality literals canonicalize in the V2 planner
    # (blooms.py/datasource.py). Never-green bitext_margin_topk (new
    # r13 registration) leads the window by staleness automatically
    # and takes no churn slot.
    #
    # append_parquet: NOT NULL gate + shared _commit_append pin run in
    # its plan (the round's loaders fix).
    "space_zero_copy_load",
    # write_manifest's bloom row-group split runs in its indexed build;
    # the survivor-bounded read_file_blooms runs in its probe.
    "space_bloom_point_read",
    # V2 partitions() runs the changed _bloom_equality_prune_sized on
    # every SQL-catalog plan (early-returning for unindexed tables).
    "space_sql_table",
    # The registered NOT NULL surface: the round extends NOT NULL
    # enforcement to zero-copy loads and absent sink columns through
    # the same shared checker its plan exercises.
    "space_not_null_read",
    # The registered CHECK surface for the same constraint machinery.
    "space_constraint_read",
    # Batch/streaming sink: _validate_files_live's absent-column arm
    # changed; MV refresh representative of the sink driver commit.
    "space_stream_mv",
    # Same sink machinery through the CDC round-trip.
    "space_stream_cdc",
    # write_manifest runs in every space write; this is the registered
    # write whose plan asserts a strict manifest-pruned file subset —
    # the most layout-sensitive consumer of the row-group split.
    "space_clustered_read",
]
# Late-round diff note: the aggregate-MV addition (core/agg_views.py +
# the MaterializedView.load dispatch in views.py + Dataset.
# aggregate_view/detail) is covered by its never-green registration
# space_agg_mv (leads the window by staleness, like bitext) and by
# space_stream_mv already in the churn head (its plan runs
# MaterializedView.load through the dispatch).
# Quota is 8; 8 used. churn_suggest flags ~30 more via the Dataset
# CLASS diff; the displaced ones are either append-only consumers of
# the same shared commit machinery the churn picks exercise through
# every distinct changed loop (plain appends pin the version but have
# no changed loop of their own — and commit_snapshot's new critical-
# section check runs identically in all of them), covered by the
# never-green leaders (NOT NULL via space_not_null_read; cluster_spec
# via space_clustered_read), pinned by named pytest (reverse-TOCTOU:
# 4 new tests in tests/test_constraints.py + 1 in test_datasink.py;
# float-% fmod exactness + NULL-dividend: test_expr_parity_properties;
# exact-GEMM guard: test_dedup_robustness.py — embedding_neardup's
# registered plan runs the LSH default, not the changed exact branch;
# webdataset job-token sweep: test_export.py — not a registered
# query; non-PK bloom indexes + equality/IN membership pruning:
# tests/test_blooms.py + test_datasource.py, and the read-side
# _bloom_equality_prune early-returns for every unindexed registered
# fixture; space_bloom_point_read, the indexed one, is already in the
# window by r9 staleness). BPE, zorder, and the recall harness are
# UNCHANGED this round. Every registered oracle also re-verifies at
# sf0.001 in tests/test_oracle.py on each suite run; this round also
# swept ALL 126 at sf0.01 explicitly, and the two new queries were
# swept at sf0.001 AND sf0.01 before registration.


def _is_green(row) -> bool:
    """A driver row counts as a check only if it PASSED: red rows keep
    their old staleness and thus stay at the front of next round's
    window instead of rotating out unverified."""
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and row.get("hash_match") is not False
        and not row.get("err")
    )


def _last_green_round() -> dict[str, int]:
    """name -> newest round number whose CORRECTNESS file has a green
    row for it (absent = never green)."""
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in _glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)\.json",
                          os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for k, v in rows.items():
            if _is_green(v):
                out[k] = max(out.get(k, rnd), rnd)
    return out


def _rotation_order(names, last_green, churned) -> list:
    """Pure ordering rule (driven directly by the simulation tests):
    churned first (quota-capped), then least-recently-green, ties in
    definition order."""
    names = list(names)
    idx = {k: i for i, k in enumerate(names)}
    head = [k for k in churned if k in idx][:_CHURN_QUOTA]
    head_set = set(head)
    tail = sorted(
        (k for k in names if k not in head_set),
        key=lambda k: (last_green.get(k, -1), idx[k]),
    )
    return head + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _query_registry()
    order = _rotation_order(base, _last_green_round(),
                            _CHURNED_THIS_ROUND)
    return {k: base[k] for k in order}


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Definition order is the stable canonical order the rotation in
    # queries() draws from; it carries no gate meaning of its own.
    return {
        "space_rename_read": space_rename_read,
        "text_repetition": text_repetition,
        "sample_weighted": sample_weighted,
        "ann_random_projection": ann_random_projection,
        "dedup_corpus_lines": dedup_corpus_lines,
        "space_zorder_string": space_zorder_string,
        "space_stream_cdc": space_stream_cdc,
        # -- analytics
        "q_asof_signup": q_asof_signup,
        "q1_pricing_summary": q1_pricing_summary,
        "q_order_rollup": q_order_rollup,
        "q_sessionize": q_sessionize,
        "q_tumbling_window": q_tumbling_window,
        "q_window_user_events": q_window_user_events,
        "q_window_top_orders": q_window_top_orders,
        "q_pivot_status": q_pivot_status,
        "q_grouping_sets": q_grouping_sets,
        "q_percentiles": q_percentiles,
        "q_string_functions": q_string_functions,
        "q_semi_anti": q_semi_anti,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_revenue": q5_local_supplier_revenue,
        "q6_revenue_change": q6_revenue_change,
        "q15_top_supplier": q15_top_supplier,
        "q_brand_supplier_stats": q_brand_supplier_stats,
        "q2_min_bal_supplier": q2_min_bal_supplier,
        "q7_nation_volume": q7_nation_volume,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q12_late_shipments": q12_late_shipments,
        "q14_promo_revenue_share": q14_promo_revenue_share,
        "q19_bracketed_revenue": q19_bracketed_revenue,
        "q4_priority_with_late_item": q4_priority_with_late_item,
        "q10_returned_revenue": q10_returned_revenue,
        "q13_order_count_distribution": q13_order_count_distribution,
        "q18_large_volume_customers": q18_large_volume_customers,
        "q22_idle_rich_customers": q22_idle_rich_customers,
        # -- space core + dedup/ann/sampling core
        "dedup_exact_documents": dedup_exact_documents,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_cluster_labels": dedup_cluster_labels,
        "dedup_keep_best": dedup_keep_best,
        "space_compact_read": space_compact_read,
        "space_record_fields": space_record_fields,
        "space_insert_read": space_insert_read,
        "space_upsert_read": space_upsert_read,
        "space_merge_read": space_merge_read,
        "space_merge_full": space_merge_full,
        "space_generated_cols": space_generated_cols,
        "space_identity_read": space_identity_read,
        "space_blob_clone": space_blob_clone,
        "space_clone_read": space_clone_read,
        "space_constraint_read": space_constraint_read,
        "space_not_null_read": space_not_null_read,
        "space_clustered_read": space_clustered_read,
        "space_rollback_read": space_rollback_read,
        "space_update_read": space_update_read,
        "space_overwrite_read": space_overwrite_read,
        "space_mor_delete": space_mor_delete,
        "space_diff_changes": space_diff_changes,
        "space_zorder_pruned": space_zorder_pruned,
        "ann_cosine_topk": ann_cosine_topk,
        "sample_domain_mix": sample_domain_mix,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "text_stats": text_stats,
        "text_vocab_topk": text_vocab_topk,
        "text_heavy_hitters": text_heavy_hitters,
        "text_tfidf_terms": text_tfidf_terms,
        "text_chunk_windows": text_chunk_windows,
        "text_pack_sequences": text_pack_sequences,
        "sample_hash_split": sample_hash_split,
        "sample_stratified": sample_stratified,
        "ann_ivf_topk": ann_ivf_topk,
        "embedding_neardup": embedding_neardup,
        "ann_quantize_int8": ann_quantize_int8,
        "multimodal_image_features": multimodal_image_features,
        "multimodal_frame_sample": multimodal_frame_sample,
        "multimodal_audio_features": multimodal_audio_features,
        "space_filter_project": space_filter_project,
        "space_delete_read": space_delete_read,
        "space_bitmap_changelog": space_bitmap_changelog,
        "space_time_travel": space_time_travel,
        "space_join_view": space_join_view,
        "space_map_batches_udf": space_map_batches_udf,
        "space_filter_udf": space_filter_udf,
        "space_read_by_keys": space_read_by_keys,
        "space_lineitem_clustered": space_lineitem_clustered,
        "space_sql_table": space_sql_table,
        "text_decontaminate": text_decontaminate,
        "dedup_semantic": dedup_semantic,
        "q_range_band": q_range_band,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_balance": q11_important_balance,
        "q16_supplier_part_count": q16_supplier_part_count,
        "q20_surplus_suppliers": q20_surplus_suppliers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "text_quality_rules": text_quality_rules,
        "text_pii_scrub": text_pii_scrub,
        "text_url_hosts": text_url_hosts,
        # -- round-5 additions
        "text_c4_rules": text_c4_rules,
        "text_unigram_logprob": text_unigram_logprob,
        "sample_temperature": sample_temperature,
        "space_range_join": space_range_join,
        "dedup_substr": dedup_substr,
        # -- round-6 additions
        "stream_dedup": stream_dedup_events,
        "space_mv_refresh": space_mv_refresh,
        "space_random_access": space_random_access,
        "space_zero_copy_load": space_zero_copy_load,
        # -- round-8 additions (round-7 candidates, registered r8)
        "space_vacuum_read": space_vacuum_read,
        "space_branch_write": space_branch_write,
        "space_schema_evolution": space_schema_evolution,
        "multimodal_video_metadata": multimodal_video_metadata,
        "ann_hard_negatives": ann_hard_negatives,
        "sample_quality_mix": sample_quality_mix,
        "stream_session_agg": stream_session_agg,
        "space_bucketed_join": space_bucketed_join,
        "space_incremental_dedup": space_incremental_dedup,
        "space_stream_mv": space_stream_mv,
        "text_bpe_pack": text_bpe_pack,
        "export_shards_manifest": export_shards_manifest,
        "space_bloom_point_read": space_bloom_point_read,
        "ann_pq_topk": ann_pq_topk,
        "pipeline_pretrain_filter": pipeline_pretrain_filter,
        "ann_recall_report": ann_recall_report,
        "ann_ivfpq_rerank": ann_ivfpq_rerank,
        "bitext_margin_topk": bitext_margin_topk,
        "space_agg_mv": space_agg_mv,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": Q1_SQL,
        "q3_shipping_priority": Q3_SQL,
        "q5_local_supplier_revenue": Q5_SQL,
        "q6_revenue_change": Q6_SQL,
        "q15_top_supplier": Q15_SQL,
        "q_order_rollup": Q_ROLLUP_SQL,
        "q_pivot_status": Q_PIVOT_SQL,
        "q_window_top_orders": Q_WINDOW_TOP_SQL,
        "q_window_user_events": Q_WINDOW_EVENTS_SQL,
        "q_sessionize": Q_SESSIONIZE_SQL,
        "q_tumbling_window": Q_TUMBLING_SQL,
        "q_semi_anti": Q_SEMI_ANTI_SQL,
        "q_brand_supplier_stats": Q_BRAND_SQL,
        "q_grouping_sets": Q_GROUPING_SETS_SQL,
        "q_percentiles": Q_PERCENTILES_SQL,
        "q_string_functions": Q_STRING_SQL,
        "q2_min_bal_supplier": Q2_SQL,
        "q7_nation_volume": Q7_SQL,
        "q17_small_quantity_revenue": Q17_SQL,
        "q12_late_shipments": Q12_SQL,
        "q14_promo_revenue_share": Q14_SQL,
        "q19_bracketed_revenue": Q19_SQL,
        "q4_priority_with_late_item": Q4_SQL,
        "q10_returned_revenue": Q10_SQL,
        "q13_order_count_distribution": Q13_SQL,
        "q18_large_volume_customers": Q18_SQL,
        "q22_idle_rich_customers": Q22_SQL,
        "q8_market_share": Q8_SQL,
        "q9_product_profit": Q9_SQL,
        "q11_important_balance": Q11_SQL,
        "q16_supplier_part_count": Q16_SQL,
        "q20_surplus_suppliers": Q20_SQL,
        "q21_waiting_suppliers": Q21_SQL,
        "text_quality_rules": TEXT_QUALITY_SQL,
        "text_pii_scrub": TEXT_PII_SQL,
        "text_url_hosts": TEXT_URL_HOSTS_SQL,
        "text_decontaminate": TEXT_DECONTAM_SQL,
        "dedup_semantic": _semantic_dedup_sql(),
        "sample_domain_mix": DOMAIN_MIX_SQL,
        "q_asof_signup": Q_ASOF_SQL,
        "q_range_band": Q_RANGE_SQL,
        "space_filter_project": SPACE_FILTER_SQL,
        "space_delete_read": SPACE_DELETE_SQL,
        "space_bitmap_changelog": SPACE_BITMAP_SQL,
        "space_mor_delete": SPACE_MOR_SQL,
        "space_upsert_read": SPACE_UPSERT_SQL,
        "space_merge_read": SPACE_MERGE_SQL,
        "space_merge_full": SPACE_MERGE_FULL_SQL,
        "space_generated_cols": SPACE_GENERATED_SQL,
        "space_identity_read": SPACE_IDENTITY_SQL,
        "space_blob_clone": SPACE_BLOB_CLONE_SQL,
        "space_clone_read": SPACE_CLONE_SQL,
        "space_constraint_read": SPACE_CONSTRAINT_SQL,
        "space_not_null_read": SPACE_NOT_NULL_SQL,
        "space_clustered_read": SPACE_CLUSTERED_SQL,
        "space_rollback_read": SPACE_ROLLBACK_SQL,
        "space_update_read": SPACE_UPDATE_SQL,
        "space_overwrite_read": SPACE_OVERWRITE_SQL,
        "space_insert_read": SPACE_INSERT_SQL,
        "space_compact_read": SPACE_COMPACT_SQL,
        "space_time_travel": SPACE_TIME_TRAVEL_SQL,
        "space_diff_changes": SPACE_DIFF_SQL,
        "space_join_view": SPACE_JOIN_SQL,
        "space_map_batches_udf": SPACE_MAP_SQL,
        "space_filter_udf": SPACE_FILTER_UDF_SQL,
        "space_record_fields": SPACE_RECORD_SQL,
        "space_read_by_keys": SPACE_READ_BY_KEYS_SQL,
        "space_lineitem_clustered": SPACE_LINEITEM_SQL,
        "space_zorder_pruned": SPACE_ZORDER_SQL,
        "space_zorder_string": SPACE_ZORDER_STRING_SQL,
        "space_stream_cdc": SPACE_STREAM_CDC_SQL,
        "text_c4_rules": TEXT_C4_SQL,
        "text_unigram_logprob": TEXT_UNIGRAM_SQL,
        "sample_temperature": SAMPLE_TEMPERATURE_SQL,
        "space_range_join": SPACE_RANGE_JOIN_SQL,
        "dedup_substr": DEDUP_SUBSTR_SQL,
        "stream_dedup": STREAM_DEDUP_SQL,
        "space_mv_refresh": SPACE_MV_REFRESH_SQL,
        "space_random_access": SPACE_RANDOM_ACCESS_SQL,
        "space_zero_copy_load": SPACE_ZERO_COPY_SQL,
        "space_sql_table": SPACE_SQL_TABLE_SQL,
        "space_rename_read": SPACE_RENAME_SQL,
        "text_repetition": TEXT_REPETITION_SQL,
        "sample_weighted": SAMPLE_WEIGHTED_SQL,
        "ann_random_projection": ANN_RP_SQL,
        "dedup_corpus_lines": DEDUP_LINES_SQL,
        "dedup_exact_documents": DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
        "dedup_minhash_lsh": MINHASH_LSH_SQL,
        "dedup_cluster_labels": DEDUP_CLUSTERS_SQL,
        "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
        "dedup_simhash_pairs": SIMHASH_PAIRS_SQL,
        "text_stats": TEXT_STATS_SQL,
        "text_vocab_topk": TEXT_VOCAB_SQL,
        "text_heavy_hitters": TEXT_HEAVY_HITTERS_SQL,
        "text_tfidf_terms": TFIDF_SQL,
        "text_chunk_windows": TEXT_CHUNK_SQL,
        "text_pack_sequences": TEXT_PACK_SQL,
        "sample_hash_split": SAMPLE_SPLIT_SQL,
        "sample_stratified": SAMPLE_STRATIFIED_SQL,
        "ann_cosine_topk": ANN_TOPK_SQL,
        "ann_ivf_topk": _ann_ivf_sql(),
        "embedding_neardup": NEARDUP_SQL,
        "ann_quantize_int8": ANN_QUANTIZE_SQL,
        "multimodal_image_features": MULTIMODAL_SQL,
        "multimodal_frame_sample": FRAME_SAMPLE_SQL,
        "multimodal_audio_features": AUDIO_FEATURES_SQL,
        # -- round-8 additions
        "space_vacuum_read": SPACE_VACUUM_SQL,
        "space_branch_write": SPACE_BRANCH_SQL,
        "space_schema_evolution": SPACE_EVOLUTION_SQL,
        "multimodal_video_metadata": VIDEO_METADATA_SQL,
        "ann_hard_negatives": ANN_HARDNEG_SQL,
        "sample_quality_mix": SAMPLE_QUALITY_SQL,
        "stream_session_agg": STREAM_SESSION_SQL,
        "space_bucketed_join": SPACE_BUCKETED_JOIN_SQL,
        "space_incremental_dedup": SPACE_INCR_DEDUP_SQL,
        "space_stream_mv": SPACE_STREAM_MV_SQL,
        "text_bpe_pack": _bpe_pack_sql(),
        "export_shards_manifest": _export_shards_sql(),
        "space_bloom_point_read": SPACE_BLOOM_SQL,
        "ann_pq_topk": _ann_pq_sql(),
        "pipeline_pretrain_filter": _pipeline_filter_sql(),
        "ann_recall_report": _ann_recall_sql(),
        "bitext_margin_topk": BITEXT_MARGIN_SQL,
        "space_agg_mv": SPACE_AGG_MV_SQL,
        "ann_ivfpq_rerank": _ann_ivfpq_rerank_sql(),
    }
