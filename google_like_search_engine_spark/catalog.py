"""Query catalog: named queries over the driver's test tables + DuckDB oracles.

Each entry maps a name to (a) a Spark callable ``(spark, sf_dir) ->
DataFrame`` and (b) an equivalent ANSI-SQL string DuckDB runs over the
same parquet (views: region nation customer supplier part orders
lineitem events documents embeddings). Column names and value rounding
are aligned so the driver's order-insensitive value-hash matches.

Rounding policy (FP determinism across engines): sums of 2-decimal
inputs are exact multiples of 0.01 -> round to 3; products of two
2-decimal inputs are multiples of 1e-4 -> round to 4; transcendental
outputs (ln/cos) -> round to 4 where row counts are large. Averages are
avoided in oracle-checked outputs (engine-specific half-rounding on
doubles can flip the last digit); sums + counts are returned instead.

The flame_* entries exercise the reference's Flame operator inventory
(SURVEY.md section 2.1) through the operators module; tpch_*, events_*
and the text/search entries (catalog_text.py) cover the analytics
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import flame


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# Flame operator inventory (SURVEY.md section 2.1) on the TPC-H-ish tables
# --------------------------------------------------------------------------

def flame_count(spark, sf_dir):
    """FlameRDD.count (flame/FlameRDDImpl.java:51-53)."""
    li = load(spark, sf_dir, "lineitem")
    return flame.fold(li, F.count(F.lit(1)).alias("cnt"))


FLAME_COUNT_SQL = "SELECT count(*) AS cnt FROM lineitem"


def flame_distinct(spark, sf_dir):
    """FlameRDD.distinct (flame/Worker.java:507-537)."""
    li = load(spark, sf_dir, "lineitem")
    return flame.distinct(li.select("l_returnflag", "l_linestatus"))


FLAME_DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def flame_filter(spark, sf_dir):
    """FlameRDD.filter (flame/Worker.java:635-667)."""
    o = load(spark, sf_dir, "orders")
    return o.where(F.col("o_totalprice") > 150000).select(
        "o_orderkey", "o_orderpriority"
    )


FLAME_FILTER_SQL = (
    "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 150000"
)


def flame_fold_sum(spark, sf_dir):
    """FlameRDD.fold = sum (flame/Worker.java:595-633; HW7Test.java:687-713)."""
    li = load(spark, sf_dir, "lineitem")
    return flame.fold(li, F.round(F.sum("l_quantity"), 2).alias("total_qty"))


FLAME_FOLD_SUM_SQL = "SELECT round(sum(l_quantity), 2) AS total_qty FROM lineitem"


def flame_foldbykey(spark, sf_dir):
    """FlamePairRDD.foldByKey = per-key sum (flame/Worker.java:232-266)."""
    ev = load(spark, sf_dir, "events")
    pairs = flame.map_to_pair(ev, F.col("event_type"), F.col("value"))
    return flame.fold_by_key(pairs, F.round(F.sum("v"), 3).alias("total"))


FLAME_FOLDBYKEY_SQL = (
    "SELECT event_type AS k, round(sum(value), 3) AS total FROM events GROUP BY event_type"
)


def flame_sample(spark, sf_dir):
    """FlameRDD.sample (flame/Worker.java:322-361) — made deterministic
    via an md5-bucket predicate so the oracle selects identical rows
    (the reference's Math.random() sample is only count-checked ±10%;
    determinism is a strengthening)."""
    o = load(spark, sf_dir, "orders")
    return o.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) <= "6"
    ).select("o_orderkey", "o_totalprice")


FLAME_SAMPLE_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '6'"
)


def flame_groupby(spark, sf_dir):
    """FlameRDD.groupBy (flame/Worker.java:363-437): (k, comma-joined
    values), values sorted for determinism."""
    n = load(spark, sf_dir, "nation")
    rdd = n.select(F.col("n_name").alias("value"), "n_regionkey")
    return (
        rdd.groupBy(F.col("n_regionkey").cast("string").alias("k"))
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("value"))).alias("v"))
    )


FLAME_GROUPBY_SQL = (
    "SELECT CAST(n_regionkey AS VARCHAR) AS k, "
    "string_agg(n_name, ',' ORDER BY n_name) AS v FROM nation GROUP BY n_regionkey"
)


def flame_intersection(spark, sf_dir):
    """FlameRDD.intersection (flame/Worker.java:268-320)."""
    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    p = load(spark, sf_dir, "part").where(F.col("p_size") > 25).select(
        F.col("p_partkey").alias("key")
    )
    return flame.intersection(li, p)


FLAME_INTERSECTION_SQL = (
    "SELECT l_partkey AS key FROM lineitem "
    "INTERSECT SELECT p_partkey AS key FROM part WHERE p_size > 25"
)


def flame_join(spark, sf_dir):
    """FlamePairRDD.join (flame/Worker.java:539-593): inner equi-join,
    value = vA + ',' + vB, per-key cross product."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    a = flame.map_to_pair(s, F.col("s_nationkey").cast("string"), F.col("s_name"))
    b = flame.map_to_pair(c, F.col("c_nationkey").cast("string"), F.col("c_name"))
    return flame.join_pairs(a, b)


FLAME_JOIN_SQL = (
    "SELECT CAST(s_nationkey AS VARCHAR) AS k, s_name || ',' || c_name AS v "
    "FROM supplier JOIN customer ON s_nationkey = c_nationkey"
)


def flame_cogroup(spark, sf_dir):
    """FlamePairRDD.cogroup (flame/Worker.java:710-807): full-outer
    (k, '[v1,..],[w1,..]')."""
    s = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 5000)
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    a = flame.map_to_pair(s, F.col("s_nationkey").cast("string"), F.col("s_name"))
    b = flame.map_to_pair(c, F.col("c_nationkey").cast("string"), F.col("c_name"))
    return flame.cogroup(a, b)


FLAME_COGROUP_SQL = """
WITH a AS (
  SELECT CAST(s_nationkey AS VARCHAR) AS k,
         string_agg(s_name, ',' ORDER BY s_name) AS va
  FROM supplier WHERE s_acctbal > 5000 GROUP BY 1
), b AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS k,
         string_agg(c_name, ',' ORDER BY c_name) AS vb
  FROM customer WHERE c_acctbal > 9000 GROUP BY 1
)
SELECT coalesce(a.k, b.k) AS k,
       '[' || coalesce(va, '') || '],[' || coalesce(vb, '') || ']' AS v
FROM a FULL OUTER JOIN b ON a.k = b.k
"""


def flame_flatmaptopair(spark, sf_dir):
    """FlameRDD.flatMapToPair (flame/Worker.java:77-133): one row ->
    many (k, v) pairs; here each document emits a language pair and a
    length-bucket pair."""
    d = load(spark, sf_dir, "documents")
    v = F.col("doc_id").cast("string")
    pairs = F.array(
        F.struct(F.col("lang").alias("k"), v.alias("v")),
        F.struct(
            F.concat(
                F.lit("len_"),
                F.floor(F.length("text") / 1000).cast("int").cast("string"),
            ).alias("k"),
            v.alias("v"),
        ),
    )
    return flame.flat_map_to_pair(d, pairs)


FLAME_FLATMAPTOPAIR_SQL = """
SELECT lang AS k, CAST(doc_id AS VARCHAR) AS v FROM documents
UNION ALL
SELECT 'len_' || CAST(CAST(floor(length(text) / 1000.0) AS INT) AS VARCHAR),
       CAST(doc_id AS VARCHAR)
FROM documents
"""


def flame_take(spark, sf_dir):
    """FlameRDD.take (FlameRDDImpl.java:78-95) — made deterministic with
    an explicit order (the reference allows any subset)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(5)
    )


FLAME_TAKE_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"
)


# --------------------------------------------------------------------------
# TPC-H-style analytics (join/agg coverage + bench headliners)
# --------------------------------------------------------------------------

def tpch_q1(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark, sf_dir):
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1997-03-15")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1997-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def tpch_q5(spark, sf_dir):
    """Local-supplier volume: 6-table join; small dims broadcast."""
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def tpch_q6(spark, sf_dir):
    """Forecast revenue change: pure filter + agg (the pushdown
    showcase — every predicate reaches the parquet scan)."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


TPCH_Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def tpch_q18(spark, sf_dir, qty_threshold: int = 250):
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    quantity exceeds the threshold, with customer detail — group-by
    HAVING feeding a semi-join into a wide join. The HAVING subquery's
    order keys semi-join (broadcast at this selectivity) before the
    customer join; deterministic tiebreak keys make the LIMIT safe."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > qty_threshold)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, strftime(orders.o_orderdate, '%Y-%m-%d'), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def tpch_q9(spark, sf_dir):
    """Product-type profit by nation and year (TPC-H Q9 shape, adapted:
    the test corpus ships no partsupp table, so profit is
    extendedprice*(1-discount) without the supplycost term). Five-table
    join with the part filter pushed to the scan; nation broadcasts."""
    p = load(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_profit")
        )
    )


TPCH_Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def tpch_q2_style(spark, sf_dir):
    """Correlated-scalar-subquery shape (TPC-H Q2's core pattern,
    adapted: no partsupp table, so the min-supplycost correlation
    becomes max-acctbal-per-nation): suppliers holding their nation's
    top account balance. Spark decorrelates to an aggregate + join —
    the plan Catalyst produces for the EXISTS/scalar-subquery family."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    mx = s.groupBy("s_nationkey").agg(F.max("s_acctbal").alias("max_bal")).select(
        F.col("s_nationkey").alias("mx_nationkey"), "max_bal"
    )
    return (
        s.join(
            F.broadcast(mx),
            (F.col("s_nationkey") == F.col("mx_nationkey"))
            & (F.col("s_acctbal") == F.col("max_bal")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name", "r_name")
    )


TPCH_Q2_STYLE_SQL = """
SELECT s_suppkey, s_name, s_acctbal, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = supplier.s_nationkey)
"""


# --------------------------------------------------------------------------
# Set ops / rollup / pivot / window — operators the reference lacks but
# Spark provides natively (SURVEY.md section 2.1 closing note)
# --------------------------------------------------------------------------

def setop_union_except(spark, sf_dir):
    """UNION + EXCEPT in one tagged relation, both set ops exercised
    with non-empty sides (a bare part-minus-lineitem EXCEPT is
    vacuously empty at test SFs). ``op`` tags which set op produced the
    row."""
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9500)
    s = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 9500)
    u = (
        c.select(F.col("c_name").alias("val"))
        .union(s.select(F.col("s_name").alias("val")))
        .distinct()
        .select(F.lit("union").alias("op"), "val")
    )
    p = load(spark, sf_dir, "part").select(F.col("p_partkey").alias("key"))
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select(F.col("l_partkey").alias("key"))
    )
    ex = (
        p.exceptAll(li)
        .distinct()
        .select(F.lit("except").alias("op"), F.col("key").cast("string").alias("val"))
    )
    return u.unionByName(ex)


SETOP_UNION_EXCEPT_SQL = """
SELECT 'union' AS op, val FROM (
  SELECT c_name AS val FROM customer WHERE c_acctbal > 9500
  UNION
  SELECT s_name AS val FROM supplier WHERE s_acctbal > 9500
)
UNION ALL
SELECT 'except' AS op, CAST(key AS VARCHAR) AS val FROM (
  SELECT p_partkey AS key FROM part
  EXCEPT
  SELECT l_partkey AS key FROM lineitem WHERE l_quantity > 45
)
"""


def rollup_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


ROLLUP_REVENUE_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def pivot_status(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"O": "qty_o", "F": "qty_f"})
    )


PIVOT_STATUS_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def join_semi_anti(spark, sf_dir):
    """Left-semi (EXISTS) + left-anti (NOT EXISTS) in one tagged
    relation, both sides non-empty: customers holding an order > 300k;
    parts never shipped in quantity > 45."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
    )
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    anti = p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        F.lit("anti").alias("op"),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
    )
    return semi.unionByName(anti)


JOIN_SEMI_ANTI_SQL = """
SELECT 'semi' AS op, c_custkey AS key, c_name AS name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
UNION ALL
SELECT 'anti' AS op, p_partkey AS key, p_name AS name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity > 45)
"""


def window_top_order(spark, sf_dir):
    """Largest order per customer (row_number window, deterministic
    tie-break by order key)."""
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


WINDOW_TOP_ORDER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Events: windowed aggregation + sessionization (batch forms; the
# streaming module runs the same logic incrementally)
# --------------------------------------------------------------------------

def events_hourly(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM events GROUP BY 1, 2
"""


def events_sessions(spark, sf_dir):
    """Sessionize per user on a 30-minute inactivity gap; count sessions
    and events per user (lag + cumulative sum of session starts)."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return with_flag.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


EVENTS_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""


# ---- extended TPC-H coverage (pytest-oracle-checked; outside the
# ---- 50-entry driver gate). Testdata is TPC-H-ish without partsupp,
# ---- ship modes, commit/receipt dates, containers or comments; the
# ---- queries needing those columns are honestly adapted and say so.


def tpch_q4_style(spark, sf_dir):
    """Q4 order-priority checking, adapted: the late-delivery EXISTS
    (l_commitdate < l_receiptdate) has no columns in testdata, so the
    correlated predicate is a large-quantity line (l_quantity > 45 —
    same predicate family as join_semi_anti). Shape preserved: quarter
    window, semi join orders->lineitem, count by priority."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_STYLE_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


def tpch_q7(spark, sf_dir):
    """Q7 volume shipping between two nations, unadapted (all columns
    present). Nation dim broadcast twice under different aliases."""
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) GROUP BY supp_nation, cust_nation, l_year
"""


def tpch_q8_style(spark, sf_dir):
    """Q8 national market share, adapted: p_type is a single word in
    testdata ('PROMO' not 'ECONOMY ANODIZED STEEL'); numerator and
    denominator are emitted alongside the share so the float ratio is
    oracle-stable at 4 decimals."""
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = load(spark, sf_dir, "nation")  # customer nation -> region gate
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(0.0)), 3
            ).alias("nation_volume"),
            F.round(F.sum(vol), 3).alias("total_volume"),
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share"),
        )
    )


TPCH_Q8_STYLE_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END), 3)
         AS nation_volume,
       round(sum(volume), 3) AS total_volume,
       round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) GROUP BY o_year
"""


def tpch_q10(spark, sf_dir):
    """Q10 returned-item reporting (no ORDER BY/LIMIT-20: LIMIT over a
    float-ordered set is oracle-unstable; the full grouped relation is
    compared instead). Columns absent in testdata (address/phone/
    comment) are simply not selected."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""


def tpch_q12_style(spark, sf_dir):
    """Q12 shipping-mode priority counts, adapted: testdata has no
    l_shipmode, so lines are bucketed by l_linestatus instead; the
    high/low priority CASE aggregation is Q12's verbatim."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


TPCH_Q12_STYLE_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def tpch_q13(spark, sf_dir):
    """Q13 customer order-count distribution (the comment-pattern
    exclusion is dropped — no o_comment in testdata). Left join keeps
    zero-order customers in the c_count=0 bucket."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def tpch_q14(spark, sf_dir):
    """Q14 promo revenue share for one month; numerator/denominator
    emitted beside the percentage for float-stable comparison."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.sum(promo), 3).alias("promo_volume"),
            F.round(F.sum(vol), 3).alias("total_volume"),
            F.round(F.sum(promo) * 100.0 / F.sum(vol), 4).alias("promo_pct"),
        )
    )


TPCH_Q14_SQL = """
SELECT round(sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 3)
         AS promo_volume,
       round(sum(l_extendedprice * (1 - l_discount)), 3) AS total_volume,
       round(sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100.0
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def tpch_q19_style(spark, sf_dir):
    """Q19 discounted revenue over disjunctive (brand, size, quantity)
    predicate triples, adapted: container/shipmode/shipinstruct columns
    don't exist, so each arm keeps brand + p_size range + l_quantity
    range. The OR-of-ANDs reaches the scan as one pushed filter."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.where(arm1 | arm2 | arm3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


TPCH_Q19_STYLE_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def tpch_q17_style(spark, sf_dir):
    """Q17 small-quantity-order revenue, adapted: no brand/container
    filter (keeps the result non-empty at sf0.001); the correlated
    per-part average-quantity subquery is the point and is kept
    verbatim. Determinism note: l_quantity is integral in testdata, so
    avg() is an exact-rational-to-double division that both engines
    compute identically — the < boundary cannot drift."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 3).alias("avg_yearly"))
    )


TPCH_Q17_STYLE_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 3) AS avg_yearly
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.5 * avg(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
"""


def tpch_q22_style(spark, sf_dir):
    """Q22 global-sales-opportunity, adapted: no phone column, so the
    country-code grouping becomes c_nationkey; the shape — positive
    above-average balance, anti join against orders — is Q22's. The
    avg boundary: c_acctbal carries real fractional values, so an
    exactly-at-average customer is measure-zero; both engines compute
    sum/count in double."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 3).alias("totacctbal"),
        )
    )


TPCH_Q22_STYLE_SQL = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 3) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
"""


def tpch_q15_style(spark, sf_dir):
    """TPC-H Q15 (top supplier by quarterly revenue), adapted to the
    testdata schema (supplier lacks address/phone). The max-equality
    over floats — the reason q15 was previously skipped — is made
    cross-engine-deterministic by rounding per-supplier revenue to 3
    decimals BEFORE the max/equality (mirrored in the oracle), and the
    testdata's winner leads its runner-up by >16k so no rounding
    boundary is in play. Revenue aggregates per supplier (one shuffle);
    the scalar max broadcasts back over the tiny aggregate."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.m)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


TPCH_Q15_STYLE_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 3) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def streaming_events_hourly(spark, sf_dir):
    """Structured-Streaming twin of events_hourly: the events table
    replayed through readStream -> watermark -> 1-hour windowed
    aggregation, drained with availableNow into a complete-mode memory
    sink. Proves the stateful streaming aggregation computes EXACTLY
    the batch relation — the oracle is shared with events_hourly.
    (Complete mode emits every window regardless of the final
    watermark, which is what makes a bounded replay comparable; the
    watermark still bounds state on an unbounded stream.)"""
    import os
    import shutil

    # the file streaming source needs a landing DIRECTORY; stage the
    # events table into one (the single-file table plays the role of
    # one arrived batch)
    base = f"/tmp/spark_graft_sehourly_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(f"{base}/in")
    src = spark.readStream.schema(ev.schema).parquet(f"{base}/in")
    # the table stores TIMESTAMP_NTZ; watermarks require an instant, and
    # the session-tz cast keeps wall-clock values (so the hour strings
    # match the batch oracle exactly)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    # group on the same WALL-CLOCK hour truncation as the batch oracle:
    # F.window() buckets are epoch-aligned, which diverges from
    # date_trunc in half-hour-offset session timezones (e.g. +05:30)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )
    name = "stream_events_hourly_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .select("hour", "event_type", "n", "sum_value")
        .localCheckpoint(eager=True)
    )


def streaming_events_sessions(spark, sf_dir):
    """Structured-Streaming twin of events_sessions: the CUSTOM stateful
    sessionizer (streaming/events.sessionize, applyInPandasWithState,
    30-min gap) replayed over the events table, checked against the
    batch window-function relation. Append-mode state only emits a
    session when a LATER event closes it, so a second drain delivers
    one per-user sentinel event far past the horizon: it closes every
    user's trailing session (and itself stays in state, never emitted).
    Emitted sessions then cover the real events exactly — per-user
    session and event counts must equal the batch lag/cumsum answer."""
    import os
    import shutil

    from .streaming.events import sessionize

    base = f"/tmp/spark_graft_ssessions_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )

    def drain():
        # parquet sink (not memory): the second drain must RESUME the
        # first's checkpointed session state, which memory sinks reject
        src = spark.readStream.schema(ev.schema).parquet(in_dir)
        q = (
            sessionize(src, use_timeout=False)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.write.mode("append").parquet(in_dir)
    drain()
    sentinel_ts = F.timestamp_seconds(
        F.unix_timestamp(F.max("ts")) + F.lit(10 * 1800)
    )
    ev.groupBy("user_id").agg(sentinel_ts.alias("ts")).select(
        "user_id", "ts", F.lit(0.0).alias("value")
    ).write.mode("append").parquet(in_dir)
    drain()
    return (
        spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .localCheckpoint(eager=True)
    )


EVENT_QUANTILES = (0.5, 0.95, 0.99)


def events_quantiles(spark, sf_dir):
    """Exact per-event-type value quantiles by explicit rank selection
    (the element at rank ceil(q*n), ties broken by event_id) — the
    discrete-quantile form is deterministic across engines where
    interpolated percentiles are not. One window per type partition;
    at scale the partition count is the type cardinality, and an
    approximate sketch (percentile_approx) replaces this only when a
    1-ulp-exact answer stops mattering."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    n = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(n)
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")),
                F.round(F.col("value"), 3),
            )
        ).alias(f"p{int(q * 100)}")
        for q in EVENT_QUANTILES
    ]
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"), *picks
    )


EVENTS_QUANTILES_SQL = f"""
WITH ranked AS (
  SELECT event_type, value, 
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       {", ".join(
         f"max(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT) "
         f"THEN round(value, 3) END) AS p{int(q * 100)}"
         for q in EVENT_QUANTILES
       )}
FROM ranked GROUP BY event_type
"""


FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_HOURS = 24


def funnel_events(spark, sf_dir):
    """Ordered funnel analysis with a conversion window: how many
    users reach view -> click -> purchase IN ORDER, each transition
    within FUNNEL_WINDOW_HOURS of the previous stage's entry (without
    the window every active user trivially completes the funnel and
    the metric says nothing). Stage k's entry point per user is the
    earliest event of that type strictly after the user's stage-(k-1)
    entry, with (ts, event_id) struct ordering so simultaneous
    timestamps break ties identically in any engine. Per-stage shapes
    are one filtered aggregation per stage joined on the user key —
    three passes regardless of corpus size, co-partitioned on
    user_id."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts",
        F.struct("ts", "event_id").alias("k"),
    )
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")

    def stage_counts():
        prev = None
        for i, sname in enumerate(FUNNEL_STAGES):
            s = ev.where(F.col("event_type") == sname)
            if prev is not None:
                s = s.join(prev, "user_id").where(
                    (F.col("k") > F.col("k_prev"))
                    & (F.col("ts") <= F.col("ts_prev") + win)
                )
            cur = s.groupBy("user_id").agg(
                F.min("k").alias("k_prev"), F.min("ts").alias("ts_prev")
            )
            yield (
                cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                    F.lit(i + 1).alias("stage"),
                    F.lit(sname).alias("event_type"),
                    "n_users",
                )
            )
            prev = cur

    out = None
    for part in stage_counts():
        out = part if out is None else out.unionByName(part)
    return out


FUNNEL_EVENTS_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(row(ts, event_id)) AS k, min(ts) AS ts0 FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(row(e.ts, e.event_id)) AS k, min(e.ts) AS ts0
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND row(e.ts, e.event_id) > s1.k
    AND e.ts <= s1.ts0 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(row(e.ts, e.event_id)) AS k
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND row(e.ts, e.event_id) > s2.k
    AND e.ts <= s2.ts0 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS stage, '{FUNNEL_STAGES[0]}' AS event_type,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT 2, '{FUNNEL_STAGES[1]}', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 3, '{FUNNEL_STAGES[2]}', CAST((SELECT count(*) FROM s3) AS BIGINT)
"""


def events_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week,
    counted again in each later week they return — the growth-
    accounting matrix. Week membership is date_trunc('week') (Monday
    start in both engines) and offsets are exact day differences over
    7, so every cell is an integer count with no float anywhere. Two
    aggregations and one co-partitioned join on the user key."""
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("wk"),
        )
        .distinct()
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = ev.join(first, "user_id")
    return act.groupBy(
        "cohort",
        (F.datediff("wk", "cohort") / 7).cast("int").alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))


EVENTS_RETENTION_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
),
first AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
SELECT f.cohort, CAST(date_diff('day', f.cohort, e.wk) // 7 AS INT) AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def events_transitions(spark, sf_dir):
    """Per-user next-event transition counts (the Markov matrix a
    product-analytics tool draws as a flow diagram): order each user's
    events by (ts, event_id) and count (event_type -> next event_type)
    pairs. One window per user partition; lead() is the only operator,
    so the plan is a single pass at any scale."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w))
    return (
        nxt.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_TRANSITIONS_SQL = """
WITH nxt AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM nxt WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""
