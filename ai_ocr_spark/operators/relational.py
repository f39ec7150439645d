"""Relational operators from the SURVEY.md §2 inventory.

Each function: (spark, sf_dir) -> DataFrame over the driver's testdata
tables. Aggregates are rounded where float summation order could differ
between engines; every computed column is aliased to match the oracle.
Each builder's DuckDB twin follows it as a ``*_ORACLE_SQL`` constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dsum(expr, scale: int = 2):
    """Order-independent money sum: per-row terms cast to DECIMAL(28,8)
    (exact, associative addition — immune to partition/summation order),
    then rounded and returned as double. Both engines agree bit-for-bit."""
    return F.round(F.sum(expr.cast("decimal(28,8)")), scale).cast("double")


def _davg(expr, scale: int = 4):
    """Order-independent average: exact decimal sum cast to double ONCE,
    divided by the non-null count. The pre-round double is bit-identical
    in both engines (exact sum, one IEEE division), and round-half-up on
    doubles matches DuckDB's round (half away from zero) — unlike
    F.round(F.avg(x)), whose float accumulation is summation-order
    dependent and hash-diverges across engines."""
    return F.round(
        F.sum(expr.cast("decimal(28,8)")).cast("double") / F.count(expr), scale
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- A1/A6: hash aggregate with partial+final combine (TPC-H Q1 shape) -------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column numeric stats over grouped rows (SURVEY A1/A6).
    Catalyst plans partial_sum -> shuffle -> final_sum; no skew risk on a
    5-group key."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_ORACLE_SQL = """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """


# --- A2: distinct + null counts (column profile) ------------------------------

def agg_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        _davg(F.col("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


COLUMN_PROFILE_ORACLE_SQL = """
            SELECT lang,
                   count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(28,8))) AS DOUBLE) / count(n_chars), 4) AS avg_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """


# --- A4: all-rows boolean checks (bool_and) ------------------------------------

def agg_bool_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") >= 0).alias("all_qty_nonneg"),
        F.bool_and((F.col("l_discount") >= 0) & (F.col("l_discount") <= 1)).alias(
            "all_disc_in_range"
        ),
        F.bool_and(F.col("l_shipdate").isNotNull()).alias("all_dates_present"),
        F.count(F.lit(1)).alias("n_rows"),
    )


BOOL_CHECKS_ORACLE_SQL = """
            SELECT l_returnflag,
                   bool_and(l_quantity >= 0) AS all_qty_nonneg,
                   bool_and(l_discount >= 0 AND l_discount <= 1) AS all_disc_in_range,
                   bool_and(l_shipdate IS NOT NULL) AS all_dates_present,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """


# --- A7: category rollup (grouping sets) ---------------------------------------

def agg_rollup_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.rollup("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _davg(F.col("p_retailprice")).alias("avg_price"),
            F.sum("p_size").alias("sum_size"),
        )
    )


ROLLUP_CATEGORY_ORACLE_SQL = """
            SELECT p_brand,
                   count(*) AS n_parts,
                   round(CAST(sum(CAST(p_retailprice AS DECIMAL(28,8))) AS DOUBLE) / count(p_retailprice), 4) AS avg_price,
                   CAST(sum(p_size) AS BIGINT) AS sum_size
            FROM part GROUP BY ROLLUP(p_brand)
        """


# --- A6: line-item totals per order --------------------------------------------

def agg_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        _dsum(F.col("l_quantity")).alias("total_qty"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORDER_TOTALS_ORACLE_SQL = """
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_qty,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """


# --- J1: FK join, dimension broadcast -------------------------------------------

def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ orders (1:N). Customer is the small side at any SF that
    matters for the dim: broadcast() pins the strategy so the shuffle is
    on orders only."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_spend"),
        )
    )


CUSTOMER_ORDERS_ORACLE_SQL = """
            SELECT c_custkey, c_mktsegment,
                   count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_mktsegment
        """


# --- J2/J3: multiway dim joins ----------------------------------------------------

def join_nation_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


NATION_REGION_ORACLE_SQL = """
            SELECT r_name,
                   count(*) AS n_customers,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """


# --- J4: existence (left_semi) -----------------------------------------------------

def join_semi_orders_with_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SEMI_ORDERS_ORACLE_SQL = """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY o_orderstatus
        """


# --- J5: resume anti-join (the engine's load-bearing join) ---------------------------

def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


ANTI_CUSTOMERS_ORACLE_SQL = """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """


# --- W1: top-k ------------------------------------------------------------------------

def topk_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TakeOrderedAndProject at any scale — no full sort. Total order via
    (price desc, partkey) tiebreak for determinism."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(10)
    )


TOPK_PARTS_ORACLE_SQL = """
            SELECT p_partkey, p_name, p_brand, p_retailprice
            FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
        """


# --- W2: pagination (total sort + offset/limit) -------------------------------------------

def orders_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .offset(10)
        .limit(20)
    )


ORDERS_PAGE2_ORACLE_SQL = """
            SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
            FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC
            LIMIT 20 OFFSET 10
        """


# --- W: analytic windows (running totals + per-group top-k) ----------------------------------

def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.round(
                F.sum("value").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                4,
            ).alias("running_value"),
        )
    )


RUNNING_SPEND_ORACLE_SQL = """
            SELECT user_id, event_id,
                   row_number() OVER w AS rn,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS running_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """


def window_top3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", "event_type", "value", "rk")
    )


TOP3_EVENTS_ORACLE_SQL = """
            SELECT user_id, event_id, event_type, value, rk FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id ASC) AS rk
                FROM events
            ) WHERE rk <= 3
        """


# --- U1: head ∪ tail ---------------------------------------------------------------------------

def union_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    head = li.orderBy(F.asc("l_orderkey"), F.asc("l_linenumber")).limit(500)
    tail = li.orderBy(F.desc("l_orderkey"), F.desc("l_linenumber")).limit(500)
    return head.unionByName(tail)


UNION_HEAD_TAIL_ORACLE_SQL = """
            (SELECT l_orderkey, l_linenumber, l_quantity
             FROM lineitem ORDER BY l_orderkey ASC, l_linenumber ASC LIMIT 500)
            UNION ALL
            (SELECT l_orderkey, l_linenumber, l_quantity
             FROM lineitem ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 500)
        """


# --- A8: events metrics rollup -------------------------------------------------------------------

def events_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        _dsum(F.col("value"), 4).alias("sum_value"),
    )


EVENTS_DAILY_ORACLE_SQL = """
            SELECT event_type, date_trunc('day', ts) AS day,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(round(sum(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS sum_value
            FROM events GROUP BY event_type, date_trunc('day', ts)
        """


# --- P-series: predicate filters -----------------------------------------------------------------

def filter_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-range + predicate filter; both push to the parquet scan."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-08"))
        & (F.col("ts") < F.lit("2024-01-15"))
        & (F.col("value") > 50.0)
    ).select("event_id", "ts", "user_id", "event_type", "value")


EVENTS_WINDOW_ORACLE_SQL = """
            SELECT event_id, ts, user_id, event_type, value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts < TIMESTAMP '2024-01-15 00:00:00'
              AND value > 50.0
        """


# --- F-series scalar chains -----------------------------------------------------------------------

def f_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5: render o_orderdate in three formats, normalize back to ISO.
    Coalesce precedence matches the reference (ISO, then MM/dd/yyyy, then
    dd.MM.yyyy — schema_validator.py:249-261)."""
    orders = _t(spark, sf_dir, "orders")
    raw = (
        F.when(F.pmod("o_orderkey", F.lit(3)) == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.pmod("o_orderkey", F.lit(3)) == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .otherwise(F.date_format("o_orderdate", "dd.MM.yyyy"))
    )
    df = orders.select("o_orderkey", raw.alias("raw_date"))
    normalized = F.coalesce(
        F.try_to_date("raw_date", "yyyy-MM-dd"),
        F.try_to_date("raw_date", "MM/dd/yyyy"),
        F.try_to_date("raw_date", "dd.MM.yyyy"),
    )
    # ISO string output mirrors the reference's string-date semantics
    # (dates stay strings end to end, schema_validator.py:249-261)
    return df.select(
        "o_orderkey", "raw_date", F.date_format(normalized, "yyyy-MM-dd").alias("norm_date")
    )


DATE_NORMALIZE_ORACLE_SQL = """
            WITH raw AS (
                SELECT o_orderkey,
                       CASE o_orderkey % 3
                         WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                         WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
                         ELSE strftime(o_orderdate, '%d.%m.%Y')
                       END AS raw_date
                FROM orders
            )
            SELECT o_orderkey, raw_date,
                   strftime(coalesce(
                       try_strptime(raw_date, '%Y-%m-%d'),
                       try_strptime(raw_date, '%m/%d/%Y'),
                       try_strptime(raw_date, '%d.%m.%Y')), '%Y-%m-%d') AS norm_date
            FROM raw
        """


def f_amount_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: currency-string strip [^0-9.-] -> double (schema_validator.py:241-247)."""
    orders = _t(spark, sf_dir, "orders")
    # comma-grouped for even keys (exercises the comma strip), plain for
    # odd; integer-part grouping + fixed 2-digit cents, identical in both
    # engines
    cents = F.lpad(
        (F.round(F.col("o_totalprice") * 100).cast("long") % 100).cast("string"),
        2,
        "0",
    )
    grouped = F.concat(
        F.format_number(F.floor("o_totalprice").cast("long"), 0), F.lit("."), cents
    )
    plain = F.format_string("%.2f", F.col("o_totalprice"))
    raw = F.concat(
        F.lit("$"),
        F.when(F.pmod("o_orderkey", F.lit(2)) == 0, grouped).otherwise(plain),
    )
    df = orders.select("o_orderkey", raw.alias("raw_amount"))
    return df.select(
        "o_orderkey",
        "raw_amount",
        F.regexp_replace("raw_amount", r"[^0-9.\-]", "").cast("double").alias("amount"),
    )


AMOUNT_NORMALIZE_ORACLE_SQL = """
            WITH raw AS (
                SELECT o_orderkey,
                       '$' || CASE WHEN o_orderkey % 2 = 0
                         THEN format('{:,}', CAST(floor(o_totalprice) AS BIGINT))
                              || '.' ||
                              lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100
                                   AS VARCHAR), 2, '0')
                         ELSE printf('%.2f', o_totalprice)
                       END AS raw_amount
                FROM orders
            )
            SELECT o_orderkey, raw_amount,
                   CAST(regexp_replace(raw_amount, '[^0-9.\\-]', '', 'g') AS DOUBLE)
                       AS amount
            FROM raw
        """


def f_clamp_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: clamp to [0,1] via least/greatest (langchain_extractor.py:657)."""
    cust = _t(spark, sf_dir, "customer")
    score = F.col("c_acctbal") / F.lit(5000.0)
    return cust.select(
        "c_custkey",
        F.round(
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), score)), 6
        ).alias("clamped"),
    )


CLAMP_SCORE_ORACLE_SQL = """
            SELECT c_custkey,
                   round(least(1.0, greatest(0.0, c_acctbal / 5000.0)), 6) AS clamped
            FROM customer
        """


def f_doc_type_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: keyword CASE chain for doc-type dispatch."""
    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    return docs.select(
        "doc_id",
        F.when(t.contains("table"), F.lit("tabular"))
        .when(t.contains("stream"), F.lit("streaming"))
        .when(t.contains("vector"), F.lit("vector"))
        .otherwise(F.lit("other"))
        .alias("doc_type"),
    )


DOC_TYPE_CASE_ORACLE_SQL = """
            SELECT doc_id,
                   CASE
                     WHEN contains(lower(coalesce(text, '')), 'table') THEN 'tabular'
                     WHEN contains(lower(coalesce(text, '')), 'stream') THEN 'streaming'
                     WHEN contains(lower(coalesce(text, '')), 'vector') THEN 'vector'
                     ELSE 'other'
                   END AS doc_type
            FROM documents
        """


def f_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: CJK char-range regex (langchain_extractor.py:287-288)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(
            F.col("text").rlike("[぀-ヿ一-鿿]"), F.lit("ja")
        ).otherwise(F.lit("en")).alias("detected_lang"),
    )


LANG_DETECT_ORACLE_SQL = """
            SELECT doc_id,
                   CASE WHEN regexp_matches(text, '[぀-ヿ一-鿿]')
                        THEN 'ja' ELSE 'en' END AS detected_lang
            FROM documents
        """


def filter_keyword_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: keyword-predicate filter over names (excel_validator.py:690-691)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").rlike("(green|blue|red)"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_colored"))
    )


KEYWORD_HEADERS_ORACLE_SQL = """
            SELECT p_brand, count(*) AS n_colored
            FROM part
            WHERE regexp_matches(p_name, '(green|blue|red)')
            GROUP BY p_brand
        """


# --- A3: keyword score aggregation + argmax doc-type ---------------------------

def agg_keyword_score_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-type scoring: +2 strong pattern hit, +1 weak hit, argmax with
    fixed type-order tie-break (excel_validator.py:354-381; kernel twin
    kernels/fields.py detect_doc_type)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    pats = {
        "invoice": ("invoice", "total|vendor|due"),
        "report": ("report|sales", "summary|quarter"),
        "inventory": ("inventory|catalog", "stock|sku"),
        "form": ("form|application", "field|signature"),
    }
    scores = {
        k: (t.rlike(strong).cast("int") * 2 + t.rlike(weak).cast("int")).alias(f"s_{k}")
        for k, (strong, weak) in pats.items()
    }
    df = docs.select("doc_id", *scores.values())
    best = F.greatest(*[F.col(f"s_{k}") for k in pats])
    detected = F.lit("generic")
    for k in reversed(list(pats)):  # first type in order wins ties
        detected = F.when(
            (F.col(f"s_{k}") == best) & (best > 0), F.lit(k)
        ).otherwise(detected)
    return df.select(
        "doc_id",
        *[F.col(f"s_{k}").cast("long").alias(f"s_{k}") for k in pats],
        detected.alias("detected_type"),
    )


KEYWORD_ARGMAX_ORACLE_SQL = """
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'invoice') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'total|vendor|due') THEN 1 ELSE 0 END AS s_invoice,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'report|sales') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'summary|quarter') THEN 1 ELSE 0 END AS s_report,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'inventory|catalog') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'stock|sku') THEN 1 ELSE 0 END AS s_inventory,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'form|application') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'field|signature') THEN 1 ELSE 0 END AS s_form
                FROM documents
            )
            SELECT doc_id,
                   CAST(s_invoice AS BIGINT) AS s_invoice,
                   CAST(s_report AS BIGINT) AS s_report,
                   CAST(s_inventory AS BIGINT) AS s_inventory,
                   CAST(s_form AS BIGINT) AS s_form,
                   CASE
                     WHEN greatest(s_invoice, s_report, s_inventory, s_form) = 0 THEN 'generic'
                     WHEN s_invoice = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'invoice'
                     WHEN s_report = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'report'
                     WHEN s_inventory = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'inventory'
                     ELSE 'form'
                   END AS detected_type
            FROM s
        """


# --- F11: JSON parse with error-path fallback -----------------------------------

def f_json_parse_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json returns NULL on malformed input; coalesce supplies the
    raw-fallback the reference wraps as {raw_extraction: response}
    (langchain_extractor.py:571-576)."""
    orders = _t(spark, sf_dir, "orders")
    payload = F.when(
        F.pmod("o_orderkey", F.lit(3)) < 2,
        F.concat(
            F.lit('{"key": '),
            F.col("o_orderkey").cast("string"),
            F.lit(', "status": "'),
            F.col("o_orderstatus"),
            F.lit('"}'),
        ),
    ).otherwise(F.lit('{"key": broken'))
    df = orders.select("o_orderkey", payload.alias("payload"))
    parsed = F.from_json(F.col("payload"), "key BIGINT, status STRING")
    return df.select(
        "o_orderkey",
        parsed["key"].alias("parsed_key"),
        F.coalesce(parsed["status"], F.lit("raw_extraction")).alias("parsed_status"),
        parsed["key"].isNull().alias("parse_failed"),
    )


JSON_FALLBACK_ORACLE_SQL = """
            WITH raw AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 3 < 2
                         THEN '{"key": ' || o_orderkey || ', "status": "' || o_orderstatus || '"}'
                         ELSE '{"key": broken'
                       END AS payload
                FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN json_valid(payload)
                        THEN CAST(json_extract(payload, '$.key') AS BIGINT) END AS parsed_key,
                   coalesce(
                       CASE WHEN json_valid(payload)
                            THEN json_extract_string(payload, '$.status') END,
                       'raw_extraction') AS parsed_status,
                   NOT json_valid(payload) AS parse_failed
            FROM raw
        """


# --- P4/W3: per-group ordered head-k sample --------------------------------------

def agg_first3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-3 sample per group as an aggregation (the reference samples
    head(3) per sheet for profiles, api/excel_parser.py:208): sorted
    collect + slice, emitted as a joined string for stable comparison."""
    ev = _t(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id")))
    )
    first3 = F.transform(
        F.slice(ordered, 1, 3), lambda s: s["event_id"].cast("string")
    )
    return ev.groupBy("user_id").agg(
        F.array_join(first3, ",").alias("first3_event_ids"),
        F.count(F.lit(1)).alias("n_events"),
    )


FIRST3_EVENTS_ORACLE_SQL = """
            SELECT user_id,
                   array_to_string(
                       list_transform(
                           (list(event_id ORDER BY ts, event_id))[1:3],
                           e -> CAST(e AS VARCHAR)),
                       ',') AS first3_event_ids,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """


# --- A7+: cube over order dimensions ----------------------------------------------

def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


CUBE_STATUS_ORACLE_SQL = """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_price
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """


# --- sessionization (gaps-and-islands) -------------------------------------------

def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization with a 30-minute inactivity gap: lag() flags
    session starts, a running sum over the flags assigns session ids —
    the standard two-window gaps-and-islands plan (one shuffle on
    user_id, both windows share it). Output: per-session bounds and
    aggregates."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ cannot cast to long; unix_timestamp (session tz is
    # pinned UTC in session.py) matches DuckDB's epoch()
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value"), 4).alias("session_value"),
    )


SESSIONIZE_ORACLE_SQL = """
            WITH s AS (
                -- floor(epoch) truncates sub-second fractions, matching
                -- Spark's unix_timestamp; a bare CAST rounds to nearest
                -- and shifts ~half the epochs by 1s (spurious boundary
                -- flips for gaps straddling 1800s)
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                              OR CAST(floor(epoch(ts)) AS BIGINT)
                                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            t AS (
                SELECT *, CAST(sum(new_session) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_seq
                FROM s
            )
            SELECT user_id, session_seq,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE)
                       AS session_value
            FROM t GROUP BY user_id, session_seq
        """


# --- ordered conversion funnel -----------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]  # strictly ordered by ts
FUNNEL_WINDOW_MIN = 480  # step k+1 must land within this many minutes
# of the step-k conversion (the windowFunnel bound; measured on the
# corpus: 480m yields 15→5→2 at sf0.001, 150→26→3 at sf0.01,
# 1500→212→39 at sf0.1 — genuine decay at every scale, where the
# UNBOUNDED funnel degenerates to everyone-converts on this event
# density of ~1 event/user/10h over a 30-day span)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ordered conversion funnel over the events stream — the
    web-analytics staple (every product-analytics engine ships it;
    ClickHouse calls it windowFunnel): a user converts step k only by
    an event of step k's type STRICTLY AFTER their step-(k−1)
    conversion time AND within FUNNEL_WINDOW_MIN minutes of it, so
    out-of-order and stale events don't count. Output is the funnel
    report: per step the surviving-user count, conversion from the
    previous step and from the cohort entry, all integer-exact
    (counts + truncating e6 divisions on non-negative operands;
    timestamp+interval arithmetic is exact microseconds on both
    engines).

    Scale shape: step 1 is one user-keyed min-ts aggregate; each later
    step joins the (user, cutoff-ts) frame — USER-dimension-sized, not
    event-sized — back to one filtered event scan and re-aggregates on
    the same user key, so every shuffle is keyed identically (one
    partitioning reused down the chain) and the event table is scanned
    once per step with the type filter pushed to the scan. The final
    report is |steps| rows of constant state; the driver transfer is
    K+1 bounded scalar counts (the sanctioned class — same as the BPE
    argmax row), never event rows.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    total = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n")
    ).collect()[0].n
    cur = None  # DataFrame[user_id, cut] — conversion time so far
    counts = []
    for step in FUNNEL_STEPS:
        stage = ev.filter(F.col("event_type") == step)
        if cur is None:
            cur = stage.groupBy("user_id").agg(F.min("ts").alias("cut"))
        else:
            cur = (
                stage.join(cur, "user_id")
                .filter(
                    (F.col("ts") > F.col("cut"))
                    & (
                        F.col("ts")
                        <= F.col("cut")
                        + F.expr(
                            f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES"
                        )
                    )
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias("cut"))
            )
        counts.append(cur.count())
    rows = []
    prev = total
    for i, (step, n) in enumerate(zip(FUNNEL_STEPS, counts), start=1):
        rows.append(
            (
                i,
                step,
                n,
                (1_000_000 * n) // prev if prev else 0,
                (1_000_000 * n) // total if total else 0,
            )
        )
        prev = n
    return spark.createDataFrame(
        rows,
        "step long, event_type string, n_users long,"
        " conv_prev_e6 long, conv_entry_e6 long",
    )


def _funnel_oracle() -> str:
    steps = FUNNEL_STEPS
    parts = [
        f"""
    WITH total AS (SELECT count(DISTINCT user_id) AS n FROM events),
    s1 AS (
        SELECT user_id, min(ts) AS cut FROM events
        WHERE event_type = '{steps[0]}' GROUP BY user_id
    )"""
    ]
    for k in range(2, len(steps) + 1):
        parts.append(
            f""",
    s{k} AS (
        SELECT e.user_id, min(e.ts) AS cut
        FROM events e JOIN s{k - 1} p USING (user_id)
        WHERE e.event_type = '{steps[k - 1]}' AND e.ts > p.cut
          AND e.ts <= p.cut + INTERVAL {FUNNEL_WINDOW_MIN} MINUTE
        GROUP BY e.user_id
    )"""
        )
    parts.append(
        ",\n    counts(step, event_type, n_users) AS (\n"
        + "\n        UNION ALL\n".join(
            f"        SELECT {i} AS step, '{s}' AS event_type,"
            f" count(*) AS n_users FROM s{i}"
            for i, s in enumerate(steps, start=1)
        )
        + "\n    )"
    )
    parts.append(
        """
    SELECT CAST(c.step AS BIGINT) AS step, c.event_type,
           CAST(c.n_users AS BIGINT) AS n_users,
           CAST(CASE WHEN coalesce(p.n_users, t.n) > 0
                THEN (1000000 * c.n_users) // coalesce(p.n_users, t.n)
                ELSE 0 END AS BIGINT) AS conv_prev_e6,
           CAST(CASE WHEN t.n > 0
                THEN (1000000 * c.n_users) // t.n
                ELSE 0 END AS BIGINT) AS conv_entry_e6
    FROM counts c
    LEFT JOIN counts p ON p.step = c.step - 1
    CROSS JOIN total t"""
    )
    return "".join(parts)


FUNNEL_ORACLE_SQL = _funnel_oracle()


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix — the second product-analytics
    staple next to the funnel: users cohort by the ISO week of their
    FIRST event, and cell (cohort, k) counts how many came back in
    week k. Both engines truncate weeks to ISO Monday (Spark
    date_trunc('week') == DuckDB date_trunc('week')), the offset is an
    exact day-difference DIV 7 (cohort and activity weeks are both
    Monday-aligned so the difference is always a multiple of 7), and
    retention_e6 is the truncating division against the cohort size
    (the week-0 row, where every cohort member is active by
    definition — pinned in pytest).

    Scale shape: one user-keyed min aggregate (cohort assignment), one
    distinct over (user, week) — both map-side combined — then the
    user-keyed equi-join of activity to cohort and a final
    (cohort, offset) aggregate whose output is CALENDAR-sized
    (weeks² / 2 cells), not user-sized. Nothing after the distinct is
    user-row-sized.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    cells = (
        active.join(cohort, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week"))
                / F.lit(7)
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    size = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        cells.join(size, "cohort_week")
        .select(
            # ISO string, not DATE: the driver compare is dtype-kind
            # strict and Spark dates arrive as pandas object while
            # DuckDB DATEs arrive as datetime64
            F.col("cohort_week").cast("string").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("(1000000 * n_active) DIV cohort_size")
            .cast("long")
            .alias("retention_e6"),
        )
    )


RETENTION_ORACLE_SQL = """
    WITH cohort AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    cells AS (
        SELECT c.cohort_week,
               CAST(datediff('day', c.cohort_week, a.week) // 7
                    AS BIGINT) AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM active a JOIN cohort c USING (user_id)
        GROUP BY c.cohort_week, 2
    ),
    sz AS (
        SELECT cohort_week, n_active AS cohort_size
        FROM cells WHERE week_offset = 0
    )
    SELECT CAST(cells.cohort_week AS VARCHAR) AS cohort_week,
           cells.week_offset, cells.n_active,
           CAST(sz.cohort_size AS BIGINT) AS cohort_size,
           CAST((1000000 * cells.n_active) // sz.cohort_size
                AS BIGINT) AS retention_e6
    FROM cells JOIN sz USING (cohort_week)
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix — the behavior Markov chain product
    analytics fits over clickstreams (and the generative model behind
    windowFunnel-style session simulation): per user, events order by
    (ts, event_id — the deterministic tie-break every window op here
    uses), adjacent pairs aggregate into a |types|² matrix with exact
    counts and row-normalized e6 probabilities (truncating division on
    non-negative operands).

    Scale shape: ONE user-keyed window (the same per-user ordering
    sessionization pays — at 10^12 events this is the sessionize
    shuffle reused), then a map-side-combined (prev, next) count whose
    output is |types|²-bounded; the row totals ride a tiny window over
    that matrix. Nothing after the lag is event-sized.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rw = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(rw).cast("long").alias("row_total"),
        F.expr("(1000000 * n) DIV sum(n) OVER (PARTITION BY prev_type)")
        .cast("long")
        .alias("p_e6"),
    )


MARKOV_ORACLE_SQL = """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
           CAST((1000000 * n) // sum(n) OVER (PARTITION BY prev_type)
                AS BIGINT) AS p_e6
    FROM pairs
"""


# --- RFM customer segmentation (orders-side analytics) -------------------


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over the orders fact table — the classic
    warehouse customer-value rollup (recency / frequency / monetary
    quintiles + the standard lifecycle labels) the relational §2
    inventory's joins and windows exist to serve.

    Exactness: recency is an integer day-diff against the corpus max
    date (one broadcast 1-row reference); monetary follows the house
    money rule (DECIMAL(28,8) sum before the round-2 double); quintile
    scores come from rank() — TIED customers share a rank and
    therefore a score (equal behavior, equal segment; row_number would
    split ties arbitrarily), and score = 5 - ((rank-1)*5) DIV n keeps
    the assignment in integer arithmetic on both engines.

    Scale shape: everything after the one o_custkey aggregate is
    CUSTOMER-dimension-sized (3-4 orders of magnitude under the fact
    table). The three global rank windows run on that dim frame —
    fine to ~10^8 customers on one reducer; past that the assignment
    graduates to the agg_length_percentiles CDF machinery (per-value
    counts + cumulative walk + threshold join), which this scoring
    rule was chosen to be compatible with (value-determined, not
    row_number-split).

    Reference parity: the reference has no analytics layer (per-doc
    microservice); this rounds out the W+ family (funnel, retention,
    Markov, anomaly) with the orders-side segmentation staple.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ref = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("refd"),
        F.countDistinct("o_custkey").alias("n"),
    )
    cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff("refd", "lastd").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
            "n",
        )
    )
    ranked = cust.select(
        "*",
        F.rank().over(Window.orderBy(F.asc("recency_days"))).alias("rr"),
        F.rank().over(Window.orderBy(F.desc("frequency"))).alias("fr"),
        F.rank().over(Window.orderBy(F.desc("monetary"))).alias("mr"),
    )
    scored = ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.expr("CAST(5 - ((rr - 1) * 5) DIV n AS BIGINT)").alias("r_score"),
        F.expr("CAST(5 - ((fr - 1) * 5) DIV n AS BIGINT)").alias("f_score"),
        F.expr("CAST(5 - ((mr - 1) * 5) DIV n AS BIGINT)").alias("m_score"),
    )
    return scored.select(
        "*",
        F.expr(
            "CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion' "
            "WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning' "
            "WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk' "
            "WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating' "
            "ELSE 'steady' END"
        ).alias("segment"),
    )


RFM_ORACLE_SQL = """
    WITH ref AS (
        SELECT CAST(max(o_orderdate) AS DATE) AS refd,
               count(DISTINCT o_custkey) AS n
        FROM orders
    ),
    cust AS (
        SELECT o_custkey AS custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT refd FROM ref)) AS recency_days,
               count(*) AS frequency,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2)
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT custkey, recency_days, frequency, monetary,
               rank() OVER (ORDER BY recency_days ASC) AS rr,
               rank() OVER (ORDER BY frequency DESC) AS fr,
               rank() OVER (ORDER BY monetary DESC) AS mr,
               (SELECT n FROM ref) AS n
        FROM cust
    ),
    scored AS (
        SELECT custkey,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               monetary,
               CAST(5 - ((rr - 1) * 5) // n AS BIGINT) AS r_score,
               CAST(5 - ((fr - 1) * 5) // n AS BIGINT) AS f_score,
               CAST(5 - ((mr - 1) * 5) // n AS BIGINT) AS m_score
        FROM ranked
    )
    SELECT *,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'steady' END AS segment
    FROM scored
"""
