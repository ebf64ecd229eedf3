"""Declared queries: projection / filter / scalar functions / joins /
set ops / sort / top-k (SURVEY.md §2.2, §2.3, §2.6, §2.7).

Scale notes: filters and projections are expressed declaratively so
Catalyst pushes them into the parquet scan (PushedFilters/ReadSchema —
see tests/test_plans.py); dimension joins broadcast; the fact-fact
joins shuffle once on their equi-keys and AQE picks/skew-splits the
physical strategy.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..determinism import oracle_dsum
from ..registry import stamp_digest, table_path
from .base import DeclaredQuery, t

# --- §2.2 projection / filter / json / dn / entity ---------------------


def _project_select(spark, sf_dir):
    """OP-PROJ: column pruning — the scan should read only 4 columns."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


_PROJECT_SELECT_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
"""


def _filter_time_range(spark, sf_dir):
    """OP-FILT: the canonical Minerva read — WHERE timestamp BETWEEN …
    AND entity/value predicates.  All four predicates push to parquet.
    Output ts is second-truncated (ns-vs-µs hash hazard, FIXTURES.md)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
            & F.col("event_type").isin("click", "view")
            & (F.col("value") > 50.0)
        )
        .select(
            "event_id", "user_id", "event_type", "value",
            F.date_trunc("second", "ts").alias("ts_s"),
        )
    )


_FILTER_TIME_RANGE_SQL = """
SELECT event_id, user_id, event_type, value,
       CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
  AND event_type IN ('click', 'view')
  AND value > 50.0
"""


def _json_extract(spark, sf_dir):
    """OP-JSON: notification-payload attribute access (events.props)."""
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


_JSON_EXTRACT_SQL = """
SELECT event_id, user_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def _dn_parse(spark, sf_dir):
    """OP-DIR-DN: distinguished-name build + parse
    (ref: minerva/directory/distinguishedname.py [U]).  DNs are
    synthesized from the customer dim (`segment=X,customer=N`) then
    parsed back into typed components."""
    dn = F.concat(F.lit("segment="), F.col("c_mktsegment"),
                  F.lit(",customer="), F.col("c_custkey").cast("string"))
    return (
        t(spark, sf_dir, "customer")
        .select(F.col("c_custkey"), dn.alias("dn"))
        .select(
            "c_custkey", "dn",
            F.regexp_extract("dn", r"^([^=]+)=", 1).alias("entity_type"),
            F.regexp_extract("dn", r"segment=([^,]+)", 1).alias("segment"),
            F.regexp_extract("dn", r"customer=(\d+)", 1).cast("bigint")
            .alias("parsed_id"),
        )
    )


_DN_PARSE_SQL = r"""
WITH d AS (
  SELECT c_custkey,
         'segment=' || c_mktsegment || ',customer=' || CAST(c_custkey AS VARCHAR) AS dn
  FROM customer
)
SELECT c_custkey, dn,
       regexp_extract(dn, '^([^=]+)=', 1) AS entity_type,
       regexp_extract(dn, 'segment=([^,]+)', 1) AS segment,
       CAST(regexp_extract(dn, 'customer=(\d+)', 1) AS BIGINT) AS parsed_id
FROM d
"""


def _entity_resolve(spark, sf_dir):
    """OP-DIR-ENTITY: dn -> entity_id resolution with create-if-missing.
    New ids are content-derived (md5 of the dn) so resolution is
    deterministic and cluster-parallel — no id-allocator bottleneck at
    100 TB, unlike sequence-based ids (and unlike
    monotonically_increasing_id, which is partition-dependent)."""
    ev = t(spark, sf_dir, "events")
    dn = F.concat(F.lit("user="), F.col("user_id").cast("string"))
    return (
        ev.select("user_id").distinct()
        .select("user_id", dn.alias("dn"))
        .select("user_id", "dn", F.expr("md5(dn)").alias("entity_key"))
    )


_ENTITY_RESOLVE_SQL = """
SELECT DISTINCT user_id,
       'user=' || CAST(user_id AS VARCHAR) AS dn,
       md5('user=' || CAST(user_id AS VARCHAR)) AS entity_key
FROM events
"""


# --- §2.3 joins --------------------------------------------------------


def _join_inner(spark, sf_dir):
    """OP-JOIN-EQ: fact × dim; dim side broadcast."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double").alias("sum_price"),
        )
    )


_JOIN_INNER_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def _join_inner_bucketed(spark, sf_dir):
    """OP-JOIN-EQ, bucketed-layout twin of join_inner (r12 verdict
    item 3): orders and customer are written once per session as
    co-bucketed, bucket-sorted tables on the customer key, so in the
    sort-merge regime (customer too large to broadcast — the 100 TB
    shape, where the declared query's broadcast hint would OOM) the
    join runs with ZERO exchange and zero sort; only the 5-group
    final aggregate shuffles.  The same custkey layout serves the
    whole customer-join family (join_left / join_semi / join_anti
    share the key pair).  Layout-only change: same oracle SQL as
    join_inner; join_inner itself stays in the bench unchanged."""
    from ..operators.bucketing import (derive_num_buckets,
                                       ensure_bucketed_table,
                                       read_bucketed)

    # the source files' stamps name the layout, so a fixture rewritten
    # in place gets a new one (ensure_bucketed_table builds once per name)
    tag = stamp_digest(table_path(sf_dir, "orders"),
                       table_path(sf_dir, "customer"))
    ord_t, cust_t = f"b_orders_cust_{tag}", f"b_customer_{tag}"
    nb = derive_num_buckets(os.path.join(sf_dir, "orders.parquet"))

    ensure_bucketed_table(
        spark, ord_t, t(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"),
        ["o_custkey"], nb, ["o_custkey"])
    ensure_bucketed_table(
        spark, cust_t, t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"),
        ["c_custkey"], nb, ["c_custkey"])
    orders = read_bucketed(spark, ord_t)
    cust = read_bucketed(spark, cust_t)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
            .cast("double").alias("sum_price"),
        )
    )


def _join_left(spark, sf_dir):
    """OP-JOIN-LEFT: keep entities with no fact rows (count = 0)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_JOIN_LEFT_SQL = """
SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1, 2
"""


def _join_semi(spark, sf_dir):
    """OP-JOIN-SEMI: existence filter — customers with a large order.
    left_semi never duplicates or widens the left side (no row
    explosion at scale, unlike inner-join-then-distinct)."""
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


_JOIN_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
"""


def _join_anti(spark, sf_dir):
    """OP-JOIN-ANTI: missing-data detection — customers with no orders
    (Minerva: expected-vs-present entity gap detection)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def _rollup_entity(spark, sf_dir):
    """OP-JOIN-REL + OP-AGG-ENTITY: entity rollup along the relation
    chain lineitem→orders→customer→nation (Minerva: Cell→Site→Region).
    The fact side shuffles once on l_orderkey; customer and nation are
    broadcast so the re-keying to the target entity is shuffle-free."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_ROLLUP_ENTITY_SQL = f"""
SELECT n_name,
       {oracle_dsum('l_extendedprice * (1.0 - l_discount)', 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def _rollup_entity_bucketed(spark, sf_dir):
    """OP-JOIN-REL + OP-AGG-ENTITY, bucketed-layout twin of
    rollup_entity (r11 verdict item 5): lineitem and orders are
    written ONCE per corpus snapshot as co-bucketed, bucket-sorted
    tables on the order key (operators/bucketing.py), so the
    fact-fact join is a zero-Exchange, zero-Sort sort-merge join —
    the shape that removes the nightly rollup's terabyte shuffle at
    100 TB.  Dims stay broadcast; only the 25-group final agg
    shuffles.  Layout-only change: same oracle as rollup_entity;
    the zero-Exchange plan is asserted in tests/test_plans.py."""
    from ..operators.bucketing import (derive_num_buckets,
                                       ensure_bucketed_table,
                                       read_bucketed)

    # the source files' stamps name the layout: re-runs against the
    # same files REUSE it within a session (the build-once contract of
    # ensure_bucketed_table), a fixture rewritten in place gets a new one
    tag = stamp_digest(table_path(sf_dir, "lineitem"),
                       table_path(sf_dir, "orders"))
    li_t, ord_t = f"b_lineitem_{tag}", f"b_orders_{tag}"
    # scale-adaptive count from the driving (larger) table; both
    # sides must share it for the zero-Exchange co-join
    nb = derive_num_buckets(os.path.join(sf_dir, "lineitem.parquet"))

    ensure_bucketed_table(
        spark, li_t, t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"),
        ["l_orderkey"], nb, ["l_orderkey"])
    ensure_bucketed_table(
        spark, ord_t, t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"),
        ["o_orderkey"], nb, ["o_orderkey"])
    li = read_bucketed(spark, li_t)
    orders = read_bucketed(spark, ord_t)
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )



# --- §2.6 sort / top-k / set ops --------------------------------------


def _sort_report(spark, sf_dir):
    """OP-SORT: deterministic ordered report with an explicit rank
    column (the order-insensitive hash can't see row order, so the
    rank *encodes* it).  25 rows — the single-partition window is fine;
    large reports would rank via orderBy + zipWithIndex-free
    row_number over a repartitionByRange."""
    from pyspark.sql.window import Window

    nat_rev = _rollup_entity(spark, sf_dir)
    w = Window.orderBy(F.desc("revenue"), F.asc("n_name"))
    return nat_rev.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "n_name", "revenue", "n_items")


_SORT_REPORT_SQL = f"""
WITH r AS (
  SELECT n_name,
         {oracle_dsum('l_extendedprice * (1.0 - l_discount)', 6)} AS revenue,
         COUNT(*) AS n_items
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, n_name ASC) AS BIGINT) AS rank,
       n_name, revenue, n_items
FROM r
"""


def _topk_worst(spark, sf_dir):
    """OP-LIMIT/TOPK: k worst entities by KPI.  orderBy+limit compiles
    to TakeOrderedAndProject — per-partition top-k then a k-row merge
    on the driver; no full sort, no full shuffle at any scale.
    Unique tiebreak (c_custkey) makes the cut deterministic."""
    return (
        t(spark, sf_dir, "customer")
        .orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", "c_acctbal")
    )


_TOPK_WORST_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 10
"""


def _set_union(spark, sf_dir):
    """OP-UNION: union-by-name with missing columns (Minerva: combining
    trend-store parts / multi-source loads with differing columns)."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value", F.lit("click").alias("src"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("purchase").alias("src"))  # no value col
    return clicks.unionByName(purchases, allowMissingColumns=True)


_SET_UNION_SQL = """
SELECT event_id, user_id, value, 'click' AS src
FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value, 'purchase' AS src
FROM events WHERE event_type = 'purchase'
"""


def _set_except(spark, sf_dir):
    """OP-EXCEPT: multiset difference — customers in the positive-
    balance set minus customers in the BUILDING segment."""
    cust = t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.exceptAll(b)


_SET_EXCEPT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


# --- §2.7 scalar function families ------------------------------------


def _set_intersect(spark, sf_dir):
    """OP-INTERSECT: customers appearing in both the positive-balance
    and the MACHINERY-segment sets (distinct intersection)."""
    cust = t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return a.intersect(b)


_SET_INTERSECT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
"""


def _fn_date_bucket_series(spark, sf_dir):
    """OP-F-DATE: granularity.range as a dense time spine —
    sequence()+explode, then a left join to count per bucket including
    empty buckets (Minerva gap detection needs the zero rows)."""
    orders = t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"))
    days = bounds.select(F.explode(
        F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"))
    per_day = (orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
               .agg(F.count("*").alias("n")))
    return (days.join(per_day, "day", "left")
            .select("day", F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_orders")))


_FN_DATE_BUCKET_SERIES_SQL = """
WITH b AS (
  SELECT CAST(date_trunc('day', MIN(o_orderdate)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('day', MAX(o_orderdate)) AS TIMESTAMP) AS hi
  FROM orders
),
d AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
c AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM orders GROUP BY 1)
SELECT d.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
FROM d LEFT JOIN c ON d.day = c.day
"""


def _fn_string_dn(spark, sf_dir):
    """OP-F-STR: split/lower/substring/length over documents."""
    doc = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return doc.select(
        "doc_id", "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.lower(F.element_at(toks, 1)).alias("first_token"),
        F.length("text").cast("bigint").alias("text_len"),
        F.substring("text", 1, 16).alias("head16"),
    )


_FN_STRING_DN_SQL = """
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       lower(string_split(text, ' ')[1]) AS first_token,
       CAST(length(text) AS BIGINT) AS text_len,
       substring(text, 1, 16) AS head16
FROM documents
"""


def _fn_map_ops(spark, sf_dir):
    """OP-F-MAP: the directory tag/alias surface as a declared query —
    ``build_registry`` turns DNs into a ``tags`` map + ``aliases``
    array (ref: minerva/directory/ entity tags & aliases [U]), then
    map/array functions (element_at, map_keys, array_contains) read
    them back.  All Catalyst built-ins, scan-local, no shuffle beyond
    the registry distinct."""
    from ..directory import build_registry

    cust = t(spark, sf_dir, "customer")
    dn = F.concat(F.lit("segment="), F.col("c_mktsegment"),
                  F.lit(",customer="), F.col("c_custkey").cast("string"))
    reg = build_registry(cust.select(dn.alias("dn")))
    return reg.select(
        "dn", "entity_type",
        F.element_at("tags", F.lit("segment")).alias("tag_segment"),
        F.element_at("tags", F.lit("customer")).alias("tag_customer"),
        F.size(F.map_keys("tags")).cast("bigint").alias("n_tags"),
        F.size("aliases").cast("bigint").alias("n_aliases"),
        F.expr("array_contains(aliases, dn)").alias("dn_is_alias"),
    )


_FN_MAP_OPS_SQL = r"""
WITH d AS (
  SELECT DISTINCT
         'segment=' || c_mktsegment || ',customer=' || CAST(c_custkey AS VARCHAR) AS dn,
         c_mktsegment AS seg, CAST(c_custkey AS VARCHAR) AS cid
  FROM customer
), m AS (
  SELECT dn, MAP(['segment', 'customer'], [seg, cid]) AS tags,
         list_distinct([seg, cid]) || [dn] AS aliases
  FROM d
)
SELECT dn,
       regexp_extract(dn, '([^,=]+)=[^,=]*$', 1) AS entity_type,
       tags['segment'][1] AS tag_segment,
       tags['customer'][1] AS tag_customer,
       CAST(len(map_keys(tags)) AS BIGINT) AS n_tags,
       CAST(len(aliases) AS BIGINT) AS n_aliases,
       list_contains(aliases, dn) AS dn_is_alias
FROM m
"""


def _rollup_relation(spark, sf_dir):
    """OP-JOIN-REL + OP-AGG-ENTITY over a *relation table* — the
    reference's ``relation/*.yaml`` m:n entity mapping (minerva/
    relation/ [U]) as data, driven through the declared-aggregation
    compiler (``plans.instance.aggregate_entity``).

    The relation here is genuinely many-to-many: every customer maps
    to TWO target groups (its market segment and its nation), so fact
    rows legitimately contribute to multiple rollup targets — the
    double-counting semantics relation rollups exist for.  The
    relation broadcasts (entity dims are MB-scale at any SF); the fact
    side shuffles once on (group, month)."""
    from ..plans.instance import (Relation, Trend, TrendStorePart,
                                  aggregate_entity)

    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    rel_seg = cust.select(
        F.col("c_custkey").alias("source_id"),
        F.concat(F.lit("segment:"), F.col("c_mktsegment")).alias("target_id"))
    rel_nat = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(F.col("c_custkey").alias("source_id"),
                F.concat(F.lit("nation:"), F.col("n_name")).alias("target_id")))
    relation_df = rel_seg.unionByName(rel_nat)

    fact = t(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.date_trunc("month", F.col("o_orderdate")).alias("ts"),
        F.col("o_totalprice"))
    part = TrendStorePart(
        "order_kpis", (Trend("o_totalprice", entity_aggregation="sum"),))
    rolled = aggregate_entity(
        fact, part, relation_df,
        Relation("customer_groups", "source_id", "target_id"),
        entity_col="o_custkey", ts_col="ts")
    return rolled.select(
        F.col("o_custkey").alias("group_id"),
        F.col("ts").alias("month"),
        F.col("o_totalprice").cast("double").alias("sum_price"),
        "samples")


_ROLLUP_RELATION_SQL = f"""
WITH rel AS (
  SELECT c_custkey AS source_id, 'segment:' || c_mktsegment AS target_id
  FROM customer
  UNION ALL
  SELECT c_custkey AS source_id, 'nation:' || n_name AS target_id
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT target_id AS group_id,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       {oracle_dsum('o_totalprice', 6)} AS sum_price,
       COUNT(*) AS samples
FROM orders JOIN rel ON o_custkey = source_id
GROUP BY 1, 2
"""


def _fn_kpi_math(spark, sf_dir):
    """OP-F-MATH: Minerva KPI expressions — arithmetic with
    NULLIF-guarded division (PG idiom for divide-by-zero → NULL).
    Pure row-local double arithmetic: bit-identical across engines as
    long as both evaluate the same expression tree."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("revenue"),
        ((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
         * (F.lit(1.0) + F.col("l_tax"))).alias("charge"),
        (F.col("l_discount") / F.nullif(F.col("l_tax"), F.lit(0.0)))
        .alias("disc_tax_ratio"),
        F.coalesce(
            F.col("l_quantity") / F.nullif(F.col("l_discount"), F.lit(0.0)),
            F.lit(-1.0)).alias("qty_per_disc"),
    )


_FN_KPI_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS revenue,
       (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge,
       l_discount / NULLIF(l_tax, 0.0) AS disc_tax_ratio,
       COALESCE(l_quantity / NULLIF(l_discount, 0.0), -1.0) AS qty_per_disc
FROM lineitem
"""


def _join_range(spark, sf_dir):
    """OP-JOIN-RANGE: banded self-join — same-user event pairs at most
    15 minutes apart, via ``operators.joins.range_join`` (bucketed
    equi-join + band refine; never a nested-loop/cartesian plan).
    Gap sums are exact integer microseconds, so parity with the
    DuckDB interval-join oracle is bit-level."""
    from ..operators.joins import range_join
    ev = t(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("ts").alias("a_ts"),
                  F.col("event_id").alias("a_id"))
    b = ev.select("user_id", F.col("ts").alias("b_ts"),
                  F.col("event_id").alias("b_id"))
    pairs = range_join(a, b, ["user_id"], "a_ts", "b_ts",
                       0, 900 * 1_000_000)
    return (
        pairs.groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"),
             F.sum(F.unix_micros("b_ts") - F.unix_micros("a_ts"))
             .alias("sum_gap_us"))
    )


def _rank_global(spark, sf_dir):
    """OP-SORT/OP-RPT: global ranked report over ALL events without a
    single-partition window — two-phase range-partitioned ranking
    (operators/ranking.py).  Bit-identical to the oracle's
    ROW_NUMBER() because (value DESC, event_id) is a total order."""
    from ..operators.ranking import global_row_number
    ev = t(spark, sf_dir, "events")
    return global_row_number(
        ev.select("event_id", "value"), "value",
        [F.col("value").desc_nulls_last(), F.col("event_id").asc()],
        "rank", descending=True)


_RANK_GLOBAL_SQL = """
SELECT event_id, value,
       ROW_NUMBER() OVER (ORDER BY value DESC NULLS LAST, event_id) AS rank
FROM events
"""


_JOIN_RANGE_SQL = """
SELECT a.user_id AS user_id,
       COUNT(*) AS n_pairs,
       CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS sum_gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 15 MINUTE
GROUP BY 1
"""


def _data_quality_report(spark, sf_dir):
    """OP-SNK data contracts: declarative load-time validation — value
    ranges + PK uniqueness + referential integrity in one report (the
    lake-side stand-in for the reference's PostgreSQL constraints).
    All predicate rules share ONE scan; l_tax <= 0.05 is intentionally
    violated by TPC-H data so the report shape is non-degenerate."""
    from ..operators.validation import Rule, validate

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rules = [
        Rule("qty_range", predicate="l_quantity BETWEEN 1 AND 50"),
        Rule("shipdate_not_null", predicate="l_shipdate IS NOT NULL"),
        Rule("tax_low", predicate="l_tax <= 0.05"),
        Rule("pk_unique", unique=("l_orderkey", "l_linenumber")),
        Rule("fk_orders",
             foreign_key=(("l_orderkey",), orders, ("o_orderkey",))),
    ]
    return validate(li, rules)


_DATA_QUALITY_REPORT_SQL = """
SELECT 'qty_range' AS rule,
       COUNT(*) AS n_checked,
       COUNT(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
                  THEN 1 END) AS n_violations,
       COUNT(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
                  THEN 1 END) = 0 AS pass
FROM lineitem
UNION ALL
SELECT 'shipdate_not_null', COUNT(*),
       COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END),
       COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'tax_low', COUNT(*),
       COUNT(CASE WHEN NOT coalesce(l_tax <= 0.05, FALSE) THEN 1 END),
       COUNT(CASE WHEN NOT coalesce(l_tax <= 0.05, FALSE) THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'pk_unique', CAST(SUM(c) AS BIGINT), CAST(SUM(c - 1) AS BIGINT),
       SUM(c - 1) = 0
FROM (SELECT COUNT(*) AS c FROM lineitem
      GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'fk_orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
"""


def _join_anti_null_aware(spark, sf_dir):
    """OP-JOIN-ANTI (null-aware, NOT IN semantics): rows whose key is
    NULL never qualify — SQL's three-valued NOT IN, a different
    operator from the NULL-blind left-anti join (Catalyst plans it as
    a null-aware anti join).  Key = nullif(user_id, 7): user 7's rows
    carry a NULL key and are excluded even though 7 is not in the
    exclusion list."""
    ev = t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_na")
    return spark.sql("""
        SELECT event_id, user_id FROM __ev_na
        WHERE nullif(user_id, 7) NOT IN (
          SELECT c_custkey FROM __cust_na WHERE c_custkey <= 50)
    """)


def _join_anti_null_aware_wrapped(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("__cust_na")
    return _join_anti_null_aware(spark, sf_dir)


_JOIN_ANTI_NULL_AWARE_SQL = """
SELECT event_id, user_id FROM events
WHERE nullif(user_id, 7) NOT IN (
  SELECT c_custkey FROM customer WHERE c_custkey <= 50)
"""



def _dn_reparent(spark, sf_dir):
    """OP-DIR-DN (subtree migration): rename/reparent a directory
    subtree — every dn under segment=BUILDING moves under the renamed
    segment=CONSTRUCTION parent, others pass through; old and new dn
    plus a moved flag are emitted (the audit shape a directory
    migration writes).  Scan-local string rewrite, no shuffle —
    reference analog: dn rewrites in directory admin tooling
    (minerva/directory/distinguishedname.py [U])."""
    cust = t(spark, sf_dir, "customer")
    dn = F.concat(F.lit("segment="), F.col("c_mktsegment"),
                  F.lit(",customer="), F.col("c_custkey").cast("string"))
    prefix = "segment=BUILDING,"
    new_dn = F.when(
        F.col("dn").startswith(prefix),
        F.concat(F.lit("segment=CONSTRUCTION,"),
                 F.substring(F.col("dn"), len(prefix) + 1, 10_000))
    ).otherwise(F.col("dn"))
    return (cust.select("c_custkey", dn.alias("dn"))
            .withColumn("new_dn", new_dn)
            .withColumn("moved", F.col("new_dn") != F.col("dn")))


_DN_REPARENT_SQL = """
WITH d AS (
  SELECT c_custkey,
         concat('segment=', c_mktsegment, ',customer=',
                CAST(c_custkey AS VARCHAR)) AS dn
  FROM customer
)
SELECT c_custkey, dn,
       CASE WHEN starts_with(dn, 'segment=BUILDING,')
            THEN concat('segment=CONSTRUCTION,',
                        substring(dn, length('segment=BUILDING,') + 1,
                                  10000))
            ELSE dn END AS new_dn,
       CASE WHEN starts_with(dn, 'segment=BUILDING,')
            THEN concat('segment=CONSTRUCTION,',
                        substring(dn, length('segment=BUILDING,') + 1,
                                  10000))
            ELSE dn END <> dn AS moved
FROM d
"""



def _entity_fuzzy_match(spark, sf_dir):
    """OP-DIR-ENTITY (fuzzy alias recovery): customer names corrupted
    by deleting their 2nd character are matched back to the registry
    by minimum Levenshtein distance (<= 2, id tiebreak) — broadcast
    registry, length-blocked equi-join candidates, never a nested
    loop.  Every corrupted name must recover its own entity (distance
    1 beats the >= 2 of any sibling)."""
    from ..directory import fuzzy_match

    cust = t(spark, sf_dir, "customer")
    registry = cust.select("c_custkey", "c_name")
    dirty = (cust.filter(F.col("c_custkey") <= 200)
             .select("c_custkey",
                     F.concat(F.substring("c_name", 1, 1),
                              F.substring("c_name", 3, 10000))
                     .alias("dirty_name")))
    return fuzzy_match(dirty, registry, "c_custkey", "dirty_name",
                       "c_custkey", "c_name", max_dist=2)


_ENTITY_FUZZY_MATCH_SQL = """
WITH dirty AS (
  SELECT c_custkey AS src_id,
         concat(substring(c_name, 1, 1), substring(c_name, 3, 10000))
           AS src_name
  FROM customer WHERE c_custkey <= 200
),
cand AS (
  SELECT d.src_id, d.src_name, r.c_custkey AS match_id,
         r.c_name AS match_name,
         CAST(levenshtein(d.src_name, r.c_name) AS BIGINT) AS dist
  FROM dirty d JOIN customer r
    ON abs(length(d.src_name) - length(r.c_name)) <= 2
  WHERE levenshtein(d.src_name, r.c_name) <= 2
)
SELECT src_id, src_name, match_id, match_name, dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY dist, match_id) AS rn
  FROM cand) WHERE rn = 1
"""


QUERIES = [
    DeclaredQuery("join_anti_null_aware", _join_anti_null_aware_wrapped, _JOIN_ANTI_NULL_AWARE_SQL, "OP-JOIN-ANTI (null-aware / NOT IN)"),
    DeclaredQuery("dn_reparent", _dn_reparent, _DN_REPARENT_SQL, "OP-DIR-DN (subtree reparenting)"),
    DeclaredQuery("entity_fuzzy_match", _entity_fuzzy_match, _ENTITY_FUZZY_MATCH_SQL, "OP-DIR-ENTITY (fuzzy alias recovery)"),
    DeclaredQuery("data_quality_report", _data_quality_report, _DATA_QUALITY_REPORT_SQL, "OP-SNK (data contracts / validation)"),
    DeclaredQuery("project_select", _project_select, _PROJECT_SELECT_SQL, "OP-PROJ"),
    DeclaredQuery("filter_time_range", _filter_time_range, _FILTER_TIME_RANGE_SQL, "OP-FILT"),
    DeclaredQuery("json_extract", _json_extract, _JSON_EXTRACT_SQL, "OP-JSON/OP-F-JSON"),
    DeclaredQuery("dn_parse", _dn_parse, _DN_PARSE_SQL, "OP-DIR-DN"),
    DeclaredQuery("entity_resolve", _entity_resolve, _ENTITY_RESOLVE_SQL, "OP-DIR-ENTITY"),
    DeclaredQuery("join_inner", _join_inner, _JOIN_INNER_SQL, "OP-JOIN-EQ"),
    DeclaredQuery("join_left", _join_left, _JOIN_LEFT_SQL, "OP-JOIN-LEFT"),
    DeclaredQuery("join_semi", _join_semi, _JOIN_SEMI_SQL, "OP-JOIN-SEMI"),
    DeclaredQuery("join_anti", _join_anti, _JOIN_ANTI_SQL, "OP-JOIN-ANTI"),
    DeclaredQuery("rollup_entity", _rollup_entity, _ROLLUP_ENTITY_SQL, "OP-JOIN-REL/OP-AGG-ENTITY"),
    DeclaredQuery("rollup_entity_bucketed", _rollup_entity_bucketed, _ROLLUP_ENTITY_SQL, "OP-JOIN-REL (bucketed zero-Exchange layout twin)"),
    DeclaredQuery("join_inner_bucketed", _join_inner_bucketed, _JOIN_INNER_SQL, "OP-JOIN-EQ (bucketed zero-Exchange layout twin)"),
    DeclaredQuery("sort_report", _sort_report, _SORT_REPORT_SQL, "OP-SORT"),
    DeclaredQuery("topk_worst", _topk_worst, _TOPK_WORST_SQL, "OP-LIMIT/TOPK"),
    DeclaredQuery("set_union", _set_union, _SET_UNION_SQL, "OP-UNION"),
    DeclaredQuery("set_except", _set_except, _SET_EXCEPT_SQL, "OP-EXCEPT"),
    DeclaredQuery("set_intersect", _set_intersect, _SET_INTERSECT_SQL, "OP-INTERSECT"),
    DeclaredQuery("fn_date_bucket_series", _fn_date_bucket_series, _FN_DATE_BUCKET_SERIES_SQL, "OP-F-DATE"),
    DeclaredQuery("fn_string_dn", _fn_string_dn, _FN_STRING_DN_SQL, "OP-F-STR"),
    DeclaredQuery("fn_kpi_math", _fn_kpi_math, _FN_KPI_MATH_SQL, "OP-F-MATH"),
    DeclaredQuery("fn_map_ops", _fn_map_ops, _FN_MAP_OPS_SQL, "OP-F-MAP"),
    DeclaredQuery("rollup_relation", _rollup_relation, _ROLLUP_RELATION_SQL, "OP-JOIN-REL/OP-AGG-ENTITY (relation table)"),
    DeclaredQuery("join_range", _join_range, _JOIN_RANGE_SQL, "OP-JOIN-RANGE/THETA"),
    DeclaredQuery("rank_global", _rank_global, _RANK_GLOBAL_SQL, "OP-SORT/OP-RPT (two-phase global rank)"),
]


def _graph_reach(spark, sf_dir):
    """Iterative graph traversal: min-hop reachability (<= 3 hops) over
    the nation-level trade graph (edge src→dst when any customer of
    nation src placed an order shipped by a supplier of nation dst).

    Spark has no recursive CTE; the idiomatic pattern is driver-side
    frontier iteration — each round joins only the NEW frontier against
    the edge list (anti-join drops already-settled pairs), so work per
    round is |frontier|·avg-degree, not |reached|·|edges|, and BFS
    order guarantees first-found = min-hops without a re-aggregation.
    The hop bound makes the loop count static, so the whole traversal
    is one fixed DAG Catalyst can see end-to-end.  At 100 TB the edge
    derivation dominates (two fact joins that AQE plans); the closure
    itself runs on the collapsed entity graph, orders of magnitude
    smaller.  For unbounded closures, checkpoint each frontier to cut
    lineage growth.
    """
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey").alias("src"))
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_nationkey").alias("dst"))
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
             .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
             .select("src", "dst").distinct())
    e_src = edges.select(F.col("src").alias("e_src"),
                         F.col("dst").alias("e_dst"))

    best = edges.withColumn("hops", F.lit(1).cast("bigint"))
    frontier = best
    for hop in (2, 3):
        cand = (frontier.join(e_src, frontier.dst == e_src.e_src)
                .select("src", F.col("e_dst").alias("dst"))
                .distinct())
        new = (cand.join(best, ["src", "dst"], "left_anti")
               .withColumn("hops", F.lit(hop).cast("bigint")))
        best = best.unionByName(new)
        frontier = new
    return best.select("src", "dst", F.col("hops").alias("min_hops"))


_GRAPH_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
reach(src, dst, hops) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT r.src, e.dst, r.hops + 1
  FROM reach r JOIN edges e ON r.dst = e.src
  WHERE r.hops < 3
)
SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS min_hops
FROM reach GROUP BY 1, 2
"""


QUERIES.append(
    DeclaredQuery("graph_reach", _graph_reach, _GRAPH_REACH_SQL,
                  "OP-JOIN-REL (iterative graph closure / frontier BFS)"))


def _report_abc_class(spark, sf_dir):
    """OP-RPT (Pareto / ABC classification): rank parts by revenue,
    cumulative revenue share, class A (first 80% of spend) / B (next
    15%) / C (tail) — the standard inventory-analysis report.

    Revenue partials are decimal-exact (the cumulative sum must not
    drift between engines), the share is one double division per row.
    The window runs over the AGGREGATED part table (|parts|, not
    |lineitem|), so the single-partition cumulative pass is bounded;
    for dimension tables too big for one partition, swap in the
    two-phase range-partitioned ranking (operators/ranking.py)."""
    li = t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    rev = (li.groupBy("l_partkey")
           .agg(F.sum((F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
                      .cast("decimal(28,6)")).alias("rev")))
    # cumulative and grand total as two frames over the SAME ordered
    # window — one sort, and lineitem is scanned exactly once (a
    # separate total agg would re-scan the fact table)
    w_cum = (Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = (Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    cum = (rev.withColumn("cum", F.sum("rev").over(w_cum))
           .withColumn("total", F.sum("rev").over(w_tot)))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    klass = (F.when(share <= 0.80, "A")
             .when(share <= 0.95, "B").otherwise("C"))
    return cum.select(
        F.col("l_partkey").alias("partkey"),
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        klass.alias("abc_class"))


_REPORT_ABC_CLASS_SQL = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(28,6))) AS rev
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS total
  FROM rev
)
SELECT l_partkey AS partkey,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80
              THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95
              THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


QUERIES.append(
    DeclaredQuery("report_abc_class", _report_abc_class,
                  _REPORT_ABC_CLASS_SQL,
                  "OP-RPT (Pareto / ABC cumulative-share classification)"))


def _join_salted_hot_keys(spark, sf_dir):
    """OP-JOIN-EQ under key skew: the salted-join pattern — big side
    salted by xxhash64(event_id) % 8, small side replicated once per
    salt, equi-join on (key, salt).  Row-identical to the plain join
    (the oracle IS the plain join); only the shuffle distribution
    changes, which is the point: a hot entity's rows land on 8
    reducers instead of one.  Disable-able in favor of broadcast when
    the dim fits — see operators/skew.py::salted_join."""
    from ..operators.skew import salted_join

    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_nationkey", "c_mktsegment")
    joined = salted_join(ev, cust, ["user_id"], 8, "event_id")
    return (joined.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
                 .alias("sum_value")))


_JOIN_SALTED_HOT_KEYS_SQL = """
SELECT c.c_nationkey, c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def _agg_distinct_reagg(spark, sf_dir):
    """OP-AGG-DISTINCT x OP-AGG-PARTIAL: exact distinct-count
    re-aggregation — the stored daily (day, user) distinct pairs are
    the mergeable partial, and the weekly exact distinct count comes
    from re-aggregating THEM (no second scan of the facts).  This is
    the exact-path analog of the HLL re-agg (agg_hll_reagg): distinct
    pairs re-agg losslessly because distinct-of-distinct composes."""
    ev = t(spark, sf_dir, "events")
    daily_pairs = (ev.select(F.date_trunc("day", "ts").alias("day"),
                             "user_id")
                   .distinct())
    weekly = (daily_pairs
              .select(F.date_trunc("week", "day").alias("week"), "user_id")
              .distinct()
              .groupBy("week")
              .agg(F.count("*").alias("n_users_exact")))
    return weekly


_AGG_DISTINCT_REAGG_SQL = """
SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
       COUNT(DISTINCT user_id) AS n_users_exact
FROM events
GROUP BY 1
"""


QUERIES.extend([
    DeclaredQuery("join_salted_hot_keys", _join_salted_hot_keys,
                  _JOIN_SALTED_HOT_KEYS_SQL,
                  "OP-JOIN-EQ (skew/salted join)"),
    DeclaredQuery("agg_distinct_reagg", _agg_distinct_reagg,
                  _AGG_DISTINCT_REAGG_SQL,
                  "OP-AGG-DISTINCT/OP-AGG-PARTIAL (exact distinct re-agg)"),
])


def _backlog_over_time(spark, sf_dir):
    """Sweep-line interval counting: how many orders are OPEN on each
    day (open at o_orderdate, closed 30 days later) — the backlog /
    concurrency curve every ops dashboard needs.  Never materializes
    order-day pairs: each interval becomes a +1 at open and a -1 at
    close (two rows per order), deltas hash-agg per day, and the
    running sum over the tiny per-day table is the backlog.  That is
    O(orders + days), not O(orders × days) — the difference-array
    form that survives 100 TB of intervals.  The final window runs
    over |days| rows only."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("open_day"))
    deltas = (orders.select(F.col("open_day").alias("day"),
                            F.lit(1).alias("delta"))
              .unionByName(
                  orders.select(
                      (F.col("open_day") + F.expr("INTERVAL 30 DAYS"))
                      .alias("day"),
                      F.lit(-1).alias("delta"))))
    per_day = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_day.select(
        "day", "net",
        F.sum("net").over(w).cast("bigint").alias("open_orders"))


_BACKLOG_OVER_TIME_SQL = """
WITH deltas AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         1 AS delta
  FROM orders
  UNION ALL
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
           + INTERVAL 30 DAY AS day,
         -1 AS delta
  FROM orders
),
per_day AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS net
  FROM deltas GROUP BY 1
)
SELECT day, net,
       CAST(SUM(net) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM per_day
"""


QUERIES.append(
    DeclaredQuery("backlog_over_time", _backlog_over_time,
                  _BACKLOG_OVER_TIME_SQL,
                  "OP-AGG-TIME (sweep-line open-interval counting)"))


def _order_latency_percentiles(spark, sf_dir):
    """Order-to-ship latency distribution per priority class: the
    SLA report (p50/p95/max days from order date to each line's ship
    date).  One fact-fact equi-join on the order key (AQE picks the
    strategy; at scale SMJ with skew splitting), latencies as exact
    integer days, then exact interpolated percentiles per priority —
    the percentile/quantile_cont pairing verified bit-identical
    elsewhere (agg_percentiles)."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .select("o_orderpriority",
                   F.datediff("l_shipdate", "o_orderdate")
                   .cast("double").alias("days")))
    return (lat.groupBy("o_orderpriority")
            .agg(F.expr("percentile(days, 0.5)").alias("p50_days"),
                 F.expr("percentile(days, 0.95)").alias("p95_days"),
                 F.max("days").alias("max_days"),
                 F.count("*").alias("n_lines")))


_ORDER_LATENCY_PERCENTILES_SQL = """
WITH lat AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       quantile_cont(days, 0.5) AS p50_days,
       quantile_cont(days, 0.95) AS p95_days,
       MAX(days) AS max_days,
       COUNT(*) AS n_lines
FROM lat GROUP BY 1
"""


QUERIES.append(
    DeclaredQuery("order_latency_percentiles", _order_latency_percentiles,
                  _ORDER_LATENCY_PERCENTILES_SQL,
                  "OP-JOIN-EQ/OP-AGG (SLA latency distribution)"))


def _skyline_orders(spark, sf_dir):
    """2-D skyline (Pareto front): orders not dominated on
    (price low, date early) — no other order is both strictly
    cheaper AND no later.  The sort-sweep formulation: order by
    integer price cents, running MIN of order-day over the STRICTLY
    cheaper prefix (RANGE frame to -1 excludes equal prices), keep
    rows whose day beats that min (or with no cheaper predecessor).
    One global window over |orders|; for fact-scale skylines,
    range-partition the price key and carry per-bucket prefix minima
    exactly like operators/ranking.py::global_prefix_max."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    day = F.unix_micros(F.col("o_orderdate"))
    base = orders.select("o_orderkey", "o_totalprice", "o_orderdate",
                         cents.alias("cents"), day.alias("day_us"))
    w = (Window.orderBy("cents")
         .rangeBetween(Window.unboundedPreceding, -1))
    prior_min = F.min("day_us").over(w)
    return (base.withColumn("prior_min", prior_min)
            .filter(F.col("prior_min").isNull()
                    | (F.col("day_us") < F.col("prior_min")))
            .select("o_orderkey", "o_totalprice", "o_orderdate"))


_SKYLINE_ORDERS_SQL = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS day_us
  FROM orders
),
s AS (
  SELECT *, MIN(day_us) OVER (ORDER BY cents
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prior_min
  FROM base
)
SELECT o_orderkey, o_totalprice, o_orderdate
FROM s WHERE prior_min IS NULL OR day_us < prior_min
"""


QUERIES.append(
    DeclaredQuery("skyline_orders", _skyline_orders, _SKYLINE_ORDERS_SQL,
                  "OP-WIN (2-D skyline / Pareto front, sort-sweep)"))
