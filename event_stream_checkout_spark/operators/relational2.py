"""Relational surface, wave 2: outer joins, grouping sets, union-all,
having, conditional scalars, wire-format event sinks (S4/S5), and the
documents scan — closing the remaining SURVEY.md §2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..registry import register
from ..tables import load_table
from .checkout import SQL_ITEMS, SQL_INVENTORY, SQL_FLAGGED, SQL_SETTLED, _PIPE, settled_orders


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "scan_documents",
    oracle="SELECT doc_id, lang, source, n_chars, length(text) AS text_len "
    "FROM documents",
    doc="Documents scan with derived length (S10).",
)
def q_scan_documents(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.length("text").cast("long").alias("text_len")
    )


@register(
    "join_left_outer",
    oracle="SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice "
    "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
    "AND o.o_orderstatus = 'P'",
    doc="Left outer join (J4): customers kept even without matching "
    "orders; the extra join-side predicate filters before the match "
    "(not after), preserving outer semantics.",
)
def q_join_left_outer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full_outer",
    oracle="WITH cs AS (SELECT c_nationkey AS nationkey, "
    "CAST(count(*) AS BIGINT) AS n_customers FROM customer GROUP BY 1), "
    "ss AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) "
    "AS n_suppliers FROM supplier GROUP BY 1) "
    "SELECT COALESCE(cs.nationkey, ss.nationkey) AS nationkey, "
    "cs.n_customers, ss.n_suppliers "
    "FROM cs FULL OUTER JOIN ss ON cs.nationkey = ss.nationkey",
    doc="Full outer join (J4) with coalesced key.",
)
def q_join_full_outer(spark, sf_dir):
    cs = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    ss = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cs.join(ss, cs.nationkey == ss.nationkey, "full").select(
        F.coalesce(cs.nationkey, ss.nationkey).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


@register(
    "agg_grouping_sets",
    oracle="SELECT l_returnflag, l_linestatus, "
    "CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, "
    "CAST(count(*) AS BIGINT) AS n FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
    doc="Explicit grouping sets (A6) — the general form rollup/cube "
    "compile to; single-pass expansion.",
)
def q_agg_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, "
        "count(*) AS n FROM _li_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@register(
    "agg_having",
    oracle="SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, "
    + sql_dsum("o_totalprice") + " AS total_spend FROM orders "
    "GROUP BY o_custkey HAVING count(*) >= 5",
    doc="Aggregate + HAVING (A4): post-aggregation filter, pushed "
    "nowhere — evaluated after the final agg as it must be.",
)
def q_agg_having(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "setop_union_all",
    oracle="SELECT o_custkey AS custkey, 'F' AS src FROM orders "
    "WHERE o_orderstatus = 'F' "
    "UNION ALL SELECT o_custkey AS custkey, 'O' AS src FROM orders "
    "WHERE o_orderstatus = 'O'",
    doc="Union all (O3): bag semantics, no dedup shuffle.",
)
def q_setop_union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey"), F.lit("F").alias("src")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey"), F.lit("O").alias("src")
    )
    return f.unionAll(op)


@register(
    "fn_conditional",
    oracle="SELECT o_orderkey, "
    "CASE WHEN o_totalprice >= 150000 THEN 'high' "
    "WHEN o_totalprice >= 50000 THEN 'mid' ELSE 'low' END AS price_band, "
    "COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'unspecified') "
    "AS priority_norm, "
    "greatest(o_totalprice, 100000.0) AS floor_price, "
    "least(o_totalprice, 100000.0) AS cap_price, "
    "(o_orderstatus = 'P') AS is_pending FROM orders",
    doc="Conditional scalar family (F6-adjacent): CASE, COALESCE, "
    "NULLIF, GREATEST/LEAST — all codegen'd branches.",
)
def q_fn_conditional(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(p >= 150000, "high").when(p >= 50000, "mid").otherwise("low").alias(
            "price_band"
        ),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
            F.lit("unspecified"),
        ).alias("priority_norm"),
        F.greatest(p, F.lit(100000.0)).alias("floor_price"),
        F.least(p, F.lit(100000.0)).alias("cap_price"),
        (F.col("o_orderstatus") == "P").alias("is_pending"),
    )


@register(
    "snk_order_created",
    oracle=f"WITH {SQL_ITEMS.strip()}, "
    "agg AS (SELECT order_id, customer_id, min(item_ts) AS order_ts, "
    "  list(struct_pack(product_id := product_id, quantity := quantity) "
    "       ORDER BY product_id, quantity, event_id) AS items "
    "  FROM items GROUP BY order_id, customer_id) "
    "SELECT order_id, to_json(struct_pack(customer_id := customer_id, "
    "items := items, order_id := order_id, "
    "\"timestamp\" := strftime(order_ts, '%Y-%m-%dT%H:%M:%S.%f'))) AS payload "
    "FROM agg",
    doc="OrderCreated wire-format sink (S4; ref sqs.send_message "
    "src/ingest_order/app.py:43-53): canonical JSON with sorted keys "
    "and ISO-8601 naive-UTC timestamp, exactly the reference's message "
    "shape (README.md:265-277).",
    builds_store=True,
)
def q_snk_order_created(spark, sf_dir):
    from .checkout import order_items

    items = order_items(spark, sf_dir)
    agg = items.groupBy("order_id", "customer_id").agg(
        F.min("item_ts").alias("order_ts"),
        F.array_sort(
            F.collect_list(F.struct("product_id", "quantity", "event_id"))
        ).alias("_items_raw"),
    )
    items_clean = F.transform(
        F.col("_items_raw"),
        lambda x: F.struct(
            x["product_id"].alias("product_id"), x["quantity"].alias("quantity")
        ),
    )
    return agg.select(
        "order_id",
        F.to_json(
            F.struct(
                F.col("customer_id").alias("customer_id"),
                items_clean.alias("items"),
                F.col("order_id").alias("order_id"),
                F.date_format("order_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "timestamp"
                ),
            )
        ).alias("payload"),
    )


@register(
    "snk_order_processed",
    oracle=f"{_PIPE} SELECT order_id, to_json(struct_pack("
    "order_id := order_id, customer_id := customer_id, status := status, "
    "processed_at := strftime(created_at, '%Y-%m-%dT%H:%M:%S.%f'))) AS payload "
    "FROM settled",
    doc="OrderProcessed wire-format sink (S5; ref "
    "publish_processed_event src/order_processor/app.py:126-143).",
    builds_store=True,
)
def q_snk_order_processed(spark, sf_dir):
    settled = settled_orders(spark, sf_dir)
    return settled.select(
        "order_id",
        F.to_json(
            F.struct(
                F.col("order_id").alias("order_id"),
                F.col("customer_id").alias("customer_id"),
                F.col("status").alias("status"),
                F.date_format("created_at", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "processed_at"
                ),
            )
        ).alias("payload"),
    )
