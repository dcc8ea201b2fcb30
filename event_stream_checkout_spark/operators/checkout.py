"""Checkout settlement semantics (SURVEY.md §2 J1/A1/A2/A3, T1–T5, S6)
re-expressed as set-based Spark DataFrame algebra.

The reference processes orders row-at-a-time inside MySQL transactions
(src/order_processor/app.py:55-124): INSERT IGNORE dedup, per-item
``SELECT ... FOR UPDATE`` stock check, all-or-nothing decrement with
rollback.  Spark has no row locks, so the engine replaces the mechanism
while preserving semantics (SURVEY.md §4): decisions are computed
set-based over a consistent snapshot, then applied conditionally —
there is nothing to roll back by construction.

Order stream derivation
-----------------------
The driver testdata has no literal order stream, so one is derived
deterministically from ``events``: each ``purchase`` event is an order
*item* (product = event_id mod 100, quantity = 1 + event_id mod 5) and
an *order* is the basket of one customer within one day — giving
realistic multi-item orders.  Inventory is derived from ``part``
(products 0..99, stock scaled to purchase volume so PROCESSED/FAILED
outcomes stay mixed at every scale factor).  The identical derivation
is written once in DuckDB SQL (CTEs below) and once in DataFrame
algebra, so every settlement query is oracle-checkable.

Admission policy (documented divergence, SURVEY.md §7 "hard #1"): the
reference's skip-on-failure replay is inherently sequential; the
engine's micro-batch rule is *optimistic prefix-demand admission* — an
order is PROCESSED iff, for every item, the running demand for that
product up to and including this item (ordered by event time, all
orders counted) fits in stock.  Deterministic, shuffle-parallel by
product, and SQL-expressible.  Admission comes from
``pipeline.admit_in_order``, the kernel the stream's
``settle_optimistic`` runs per micro-batch.  The exact sequential
replay (``state_inventory_replay``) comes from
``pipeline.take_stock_in_order``, a per-product fold over sorted Arrow
batches — see golden tests for its semantics vs a pure-Python model.

At 100 TB: items partition by ``product_id`` (the window and the
inventory join share that partitioning — one shuffle, reused), the
inventory dimension is broadcast (≤100 rows here; bounded by catalog
size in general), and the per-order fold shuffles by ``order_id`` once.
No driver-side collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline import admit_in_order, take_stock_in_order
from ..registry import register
from ..tables import load_table

# ---------------------------------------------------------------------------
# Shared derivation — DuckDB CTE text (oracle side)
# ---------------------------------------------------------------------------

SQL_ITEMS = """
items AS (
    SELECT
        e.event_id,
        e.ts AS item_ts,
        'cust-' || CAST(e.user_id AS VARCHAR) AS customer_id,
        'cust-' || CAST(e.user_id AS VARCHAR) || '@' || strftime(e.ts, '%Y-%m-%d')
            AS order_id,
        'prod-' || CAST(e.event_id % 100 AS VARCHAR) AS product_id,
        1 + (e.event_id % 5) AS quantity
    FROM events e
    WHERE e.event_type = 'purchase'
)
"""

SQL_INVENTORY = """
inv AS (
    SELECT
        'prod-' || CAST(p.p_partkey AS VARCHAR) AS product_id,
        p.p_name AS product_name,
        CAST(p.p_size AS BIGINT) * s.scale AS stock
    FROM part p
    CROSS JOIN (
        SELECT greatest(1, count(*) // 250) AS scale
        FROM events WHERE event_type = 'purchase'
    ) s
    WHERE p.p_partkey < 100
)
"""

SQL_FLAGGED = """
ranked AS (
    SELECT i.*,
        CAST(SUM(i.quantity) OVER (
            PARTITION BY i.product_id
            ORDER BY i.item_ts, i.event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS running_demand
    FROM items i
),
flagged AS (
    SELECT r.*, v.stock,
        COALESCE(r.running_demand <= v.stock, FALSE) AS item_ok
    FROM ranked r LEFT JOIN inv v USING (product_id)
)
"""

SQL_SETTLED = """
settled AS (
    SELECT
        order_id,
        customer_id,
        CASE WHEN bool_and(item_ok) THEN 'PROCESSED' ELSE 'FAILED' END AS status,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(quantity) AS BIGINT) AS total_qty,
        min(item_ts) AS created_at
    FROM flagged
    GROUP BY order_id, customer_id
)
"""

SQL_RAW_ORDERS = """
raw_orders AS (
    SELECT
        e.event_id,
        CASE WHEN e.user_id % 13 = 0 THEN NULL
             ELSE 'cust-' || CAST(e.user_id AS VARCHAR) END AS customer_id,
        CASE WHEN e.event_id % 11 = 0 THEN NULL
             ELSE 'prod-' || CAST(e.event_id % 100 AS VARCHAR) END AS product_id,
        (e.event_id % 7) - 1 AS quantity,
        e.ts
    FROM events e
)
"""

_PIPE = f"WITH {SQL_ITEMS.strip()}, {SQL_INVENTORY.strip()}, {SQL_FLAGGED.strip()}, {SQL_SETTLED.strip()}"


# ---------------------------------------------------------------------------
# Shared derivation — DataFrame side
# ---------------------------------------------------------------------------


def order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase events → order items (one row per item)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cust = F.concat(F.lit("cust-"), F.col("user_id").cast("string"))
    return e.select(
        F.col("event_id"),
        F.col("ts").alias("item_ts"),
        cust.alias("customer_id"),
        F.concat(cust, F.lit("@"), F.date_format("ts", "yyyy-MM-dd")).alias("order_id"),
        F.concat(F.lit("prod-"), (F.col("event_id") % 100).cast("string")).alias(
            "product_id"
        ),
        (F.lit(1) + F.col("event_id") % 5).alias("quantity"),
    )


def inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → keyed inventory state seed (products 0..99).

    Mirrors the reference's small hot ``inventory`` dimension
    (db/init_schema.sql:2-14).  Stock scales with purchase volume so
    outcomes stay mixed at every sf.  The scale scalar stays in-plan
    (cross join of a 1-row aggregate, which Spark broadcasts) — no
    driver-side collect.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    scale = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.greatest(F.lit(1).cast("long"), F.expr("count(*) div 250")).alias("scale"))
    )
    return p.crossJoin(F.broadcast(scale)).select(
        F.concat(F.lit("prod-"), F.col("p_partkey").cast("string")).alias("product_id"),
        F.col("p_name").alias("product_name"),
        (F.col("p_size").cast("long") * F.col("scale")).alias("stock"),
    )


def flagged_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items with running per-product demand + sufficiency flag (J1+P8):
    the engine's admission kernel, ``pipeline.admit_in_order``, over
    the derived items in event order.  A missing product (null stock)
    is insufficient, matching the reference's ``not result`` branch
    (src/order_processor/app.py:88).
    """
    stock = inventory(spark, sf_dir).select(
        "product_id", F.col("stock").alias("_stock")
    )
    return admit_in_order(
        order_items(spark, sf_dir), stock, ["item_ts", "event_id"]
    ).withColumnRenamed("_stock", "stock")


def settled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order all-or-nothing outcome (A2 fold → status)."""
    return (
        flagged_items(spark, sf_dir)
        .groupBy("order_id", "customer_id")
        .agg(
            F.when(F.bool_and("item_ok"), F.lit("PROCESSED"))
            .otherwise(F.lit("FAILED"))
            .alias("status"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum("quantity").alias("total_qty"),
            F.min("item_ts").alias("created_at"),
        )
    )


def raw_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All events → raw (pre-validation) single-item order requests,
    deliberately including invalid rows (null customer/product,
    quantity ≤ 0) to exercise the reject channel."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("user_id") % 13 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("cust-"), F.col("user_id").cast("string"))
        ).alias("customer_id"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("prod-"), (F.col("event_id") % 100).cast("string"))
        ).alias("product_id"),
        ((F.col("event_id") % 7) - 1).alias("quantity"),
        "ts",
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "txn_settlement",
    oracle=f"{_PIPE} SELECT * FROM settled",
    doc="Flagship: end-to-end batch settlement (validate→explode→join "
    "inventory→prefix-demand admission→per-order fold). "
    "Ref: src/order_processor/app.py:55-124.",
)
def q_txn_settlement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settled_orders(spark, sf_dir)


@register(
    "join_items_inventory",
    oracle=f"WITH {SQL_ITEMS.strip()}, {SQL_INVENTORY.strip()}, {SQL_FLAGGED.strip()} "
    "SELECT order_id, event_id, product_id, quantity, running_demand, stock, item_ok "
    "FROM flagged",
    doc="Items ⋈ inventory broadcast left join + sufficiency flag "
    "(J1/P8; ref loop src/order_processor/app.py:80-94).",
)
def q_join_items_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagged_items(spark, sf_dir).select(
        "order_id", "event_id", "product_id", "quantity", "running_demand", "stock", "item_ok"
    )


@register(
    "agg_order_sufficiency",
    oracle=f"WITH {SQL_ITEMS.strip()}, {SQL_INVENTORY.strip()}, {SQL_FLAGGED.strip()} "
    "SELECT order_id, bool_and(item_ok) AS all_sufficient, "
    "CAST(count(*) AS BIGINT) AS n_items FROM flagged GROUP BY order_id",
    doc="Per-order ALL-sufficient fold (A2; ref break+flag "
    "src/order_processor/app.py:78-91).",
)
def q_agg_order_sufficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        flagged_items(spark, sf_dir)
        .groupBy("order_id")
        .agg(
            F.bool_and("item_ok").alias("all_sufficient"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "agg_inventory_decrement",
    oracle=f"{_PIPE} SELECT v.product_id, v.stock, "
    "CAST(COALESCE(SUM(CASE WHEN s.status = 'PROCESSED' THEN f.quantity END), 0) AS BIGINT)"
    " AS consumed, "
    "v.stock - CAST(COALESCE(SUM(CASE WHEN s.status = 'PROCESSED' THEN f.quantity END), 0) AS BIGINT)"
    " AS remaining "
    "FROM inv v LEFT JOIN flagged f USING (product_id) "
    "LEFT JOIN settled s USING (order_id) "
    "GROUP BY v.product_id, v.stock",
    doc="Per-key inventory decrement from PROCESSED orders only (A1/T1; "
    "ref UPDATE src/order_processor/app.py:94).",
)
def q_agg_inventory_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    inv = inventory(spark, sf_dir).drop("product_name")
    consumed = (
        flagged_items(spark, sf_dir)
        .join(
            settled_orders(spark, sf_dir).select("order_id", "status"),
            "order_id",
            "left",
        )
        .withColumn(
            "processed_qty",
            F.when(F.col("status") == "PROCESSED", F.col("quantity")),
        )
        .groupBy("product_id")
        .agg(F.coalesce(F.sum("processed_qty"), F.lit(0)).alias("consumed"))
    )
    return (
        inv.join(consumed, "product_id", "left")
        .select(
            "product_id",
            "stock",
            F.coalesce(F.col("consumed"), F.lit(0)).alias("consumed"),
            (F.col("stock") - F.coalesce(F.col("consumed"), F.lit(0))).alias("remaining"),
        )
    )


@register(
    "agg_first_writer_wins",
    oracle=f"WITH {SQL_ITEMS.strip()}, dup AS ("
    "  SELECT *, row_number() OVER (PARTITION BY order_id, product_id "
    "         ORDER BY item_ts, event_id) AS rn FROM items) "
    "SELECT order_id, product_id, event_id, quantity FROM dup WHERE rn = 1",
    doc="First-writer-wins dedup by key (A3/T2; ref INSERT IGNORE + "
    "rowcount==0 src/order_processor/app.py:66-75).",
)
def q_agg_first_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("order_id", "product_id").orderBy("item_ts", "event_id")
    return (
        order_items(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("order_id", "product_id", "event_id", "quantity")
    )


@register(
    "filter_valid_orders",
    oracle=f"WITH {SQL_RAW_ORDERS.strip()} SELECT event_id, customer_id, product_id, "
    "quantity FROM raw_orders WHERE customer_id IS NOT NULL AND product_id IS NOT NULL "
    "AND quantity > 0",
    doc="Payload validation accept-side (P1/P2; ref validate_input "
    "src/ingest_order/app.py:76-92). Spark side builds the nested items "
    "array and applies the forall predicate.",
)
def q_filter_valid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import valid_order_predicate

    nested = raw_orders(spark, sf_dir).withColumn(
        "items", F.array(F.struct("product_id", "quantity"))
    )
    return nested.filter(valid_order_predicate()).select(
        "event_id", "customer_id", "product_id", "quantity"
    )


@register(
    "filter_invalid_orders",
    oracle=f"WITH {SQL_RAW_ORDERS.strip()} SELECT event_id, customer_id, product_id, "
    "quantity FROM raw_orders WHERE NOT (customer_id IS NOT NULL AND "
    "product_id IS NOT NULL AND quantity > 0)",
    doc="Reject-channel split, complement of filter_valid_orders "
    "(P2; ref 400 path src/ingest_order/app.py:22-27).",
)
def q_filter_invalid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import valid_order_predicate

    nested = raw_orders(spark, sf_dir).withColumn(
        "items", F.array(F.struct("product_id", "quantity"))
    )
    return nested.filter(~valid_order_predicate()).select(
        "event_id", "customer_id", "product_id", "quantity"
    )


@register(
    "join_created_processed",
    oracle=f"{_PIPE} SELECT i.order_id, i.customer_id, s.status, s.created_at, "
    "s.n_items FROM (SELECT DISTINCT order_id, customer_id FROM items) i "
    "JOIN settled s USING (order_id)",
    doc="OrderCreated ⋈ OrderProcessed 1:1 correlation by order_id "
    "(J2; ref src/order_processor/app.py:131-136).",
)
def q_join_created_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    created = order_items(spark, sf_dir).select("order_id", "customer_id").distinct()
    processed = settled_orders(spark, sf_dir).select(
        "order_id", "status", "created_at", "n_items"
    )
    return created.join(processed, "order_id").select(
        "order_id", "customer_id", "status", "created_at", "n_items"
    )


@register(
    "snk_orders_upsert",
    oracle=f"{_PIPE}, base AS ("
    "  SELECT order_id, customer_id, status, 1 AS version FROM settled), "
    "delta AS ("
    "  SELECT order_id, customer_id, 'REFUNDED' AS status, 2 AS version "
    "  FROM settled WHERE status = 'PROCESSED' AND n_items >= 3), "
    "unioned AS (SELECT * FROM base UNION ALL SELECT * FROM delta), "
    "latest AS (SELECT *, row_number() OVER (PARTITION BY order_id "
    "           ORDER BY version DESC) AS rn FROM unioned) "
    "SELECT order_id, customer_id, status FROM latest WHERE rn = 1",
    doc="Keyed upsert as union + window-latest rewrite (S6; ref "
    "INSERT..ON DUPLICATE KEY UPDATE src/order_processor/app.py:111-118).",
    builds_store=True,
)
def q_snk_orders_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    settled = settled_orders(spark, sf_dir)
    base = settled.select("order_id", "customer_id", "status", F.lit(1).alias("version"))
    delta = (
        settled.filter((F.col("status") == "PROCESSED") & (F.col("n_items") >= 3))
        .select(
            "order_id", "customer_id", F.lit("REFUNDED").alias("status"),
            F.lit(2).alias("version"),
        )
    )
    w = Window.partitionBy("order_id").orderBy(F.col("version").desc())
    return (
        base.unionByName(delta)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("order_id", "customer_id", "status")
    )


@register(
    "snk_orders_scd2",
    oracle=f"{_PIPE}, base AS ("
    "  SELECT order_id, customer_id, status, 1 AS version FROM settled), "
    "delta AS ("
    "  SELECT order_id, customer_id, 'REFUNDED' AS status, 2 AS version "
    "  FROM settled WHERE status = 'PROCESSED' AND n_items >= 3), "
    "unioned AS (SELECT * FROM base UNION ALL SELECT * FROM delta), "
    "hist AS (SELECT *, lead(version) OVER (PARTITION BY order_id "
    "         ORDER BY version) AS valid_to FROM unioned) "
    "SELECT order_id, customer_id, status, version AS valid_from, "
    "valid_to, (valid_to IS NULL) AS is_current FROM hist",
    doc="SCD2 history sink (S6b): the upsert stream from "
    "snk_orders_upsert, kept as FULL slowly-changing-dimension "
    "history instead of a latest-wins rewrite — every version row "
    "survives with [valid_from, valid_to) version bounds and an "
    "is_current flag (valid_to = lead(version), null for the open "
    "row). This is the audit/time-travel layout a 100 TB dimension "
    "keeps next to its current snapshot: one uniform order_id window "
    "per rewrite (the same shuffle the upsert already pays), append-"
    "only semantics, and the current snapshot is the is_current "
    "slice — latest-wins becomes a FILTER, not a rewrite. Versions "
    "are integers, so the history is engine-exact.",
    builds_store=True,
)
def q_snk_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    settled = settled_orders(spark, sf_dir)
    base = settled.select(
        "order_id", "customer_id", "status", F.lit(1).alias("version")
    )
    delta = settled.filter(
        (F.col("status") == "PROCESSED") & (F.col("n_items") >= 3)
    ).select(
        "order_id",
        "customer_id",
        F.lit("REFUNDED").alias("status"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("order_id").orderBy("version")
    return (
        base.unionByName(delta)
        .withColumn("valid_to", F.lead("version").over(w))
        .select(
            "order_id",
            "customer_id",
            "status",
            F.col("version").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


@register(
    "snk_dlq",
    oracle="WITH fails AS (SELECT event_id, user_id, ts, "
    "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS BIGINT) AS attempt "
    "FROM events WHERE event_type = 'error') "
    "SELECT event_id, user_id, attempt FROM fails WHERE attempt >= 3",
    doc="Dead-letter diversion after 3 attempts (T4/S11; ref "
    "maxReceiveCount=3 iac/main.tf:21-24).",
    builds_store=True,
)
def q_snk_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("attempt", F.row_number().over(w).cast("long"))
        .filter(F.col("attempt") >= 3)
        .select("event_id", "user_id", "attempt")
    )


@register(
    "scan_inventory",
    oracle=f"WITH {SQL_INVENTORY.strip()} SELECT * FROM inv",
    doc="Inventory table scan (S7; ref check_db.py:42).",
)
def q_scan_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inventory(spark, sf_dir)


@register(
    "state_inventory_replay",
    # Exact sequential greedy replay is not window-expressible; the
    # oracle iterates with a recursive CTE (depth = max items per
    # product, ~20 at sf0.01).
    oracle="WITH RECURSIVE "
    + SQL_ITEMS.strip()
    + ", "
    + SQL_INVENTORY.strip()
    + ", ranked AS ("
    "  SELECT i.*, CAST(row_number() OVER (PARTITION BY i.product_id "
    "    ORDER BY i.item_ts, i.event_id) AS BIGINT) AS rn FROM items i), "
    # Seed from the PRODUCTS THE ITEMS REFERENCE, not from inv: a
    # product missing from inventory folds with the engine's -1
    # sentinel (always insufficient), so the oracle must emit those
    # rows too (advisor finding r3 — test partkeys happened to cover
    # every product, which would have masked a silent break on
    # standard 1-based partkeys).
    "st AS ("
    "  SELECT p.product_id, CAST(0 AS BIGINT) AS rn, "
    "    COALESCE(v.stock, CAST(-1 AS BIGINT)) AS remaining, "
    "    CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS quantity, "
    "    CAST(NULL AS BOOLEAN) AS item_ok "
    "  FROM (SELECT DISTINCT product_id FROM items) p "
    "  LEFT JOIN inv v USING (product_id) "
    "  UNION ALL "
    "  SELECT r.product_id, r.rn, "
    "    CASE WHEN r.quantity <= s.remaining THEN s.remaining - r.quantity "
    "         ELSE s.remaining END, "
    "    r.event_id, r.quantity, r.quantity <= s.remaining "
    "  FROM st s JOIN ranked r ON r.product_id = s.product_id "
    "    AND r.rn = s.rn + 1) "
    "SELECT product_id, rn, event_id, quantity, item_ok, "
    "remaining AS remaining_after FROM st WHERE rn >= 1",
    doc="Keyed mutable state replay (T1; ref FOR UPDATE loop "
    "src/order_processor/app.py:85-94): exact sequential greedy fold "
    "per product — failures take nothing. Custom stateful operator "
    "(pipeline.take_stock_in_order): one shuffle by product_id, items "
    "sorted by (item_ts, event_id) within each partition, and a "
    "mapInPandas fold that carries one product's remaining stock "
    "across Arrow batches, so memory is one batch per task however "
    "hot the product. Sequentiality within a key is irreducible (the "
    "fold is order-dependent); keys stay parallel.",
)
def q_state_inventory_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = order_items(spark, sf_dir).select(
        "product_id", "event_id", "item_ts", "quantity"
    )
    stock = inventory(spark, sf_dir).select(
        "product_id", F.col("stock").alias("_stock")
    )
    return take_stock_in_order(items, stock, ["item_ts", "event_id"]).select(
        "product_id", "rn", "event_id", "quantity", "item_ok", "remaining_after"
    )


@register(
    "ddl_bootstrap",
    oracle="SELECT * FROM (VALUES "
    "('prod-101', 'Wireless Headphones', 50), "
    "('prod-102', 'Mechanical Keyboard', 20), "
    "('prod-103', 'Gaming Mouse', 35), "
    "('prod-104', 'USB-C Monitor', 10), "
    "('prod-105', 'Ergonomic Chair', 5)) "
    "AS t(product_id, product_name, quantity_available)",
    doc="DDL bootstrap + seed (S8; ref db/init_schema.sql:2-14 via "
    "init_db.py:40-54). Runs as a SQL statement loop like the reference's "
    "script runner.",
)
def q_ddl_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mirror the reference's split-on-; script runner with Spark SQL.
    script = """
    CREATE OR REPLACE TEMPORARY VIEW inventory_seed AS
    SELECT * FROM VALUES
        ('prod-101', 'Wireless Headphones', 50),
        ('prod-102', 'Mechanical Keyboard', 20),
        ('prod-103', 'Gaming Mouse', 35),
        ('prod-104', 'USB-C Monitor', 10),
        ('prod-105', 'Ergonomic Chair', 5)
    AS t(product_id, product_name, quantity_available);
    SELECT * FROM inventory_seed
    """
    result = None
    for stmt in script.split(";"):
        if stmt.strip():
            result = spark.sql(stmt)
    return result


# ---------------------------------------------------------------------------
# S6 (adapter): the upsert sink against a REAL JDBC/MySQL target
# ---------------------------------------------------------------------------

def write_orders_upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    key_cols: tuple[str, ...] = ("order_id",),
    dialect: str = "mysql",
    stage_column_types: str | None = None,
) -> None:
    """Write a latest-wins orders frame to a real MySQL table with the
    reference's upsert semantics (INSERT .. ON DUPLICATE KEY UPDATE,
    ref src/order_processor/app.py:66-118) — the JDBC-target twin of
    ``snk_orders_upsert`` (whose versioned-parquet MERGE is the
    lake-native default; this adapter exists for users whose serving
    store really is MySQL).

    Scale design — deliberately NOT the reference's shape. The
    reference upserts row-at-a-time with batch_size=1 under row locks
    (its measured ceiling is tens of orders/s on db.t3.micro). Here
    the MERGE collapse (union + window-latest) happens IN SPARK first
    — ``q_snk_orders_upsert``'s exact plan, one order_id shuffle,
    fully parallel — so the JDBC leg receives each key at most once:

    1. ``df.write.jdbc(mode="overwrite")`` into ``{table}__stage`` —
       Spark's parallel batched INSERT path (one connection per
       partition, rewriteBatchedStatements-friendly), zero upsert
       logic executor-side;
    2. ONE server-side set-based statement merges stage → target:
       ``INSERT INTO t SELECT * FROM t__stage ON DUPLICATE KEY
       UPDATE col=VALUES(col)...`` — the database does a single
       relational merge instead of N row round-trips.

    Executor-side per-row upserts (foreachPartition + INSERT..ON
    DUPLICATE) would hold N_partitions row-locking sessions and
    serialize on the same hot keys the window just collapsed; the
    stage-then-merge shape keeps the JDBC wire protocol to bulk
    appends plus one DDL-sized merge, which is the only JDBC pattern
    that survives a 1000-executor writer.

    The container carries no MySQL Connector/J jar, so the first
    MySQL-dialect write raises — surfaced as the same documented
    NotImplementedError contract as the Kafka source
    (streaming/sources.py:97-131); tests/test_checkout.py pins both
    the guard and the frame contract (adapter input ≡ the graded
    ``snk_orders_upsert`` output).

    ``dialect`` (r12): the stage-then-merge shape is standard SQL
    apart from the merge statement itself, so the adapter carries a
    dialect table — ``mysql`` (the reference's target: INSERT .. ON
    DUPLICATE KEY UPDATE, backtick quoting) and ``derby`` (ANSI
    ``MERGE INTO``, the JDBC database Spark itself bundles).  The
    derby dialect exists so the ENTIRE path — Spark's parallel
    ``write.jdbc`` staging, the single server-side set-based merge,
    the stage drop — executes LIVE against a real JDBC database in
    this container (tests/test_jdbc_live.py replays the reference's
    Test-2 idempotency scenario, README.md:210-219, through embedded
    Derby); only the MySQL merge string itself remains unexecuted
    until a Connector/J jar or a MySQL appears.
    """
    if dialect not in ("mysql", "derby"):
        raise ValueError(f"unknown jdbc dialect: {dialect!r}")
    default_driver = {
        "mysql": "com.mysql.cj.jdbc.Driver",
        "derby": "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    }[dialect]
    props = {"driver": default_driver, **(properties or {})}

    def _q(ident: str) -> str:
        # Identifier hygiene: names reach the SQL string verbatim, so
        # quote (MySQL) or validate (Derby, where quoting changes case
        # semantics) every identifier (ADVICE r9: unquoted
        # interpolation).
        if dialect == "mysql":
            if "`" in ident:
                raise ValueError(f"invalid SQL identifier: {ident!r}")
            return f"`{ident}`"
        import re as _re

        # Uppercase-only for Derby (ADVICE r12): Spark's DerbyDialect
        # double-quotes the stage DDL verbatim, so a lowercase stage
        # column is created case-sensitive while this adapter emits it
        # UNQUOTED in the MERGE — Derby then canonicalizes the unquoted
        # name to uppercase and resolves a DIFFERENT (or missing)
        # column.  Rejecting non-uppercase here turns that silent
        # mismatch into an immediate, explained error.
        if not _re.fullmatch(r"[A-Z_][A-Z0-9_]*", ident):
            raise ValueError(
                f"invalid SQL identifier for Derby: {ident!r} — must be "
                "UPPERCASE [A-Z_][A-Z0-9_]*; Derby canonicalizes "
                "unquoted identifiers to uppercase while Spark's "
                "DerbyDialect quotes the stage DDL verbatim, so a "
                "lowercase name would bind a different column"
            )
        return ident

    # Uppercase suffix so the stage name itself passes the Derby
    # identifier gate (the table is validated by _q below; MySQL quotes
    # either way).
    stage = f"{table}__STAGE"
    non_keys = [c for c in df.columns if c not in key_cols]
    if not non_keys:
        raise ValueError("upsert frame needs at least one non-key column")
    cols = ", ".join(_q(c) for c in df.columns)
    if dialect == "mysql":
        merge_sql = (
            f"INSERT INTO {_q(table)} ({cols}) "
            f"SELECT {cols} FROM {_q(stage)} "
            "ON DUPLICATE KEY UPDATE "
            + ", ".join(f"{_q(c)}=VALUES({_q(c)})" for c in non_keys)
        )
    else:  # ANSI MERGE (Derby >= 10.11)
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
        merge_sql = (
            f"MERGE INTO {_q(table)} t USING {_q(stage)} s ON ({on}) "
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_keys)
            + f" WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ("
            + ", ".join(f"s.{_q(c)}" for c in df.columns)
            + ")"
        )
    try:
        writer = df.write.mode("overwrite")
        if stage_column_types:
            # e.g. "ORDER_ID VARCHAR(64), STATUS VARCHAR(16)" — Derby
            # maps StringType to CLOB by default, which cannot be
            # compared against a VARCHAR merge key (SQLState 42818);
            # callers override the stage DDL types to match the target.
            writer = writer.option(
                "createTableColumnTypes", stage_column_types
            )
        writer.jdbc(url=url, table=stage, properties=props)
    except Exception as e:
        # ONLY a missing-driver failure is the documented environment
        # gate; auth/network/SQL errors must surface as themselves
        # (ADVICE r9: a bare rebrand hid real failures).
        msg = f"{type(e).__name__}: {e}"
        if not ("ClassNotFoundException" in msg or "No suitable driver" in msg):
            raise
        raise NotImplementedError(
            "jdbc upsert sink requires the MySQL Connector/J jar on the "
            "cluster (--jars mysql-connector-j-<ver>.jar); not bundled "
            f"in this container. Deferred server-side merge: {merge_sql}"
        ) from e
    # Stage landed: run the single set-based merge server-side via the
    # driver's JVM (java.sql.DriverManager — same classpath the write
    # just proved), then drop the stage table whether or not the merge
    # succeeded (ADVICE r9: the stage was left behind).
    jvm = df.sparkSession._jvm  # noqa: SLF001 — py4j bridge, documented
    conn = jvm.java.sql.DriverManager.getConnection(
        url, props.get("user", ""), props.get("password", "")
    )
    try:
        st = conn.createStatement()
        merge_ok = False
        try:
            st.execute(merge_sql)
            merge_ok = True
        finally:
            try:
                if dialect == "mysql":
                    st.execute(f"DROP TABLE IF EXISTS {_q(stage)}")
                else:
                    # Derby has no IF EXISTS; ONLY the benign
                    # missing-table 42Y55/42X05 SQLStates are swallowed
                    # (ADVICE r12: a blanket except also hid lock
                    # timeouts / dropped connections, silently leaving
                    # the stage table behind).
                    try:
                        st.execute(f"DROP TABLE {_q(stage)}")
                    except Exception as drop_exc:  # noqa: BLE001
                        sql_state = None
                        je = getattr(drop_exc, "java_exception", None)
                        if je is not None:
                            try:
                                sql_state = je.getSQLState()
                            except Exception:  # noqa: BLE001 — py4j
                                sql_state = None
                        # Re-raise a non-benign drop failure ONLY when
                        # the MERGE itself succeeded: raising from this
                        # finally block while a merge exception is in
                        # flight would REPLACE the root cause with the
                        # cleanup error (callers matching on the merge
                        # error class would see a drop error instead —
                        # r13 code-review find).  With a merge error
                        # already propagating, the drop failure rides
                        # along as chained context via the log below.
                        # The in-flight test is the merge_ok flag, NOT
                        # sys.exc_info(): inside this except block
                        # exc_info always reports drop_exc itself
                        # (ADVICE r13 — that check made the raise
                        # unreachable and swallowed every drop failure).
                        import sys as _sys

                        if sql_state not in ("42Y55", "42X05"):
                            if merge_ok:
                                raise
                            print(
                                "stage-table drop failed during merge "
                                f"error handling (SQLState {sql_state}); "
                                f"stage {stage} may remain",
                                file=_sys.stderr,
                            )
            finally:
                st.close()
    finally:
        conn.close()
