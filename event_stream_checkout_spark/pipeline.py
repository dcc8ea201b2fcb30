"""The checkout settlement pipeline as a reusable batch module
(SURVEY.md §7 M2) — the same functions run standalone for golden tests
and inside ``streaming/`` via foreachBatch (M3).

Reference semantics reproduced (src/order_processor/app.py:55-124 and
src/ingest_order/app.py:13-92):

1. ``validate_split``     — strict payload validation, reject channel
                            (app.py:76-92; HTTP 400 path)
2. ``derive_order_ids``   — content-addressed identity
                            UUID(md5(canonical json)) (app.py:30-32)
3. ``dedup_first_writer`` — INSERT IGNORE semantics: first writer wins,
                            both against the existing orders table and
                            within the batch (processor app.py:66-75)
4. ``settle_*``           — per-order all-or-nothing inventory
                            settlement (processor app.py:78-119)

Three settlement modes, trading fidelity vs parallelism:

- ``settle_optimistic``  — prefix-demand admission (set-based, fully
  shuffle-parallel by product; the 100 TB default).  An order is
  PROCESSED iff every item's running demand (all prior requests
  counted, ordered by the T5 contract) fits stock.
- ``settle_replay_items`` — exact sequential greedy per product
  (failures release nothing they never took): parallel by product_id
  via applyInPandas; item-level semantics (equals the reference when
  orders are single-product).
- ``settle_replay_global`` — the reference's exact whole-order
  transactional loop under the T5 deterministic ordering
  (timestamp, order_id).  Inherently sequential — the reference
  serializes through MySQL row locks — so this mode exists for
  correctness parity and tests, not for 100 TB runs.

Determinism contract T5: wherever arrival order matters, the engine
orders by (timestamp, order_id) — SQS gives no ordering, the reference
is nondeterministic under contention; we pin it down.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .functions.core import content_order_id, valid_order_predicate

# Canonical inventory seed (db/init_schema.sql:9-14).
INVENTORY_SEED = [
    ("prod-101", "Wireless Headphones", 50),
    ("prod-102", "Mechanical Keyboard", 20),
    ("prod-103", "Gaming Mouse", 35),
    ("prod-104", "USB-C Monitor", 10),
    ("prod-105", "Ergonomic Chair", 5),
]

INVENTORY_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("quantity_available", T.LongType(), False),
    ]
)

ITEM_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("product_id", T.StringType(), True),
            T.StructField("quantity", T.LongType(), True),
        ]
    )
)


class ValidationResult(NamedTuple):
    valid: DataFrame
    rejected: DataFrame


def local_frame(
    spark, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A driver-local DataFrame: a LocalRelation built through Arrow.
    Collecting it fires no Spark job, and the optimizer folds it into
    the plans that read it (an empty one prunes the joins it feeds).
    ``spark.createDataFrame(list)`` would instead scan a Python RDD,
    one job per collect and three per broadcast join; a pandas input
    takes the same RDD path when it is empty.  ``schema`` is a
    StructType or a DDL string."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)


def seed_inventory(spark) -> DataFrame:
    return local_frame(spark, INVENTORY_SEED, INVENTORY_SCHEMA)


def validate_split(raw: DataFrame) -> ValidationResult:
    """Two-way split on the reference's validation predicate (P1/P2).

    ``raw`` needs columns: customer_id (string), items
    (array<struct<product_id,quantity>>), timestamp.
    """
    pred = valid_order_predicate()
    return ValidationResult(valid=raw.filter(pred), rejected=raw.filter(~pred))


def derive_order_ids(valid: DataFrame) -> DataFrame:
    """Attach the content-addressed order_id (F3/F4), byte-compatible
    with the reference's ``json.dumps(..., sort_keys=True)`` digest
    (see functions/core.py:content_order_id)."""
    return valid.withColumn(
        "order_id", content_order_id(F.col("customer_id"), F.col("items"))
    )


def dedup_first_writer(
    orders: DataFrame, existing_orders: DataFrame | None = None
) -> DataFrame:
    """INSERT IGNORE semantics (J3/A3/T2): drop orders already present
    in the orders table, and keep only the first arrival (T5 order)
    within the batch."""
    w = Window.partitionBy("order_id").orderBy("timestamp")
    deduped = (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if existing_orders is not None:
        deduped = deduped.join(
            existing_orders.select("order_id"), "order_id", "left_anti"
        )
    return deduped


def _exploded(orders: DataFrame) -> DataFrame:
    """One row per order item, each carrying its order's columns (items
    already JSON-encoded for the orders table) so the per-order
    decisions need no join back to the orders."""
    return orders.select(
        "order_id",
        "customer_id",
        F.to_json("items").alias("items"),
        "timestamp",
        F.posexplode("items").alias("item_pos", "item"),
    ).select(
        "order_id",
        "customer_id",
        "items",
        "timestamp",
        "item_pos",
        F.col("item.product_id").alias("product_id"),
        F.col("item.quantity").alias("quantity"),
    )


class SettlementResult(NamedTuple):
    # order_id, customer_id, items, status, created_at, processed_at and
    # consumed: the (product_id, quantity) items the order took from
    # stock under the mode's rule (ITEM_TYPE; empty when it took none).
    orders: DataFrame
    inventory: DataFrame   # product_id, product_name, quantity_available
    processed_events: DataFrame  # OrderProcessed stream (README.md:279-288)


# An OrderProcessed event is this projection of a settled order.
PROCESSED_EVENT_COLUMNS = ("order_id", "customer_id", "status", "processed_at")


def _item() -> Column:
    return F.struct("product_id", "quantity")


def _decide(flagged: DataFrame, consumed: Column) -> DataFrame:
    """Per-order decisions from item-level outcomes: an order is
    PROCESSED iff every item fits (``item_ok``); ``consumed`` is an
    aggregate over its items of what the mode's rule took.  The other
    keys are functions of order_id (a content hash of customer and
    items, one timestamp per order after dedup)."""
    return flagged.groupBy("order_id", "customer_id", "items", "timestamp").agg(
        F.when(F.bool_and("item_ok"), F.lit("PROCESSED"))
        .otherwise(F.lit("FAILED"))
        .alias("status"),
        consumed.alias("consumed"),
    )


def _finalize(decided: DataFrame, inventory: DataFrame) -> SettlementResult:
    out_orders = decided.select(
        "order_id",
        "customer_id",
        "items",
        "status",
        F.col("timestamp").alias("created_at"),
        F.col("timestamp").alias("processed_at"),
        "consumed",
    )
    consumed = (
        out_orders.select(F.inline("consumed"))
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("consumed"))
    )
    new_inventory = (
        inventory.join(consumed, "product_id", "left")
        .select(
            "product_id",
            "product_name",
            (
                F.col("quantity_available") - F.coalesce(F.col("consumed"), F.lit(0))
            ).alias("quantity_available"),
        )
    )
    processed_events = out_orders.select(*PROCESSED_EVENT_COLUMNS)
    return SettlementResult(out_orders, new_inventory, processed_events)


def settle_optimistic(orders: DataFrame, inventory: DataFrame) -> SettlementResult:
    """Prefix-demand admission (the scalable micro-batch rule; see
    module doc and operators/checkout.py)."""
    items = _exploded(orders)
    w = (
        Window.partitionBy("product_id")
        .orderBy("timestamp", "order_id", "item_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = (
        items.withColumn("running", F.sum("quantity").over(w))
        .join(
            F.broadcast(inventory.select("product_id", "quantity_available")),
            "product_id",
            "left",
        )
        .withColumn(
            "item_ok",
            F.coalesce(F.col("running") <= F.col("quantity_available"), F.lit(False)),
        )
    )
    # All or nothing: a PROCESSED order takes every item, a FAILED one none.
    decided = _decide(
        flagged,
        F.when(F.bool_and("item_ok"), F.collect_list(_item())).otherwise(
            F.array().cast(ITEM_TYPE)
        ),
    )
    return _finalize(decided, inventory)


# One row per order item: did the settlement rule let it take its stock.
_ITEM_OUTCOME_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("items", T.StringType(), True),
        T.StructField("timestamp", T.TimestampNTZType(), True),
        T.StructField("product_id", T.StringType(), True),
        T.StructField("quantity", T.LongType(), True),
        T.StructField("item_ok", T.BooleanType(), True),
    ]
)


def settle_replay_items(orders: DataFrame, inventory: DataFrame) -> SettlementResult:
    """Exact sequential greedy per product (failures take nothing),
    parallel across products via applyInPandas (U5-style custom
    stateful operator).  Whole-order status = AND of its items'
    outcomes — identical to the reference for single-product orders;
    for multi-product orders the item decisions are per-product-local
    (documented divergence vs the global transactional loop), so a
    FAILED order's admitted items still take their stock.

    Scale: one shuffle by product_id; per-group state is one counter;
    Arrow-batched. This is the honest distributed form of the
    reference's FOR UPDATE loop.
    """
    items = _exploded(orders)
    stock = inventory.select(
        "product_id", F.col("quantity_available").alias("_stock")
    )
    joined = items.join(F.broadcast(stock), "product_id", "left")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["timestamp", "order_id", "item_pos"], kind="stable")
        stock_vals = pdf["_stock"].dropna()
        remaining = int(stock_vals.iloc[0]) if len(stock_vals) else -1
        oks = []
        for q in pdf["quantity"].astype("int64"):
            ok = 0 <= q <= remaining
            if ok:
                remaining -= int(q)
            oks.append(ok)
        return pdf.assign(item_ok=oks)[_ITEM_OUTCOME_SCHEMA.names]

    flagged = joined.groupBy("product_id").applyInPandas(fold, _ITEM_OUTCOME_SCHEMA)
    decided = _decide(flagged, F.collect_list(F.when(F.col("item_ok"), _item())))
    return _finalize(decided, inventory)


def settle_replay_global(orders: DataFrame, inventory: DataFrame) -> SettlementResult:
    """The reference's exact whole-order transactional loop
    (src/order_processor/app.py:60-119) under T5 ordering: orders
    processed strictly by (timestamp, order_id); an order is PROCESSED
    iff at that moment EVERY item fits remaining stock, and only then
    is stock decremented (rollback = never applying).

    Single sequential fold (groupBy on a constant key) — exists for
    parity tests and small replays; use the other modes at scale.
    """
    items = _exploded(orders)
    stock = inventory.select(
        "product_id", F.col("quantity_available").alias("_stock")
    )
    joined = items.join(F.broadcast(stock), "product_id", "left").withColumn(
        "_one", F.lit(1)
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["timestamp", "order_id", "item_pos"], kind="stable")
        remaining: dict[str, int] = {}
        for pid, st in zip(pdf["product_id"], pdf["_stock"]):
            if pid not in remaining:
                remaining[pid] = -1 if pd.isna(st) else int(st)
        verdicts = {}
        for oid, grp in pdf.groupby("order_id", sort=False):
            # Items decrement sequentially inside the transaction
            # (ref app.py:80-94), so a product repeated within one
            # order draws down cumulatively; failure of any item
            # rolls the whole tentative set back.
            tentative: dict[str, int] = {}
            ok = True
            for pid, q in zip(grp["product_id"], grp["quantity"]):
                q = int(q)
                if not 0 <= q <= remaining[pid] - tentative.get(pid, 0):
                    ok = False
                    break
                tentative[pid] = tentative.get(pid, 0) + q
            if ok:
                for pid, q in tentative.items():
                    remaining[pid] -= q
            verdicts[oid] = ok
        # Every item carries its whole order's verdict.
        return pdf.assign(item_ok=pdf["order_id"].map(verdicts))[
            _ITEM_OUTCOME_SCHEMA.names
        ]

    flagged = joined.groupBy("_one").applyInPandas(fold, _ITEM_OUTCOME_SCHEMA)
    decided = _decide(flagged, F.collect_list(F.when(F.col("item_ok"), _item())))
    return _finalize(decided, inventory)


def run_checkout_batch(
    spark,
    raw: DataFrame,
    inventory: DataFrame | None = None,
    existing_orders: DataFrame | None = None,
    mode: str = "optimistic",
) -> tuple[ValidationResult, SettlementResult]:
    """End-to-end batch checkout: validate → identity → dedup → settle.

    The streaming pipeline calls exactly this per micro-batch.

    Default mode is ``optimistic`` — the shuffle-parallel admission rule
    that scales to 100 TB.  ``replay_global`` reproduces the reference's
    sequential transactional loop exactly and is selected explicitly by
    the golden-parity tests (tests/test_checkout_golden.py).
    """
    inventory = inventory if inventory is not None else seed_inventory(spark)
    split = validate_split(raw)
    with_ids = derive_order_ids(split.valid)
    deduped = dedup_first_writer(with_ids, existing_orders)
    settle = {
        "optimistic": settle_optimistic,
        "replay_items": settle_replay_items,
        "replay_global": settle_replay_global,
    }[mode]
    return split, settle(deduped, inventory)
