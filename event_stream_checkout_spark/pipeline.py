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

``run_checkout_batch`` runs all four; the stream, which validates and
identifies orders as they arrive, calls ``settle`` (steps 3-4).

Three settlement modes, trading fidelity vs parallelism:

- ``settle_optimistic``  — prefix-demand admission (set-based, fully
  shuffle-parallel by product; the 100 TB default).  An order is
  PROCESSED iff every item's running demand (all prior requests
  counted, ordered by the T5 contract) fits stock.  The admission
  kernel, ``admit_in_order``, also serves the graded settlement keys
  (operators/checkout.py).
- ``settle_replay_items`` — exact sequential greedy per product
  (failures release nothing they never took): parallel by product_id
  via the ``take_stock_in_order`` kernel, a sorted ``mapInPandas``
  fold; item-level semantics (equals the reference when orders are
  single-product).
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

import itertools
from collections.abc import Iterable, Iterator
from operator import itemgetter
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


def validate_split(
    raw: DataFrame, extra: Column | None = None
) -> ValidationResult:
    """Two-way split on the reference's validation predicate (P1/P2).

    ``raw`` needs columns: customer_id (string), items
    (array<struct<product_id,quantity>>), timestamp.  ``extra``, when
    given, is one more never-null condition a valid row must meet (the
    stream's wire timestamp parses).
    """
    pred = valid_order_predicate()
    if extra is not None:
        pred = pred & extra
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


def admit_in_order(
    items: DataFrame, stock: DataFrame, order: list[str]
) -> DataFrame:
    """Prefix-demand admission, the twin of ``take_stock_in_order``:
    adds ``running_demand`` (the product's demand in ``order`` up to
    and including the item, failed items counted) and ``item_ok`` (it
    fits ``_stock``).  ``stock`` holds (product_id, _stock) and is
    broadcast; a product with no stock row admits nothing (app.py:88)."""
    w = (
        Window.partitionBy("product_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        items.withColumn("running_demand", F.sum("quantity").over(w))
        .join(F.broadcast(stock), "product_id", "left")
        .withColumn(
            "item_ok",
            F.coalesce(F.col("running_demand") <= F.col("_stock"), F.lit(False)),
        )
    )


def settle_optimistic(orders: DataFrame, inventory: DataFrame) -> SettlementResult:
    """Prefix-demand admission (the scalable micro-batch rule; see
    module doc and ``admit_in_order``)."""
    stock = inventory.select(
        "product_id", F.col("quantity_available").alias("_stock")
    )
    flagged = admit_in_order(
        _exploded(orders), stock, ["timestamp", "order_id", "item_pos"]
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


def take_stock(
    quantities: Iterable[int], stock: int
) -> tuple[list[bool], list[int]]:
    """The per-product stock-take kernel: in order, an item takes its
    quantity ``q`` iff ``0 <= q <= remaining``, else it takes nothing.
    Returns each item's outcome and the stock remaining after it.  An
    unknown product starts at -1, so none of its items fit (the
    reference's `not result` branch, app.py:88)."""
    oks, after = [], []
    for q in quantities:
        q = int(q)
        ok = 0 <= q <= stock
        if ok:
            stock -= q
        oks.append(ok)
        after.append(stock)
    return oks, after


def take_stock_in_order(
    items: DataFrame, stock: DataFrame, order: list[str]
) -> DataFrame:
    """``take_stock`` over each product's ``items`` in ``order``: adds
    ``rn`` (1-based position within the product), ``item_ok`` and
    ``remaining_after`` to the items' columns.  ``stock`` holds
    (product_id, _stock); a product with no stock row starts at -1.

    One shuffle by product_id puts each product's items in one
    partition (AQE coalescing only merges whole partitions), sorted by
    ``order`` within it.  ``mapInPandas`` folds the partition's Arrow
    batches in turn, carrying the current product, its stock left and
    its rows seen from one batch to the next, so the Python worker holds
    one batch however many items a product has (the sort spills to disk
    like any Spark sort)."""
    schema = T.StructType(
        items.schema.fields
        + [
            T.StructField("rn", T.LongType()),
            T.StructField("item_ok", T.BooleanType()),
            T.StructField("remaining_after", T.LongType()),
        ]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The initial carry is an unknown product's: nothing seen, -1.
        pid, left, seen = None, -1, 0
        for pdf in batches:
            rns, oks, afters = [], [], []
            rows = zip(pdf["product_id"], pdf["quantity"], pdf["_stock"])
            for p, run in itertools.groupby(rows, key=itemgetter(0)):
                run = list(run)
                if p != pid:
                    pid, seen = p, 0
                    left = -1 if pd.isna(run[0][2]) else int(run[0][2])
                ok, after = take_stock([q for _, q, _ in run], left)
                rns.extend(range(seen + 1, seen + len(run) + 1))
                oks += ok
                afters += after
                left, seen = after[-1], seen + len(run)
            yield pdf.assign(rn=rns, item_ok=oks, remaining_after=afters)[
                schema.names
            ]

    return (
        items.join(F.broadcast(stock), "product_id", "left")
        .repartition("product_id")
        .sortWithinPartitions("product_id", *order)
        .mapInPandas(fold, schema)
    )


def settle_replay_items(orders: DataFrame, inventory: DataFrame) -> SettlementResult:
    """Exact sequential greedy per product (failures take nothing),
    parallel across products via ``take_stock_in_order`` (U5-style
    custom stateful operator).  Whole-order status = AND of its items'
    outcomes — identical to the reference for single-product orders;
    for multi-product orders the item decisions are per-product-local
    (documented divergence vs the global transactional loop), so a
    FAILED order's admitted items still take their stock.

    Scale: one shuffle by product_id; the carried state is one counter;
    Arrow-batched. This is the honest distributed form of the
    reference's FOR UPDATE loop.
    """
    stock = inventory.select(
        "product_id", F.col("quantity_available").alias("_stock")
    )
    flagged = take_stock_in_order(
        _exploded(orders), stock, ["timestamp", "order_id", "item_pos"]
    )
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


_SETTLE_MODES = {
    "optimistic": settle_optimistic,
    "replay_items": settle_replay_items,
    "replay_global": settle_replay_global,
}


def settle(
    orders: DataFrame,
    inventory: DataFrame,
    existing_orders: DataFrame | None = None,
    mode: str = "optimistic",
) -> SettlementResult:
    """Dedup → settle for orders already validated and identified
    (``order_id``, customer_id, items, timestamp)."""
    return _SETTLE_MODES[mode](dedup_first_writer(orders, existing_orders), inventory)


def run_checkout_batch(
    spark,
    raw: DataFrame,
    inventory: DataFrame | None = None,
    existing_orders: DataFrame | None = None,
    mode: str = "optimistic",
) -> tuple[ValidationResult, SettlementResult]:
    """End-to-end batch checkout: validate → identity → dedup → settle.

    The stream validates and identifies each order as it arrives, then
    calls ``settle``.

    Default mode is ``optimistic`` — the shuffle-parallel admission rule
    that scales to 100 TB.  ``replay_global`` reproduces the reference's
    sequential transactional loop exactly and is selected explicitly by
    the golden-parity tests (tests/test_checkout_golden.py).
    """
    inventory = inventory if inventory is not None else seed_inventory(spark)
    split = validate_split(raw)
    orders = derive_order_ids(split.valid)
    return split, settle(orders, inventory, existing_orders, mode)
