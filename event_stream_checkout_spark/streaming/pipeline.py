"""Structured Streaming shell over the batch checkout pipeline
(SURVEY.md §7 M3) — the Spark restatement of the reference's
API GW → SQS → Lambda → MySQL → SQS → Lambda dataflow as ONE streaming
DAG:

  file/JSON source (S1/S2, standing in for the HTTP+queue edge)
    → from_json with explicit schema + corrupt-record channel (P3)
    → foreachBatch( validate → identity → dedup → settle )  (M2 module)
        ├─ orders table, append, first-writer-wins   (S6)
        ├─ inventory, versioned atomic swap          (T1/S6)
        ├─ OrderProcessed events, append             (S4/S5)
        ├─ rejected + corrupt rows → quarantine      (P2/S11/T4)
        └─ notifications: status=='PROCESSED' proj   (P4/P5/S9)

Delivery semantics: the file source is at-least-once into
foreachBatch; replays are safe because every micro-batch is a
DETERMINISTIC function of the pre-batch committed state plus
independently idempotent writes:

- decisions (validation, dedup, settlement) are computed against the
  state as of *before this batch_id* — orders rows carry a ``batch_id``
  column and inventory/retry state are versioned by batch_id, so a
  replayed batch re-derives exactly the same decisions no matter which
  of its writes already landed;
- inventory/retry/events/quarantine/responses are written as
  per-batch-id versions or partitions with ``overwrite`` (+ _SUCCESS
  marker = atomic publish) — rewriting them is a no-op;
- the orders append anti-joins against the FULL orders table at write
  time (INSERT IGNORE, src/order_processor/app.py:66-75), so a replay
  after a completed append appends nothing;
- notifications are the reference's fire-and-forget notifier —
  at-least-once by design (notification_sender/app.py:24-26).

There is therefore no crash window: a failure between any two writes
leaves a state from which replaying the same batch_id converges to the
same final state (the round-1 ordering bug — orders append gating the
inventory write — is gone).

Retry/DLQ (T4): a record whose *processing* fails transiently is
re-queued with an incremented attempt (receive) count and re-processed
in the next micro-batch; at MAX_RECEIVE_COUNT=3 failed receives it is
diverted to the quarantine with reason PROCESSING_FAILURE — mirroring
the reference's SQS redrive policy (iac/main.tf:21-24) + re-raise
(src/order_processor/app.py:45-48).

Ingest response channel (S1): per input record the batch writes the
API-gateway response the reference's ingest Lambda would return
(src/ingest_order/app.py:48-62): 400 for validation/malformed-JSON
rejects, 500 when the queue publish fails (injectable), 202 +
content-addressed order_id on success.  500-failed records never enter
processing — they never reached the queue.

State bounding (documented divergence, SURVEY.md §2 T2): the
reference dedups forever via the orders PK; this shell dedups against
the accumulated orders table (same semantics) and additionally
supports dropDuplicatesWithinWatermark for bounded in-flight state at
100 TB.

At scale: swap the file source for Kafka and the parquet state tables
for a transactional table format; the foreachBatch body is unchanged.
"""

from __future__ import annotations

import functools
import json
import os
from collections import Counter
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline import (
    INVENTORY_SCHEMA,
    ITEM_TYPE,
    PROCESSED_EVENT_COLUMNS,
    derive_order_ids,
    local_frame,
    run_checkout_batch,
    seed_inventory,
    validate_split,
)
from ..session import configure

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("items", ITEM_TYPE, True),
        T.StructField("timestamp", T.StringType(), True),  # ISO-8601, no TZ
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

# SQS redrive policy: a record is received at most this many times
# before the queue moves it to the DLQ (iac/main.tf:21-24).
MAX_RECEIVE_COUNT = 3

_RETRY_SCHEMA = (
    "customer_id string, items array<struct<product_id:string,quantity:long>>, "
    "timestamp timestamp_ntz, attempts long"
)

_ORDERS_SCHEMA = (
    "order_id string, customer_id string, items string, status string, "
    "created_at timestamp_ntz, processed_at timestamp_ntz, batch_id long"
)

# Predicate factories take the candidate DataFrame and return a boolean
# Column; True = this record fails that stage on this attempt.  They
# model the reference's two failure surfaces: the ingest Lambda's queue
# publish (HTTP 500, src/ingest_order/app.py:48-53) and the processor
# Lambda raising mid-record (SQS redelivery, app.py:45-48).
#
# CONTRACT: the returned Column must be DETERMINISTIC (a pure function
# of the row, e.g. a hash/modulo of stable fields — as every test
# predicate is).  The batch body counts gate legs and re-evaluates the
# same plans at write time (the one-collect gate design), so a predicate
# sampling randomness could disagree between the gate count and the
# written rows, and a replayed batch must re-derive identical
# decisions for idempotence anyway (r3 advisor finding).
FailPredicate = Callable[[DataFrame], Column]


class CheckoutStream:
    """File-source streaming checkout with parquet-backed state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        mode: str = "optimistic",
        process_fail: FailPredicate | None = None,
        publish_fail: FailPredicate | None = None,
    ):
        self.spark = configure(spark)
        self.state = state_dir
        self.mode = mode
        self.process_fail = process_fail
        self.publish_fail = publish_fail
        self.orders_dir = os.path.join(state_dir, "orders")
        self.inv_root = os.path.join(state_dir, "inventory")
        self.retry_root = os.path.join(state_dir, "retry")
        self.events_dir = os.path.join(state_dir, "processed_events")
        self.quarantine_dir = os.path.join(state_dir, "quarantine")
        self.notify_dir = os.path.join(state_dir, "notifications")
        self.responses_dir = os.path.join(state_dir, "responses")
        self.checkpoint_dir = os.path.join(state_dir, "_checkpoint")
        # Fault injection for the replay-convergence tests: crash the
        # batch right after the named write step ("state" | "orders").
        self._crash_after: str | None = None

    # -- state table accessors -------------------------------------------

    def current_inventory(self, before_batch: int | None = None) -> DataFrame:
        """Latest committed inventory version, as a driver-local frame;
        with ``before_batch``, the latest version strictly below it —
        the replay-stable pre-batch snapshot (a replayed batch must not
        read its own tentative version)."""
        versions = self._versions(self.inv_root)
        if before_batch is not None:
            versions = [v for v in versions if v < before_batch]
        if not versions:
            return seed_inventory(self.spark)
        rows = self.spark.read.schema(INVENTORY_SCHEMA).parquet(
            os.path.join(self.inv_root, f"v{max(versions)}")
        ).collect()
        return local_frame(self.spark, rows, INVENTORY_SCHEMA)

    def pending_retries(self, before_batch: int | None = None) -> DataFrame:
        versions = self._versions(self.retry_root)
        if before_batch is not None:
            versions = [v for v in versions if v < before_batch]
        if not versions:
            return local_frame(self.spark, [], _RETRY_SCHEMA)
        # Explicit schema: a drained retry version is an EMPTY parquet
        # dir (consumed-state must be overwritten even when empty, or a
        # later batch would re-read and re-process stale retries).
        return self.spark.read.schema(_RETRY_SCHEMA).parquet(
            os.path.join(self.retry_root, f"v{max(versions)}")
        )

    @staticmethod
    def _versions(root: str) -> list[int]:
        if not os.path.isdir(root):
            return []
        out = []
        for name in os.listdir(root):
            # A version is visible only once fully committed (_SUCCESS).
            if name.startswith("v") and os.path.exists(
                os.path.join(root, name, "_SUCCESS")
            ):
                out.append(int(name[1:]))
        return out

    def orders_table(self) -> DataFrame:
        # Explicit schema: inferring it costs a footer-reading job.
        if not os.path.isdir(self.orders_dir) or not os.listdir(self.orders_dir):
            return local_frame(self.spark, [], _ORDERS_SCHEMA)
        return self.spark.read.schema(_ORDERS_SCHEMA).parquet(self.orders_dir)

    # -- the micro-batch body (pure M2 logic + idempotent writes) --------

    @staticmethod
    def _release_pin(df: DataFrame) -> None:
        """Eagerly free a localCheckpoint's storage blocks.  The pins
        below allocate block-manager storage every micro-batch, and
        without an explicit release those blocks are only reclaimed
        when ContextCleaner happens to GC the driver-side RDD — a
        long-running fault-injection stream steadily accumulates
        executor storage (advisor r6).  A checkpointed Dataset's plan
        root is the LogicalRDD wrapping the persisted RDD; unpersist
        it once the batch ends (the frames are per-batch and a replay
        rebuilds them from source + committed state)."""
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # cleanup must never fail a batch or mask its error

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Cache before touching _corrupt_record: Spark disallows
        # queries over raw JSON that reference only the corrupt-record
        # column, and we also want one stable snapshot per batch.
        batch_df = batch_df.cache()
        # Pins to release when the batch ends, committed or refused.
        pins: list[DataFrame] = []
        try:
            self._settle_and_write(batch_df, batch_id, pins)
        finally:
            batch_df.unpersist()
            for pin in pins:
                self._release_pin(pin)

    def _settle_and_write(
        self, batch_df: DataFrame, batch_id: int, pins: list[DataFrame]
    ) -> None:
        # Stale-restart guard: micro-batch ids only move forward.  If
        # the streaming _checkpoint dir is lost while state_dir
        # survives, batch ids restart at 0 and the pre-batch readers
        # (before_batch=0) would silently hand back the SEED state and
        # overwrite committed versions.  A legitimate replay re-runs
        # the LAST attempted batch (batch_id == max committed version);
        # anything older means the checkpoint and the state have
        # diverged — refuse instead of regressing.  The equal-id case
        # (including single-batch histories) is covered by the input-
        # fingerprint guard after the gate job below.
        committed = self._versions(self.inv_root)
        if committed and max(committed) > batch_id:
            raise RuntimeError(
                f"batch_id {batch_id} is older than committed state "
                f"v{max(committed)}: the streaming checkpoint was lost or "
                "reset while state_dir survived; refusing to regress "
                "committed inventory (delete state_dir to restart clean)"
            )
        corrupt = batch_df.filter(F.col("_corrupt_record").isNotNull())
        parsed = (
            batch_df.filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record")
            .withColumn(
                "timestamp",
                F.to_timestamp_ntz(
                    F.col("timestamp"), F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
                ),
            )
            .withColumn("attempts", F.lit(1).cast("long"))
        )

        # ---- ingest stage (S1): validate → publish → respond ----------
        split = validate_split(parsed)
        with_ids = derive_order_ids(split.valid)
        pub_fail_cond = (
            self.publish_fail(with_ids) if self.publish_fail else F.lit(False)
        )
        with_ids = with_ids.withColumn("_pub_fail", pub_fail_cond)
        # Gate/write coherence (r4/r5 verdict #3): the injected failure
        # predicate is evaluated ONCE and pinned, so the response
        # channel, the publish filter, and the gate counts below all
        # see the same verdict even for a NONDETERMINISTIC predicate
        # (fault-injection harnesses use rand()).  Without the pin,
        # each consumer branch would re-evaluate the predicate and
        # could disagree.  Skipped when no predicate is injected —
        # lit(False) is deterministic and the hot path stays lazy.
        if self.publish_fail is not None:
            with_ids = with_ids.localCheckpoint()
            pins.append(with_ids)
        responses = (
            corrupt.select(
                F.lit(400).alias("status_code"),
                F.lit(None).cast("string").alias("order_id"),
                F.lit("MALFORMED_JSON").alias("reason"),
            )
            .unionByName(
                split.rejected.select(
                    F.lit(400).alias("status_code"),
                    F.lit(None).cast("string").alias("order_id"),
                    F.lit("VALIDATION").alias("reason"),
                )
            )
            .unionByName(
                with_ids.select(
                    F.when(F.col("_pub_fail"), F.lit(500))
                    .otherwise(F.lit(202))
                    .alias("status_code"),
                    F.when(~F.col("_pub_fail"), F.col("order_id")).alias("order_id"),
                    F.when(F.col("_pub_fail"), F.lit("PUBLISH_FAILURE")).alias(
                        "reason"
                    ),
                )
            )
        )
        published = (
            with_ids.filter(~F.col("_pub_fail"))
            .select("customer_id", "items", "timestamp", "attempts")
        )

        # ---- queue merge + processing-failure injection (T4) ----------
        queued = published.unionByName(self.pending_retries(before_batch=batch_id))
        fail_cond = self.process_fail(queued) if self.process_fail else F.lit(False)
        queued = queued.withColumn("_fail", fail_cond)
        # Same coherence pin as _pub_fail above: one evaluation feeds
        # to_dlq / to_retry / processable AND the gate counts, so a
        # nondeterministic process_fail cannot route one record into
        # two legs (or none).
        if self.process_fail is not None:
            queued = queued.localCheckpoint()
            pins.append(queued)
        failing = queued.filter(F.col("_fail"))
        to_dlq = failing.filter(F.col("attempts") >= MAX_RECEIVE_COUNT)
        to_retry = (
            failing.filter(F.col("attempts") < MAX_RECEIVE_COUNT)
            .select(
                "customer_id",
                "items",
                "timestamp",
                (F.col("attempts") + 1).alias("attempts"),
            )
        )
        processable = queued.filter(~F.col("_fail")).drop("_fail", "attempts")

        # ---- settle against the PRE-batch committed state -------------
        # Decisions are a deterministic function of (input, state before
        # this batch_id), so replays after any partial write re-derive
        # identical results.  The inventory is driver-local: read once
        # here, its next version computed on the driver below.
        inventory = self.current_inventory(before_batch=batch_id)
        orders = self.orders_table()
        _, res = run_checkout_batch(
            self.spark,
            processable,
            inventory=inventory,
            existing_orders=orders.filter(F.col("batch_id") < batch_id),
            mode=self.mode,
        )
        # Materialize ALL decisions in ONE pin before any write (T3:
        # decide, then apply).  The settlement is a lazy plan over the
        # very directories the writes below mutate, and Spark
        # invalidates caches by path on write (recacheByPath) — so a
        # plain cache() would silently recompute it AFTER the orders
        # append and see its own batch.  localCheckpoint cuts lineage,
        # pinning the pre-batch snapshot; every sink below is a narrow
        # projection of it.  ``_in_table`` flags orders already in the
        # FULL table (INSERT IGNORE), so a replay after a completed
        # append appends nothing.
        decided = res.orders.withColumn(
            "_in_table", F.col("order_id").isin(orders.select("order_id"))
        ).localCheckpoint()
        pins.append(decided)
        orders_out = (
            decided.filter(~F.col("_in_table"))
            .drop("consumed", "_in_table")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        processed = decided.select(*PROCESSED_EVENT_COLUMNS)
        notify = processed.filter(F.col("status") == "PROCESSED").select(
            "order_id", "customer_id", "status"
        )
        bad = (
            split.rejected.select(
                F.lit("VALIDATION").alias("reason"),
                F.to_json(F.struct("customer_id", "items", "timestamp")).alias(
                    "payload"
                ),
                F.lit(None).cast("long").alias("attempts"),
            )
            .unionByName(
                corrupt.select(
                    F.lit("MALFORMED_JSON").alias("reason"),
                    F.col("_corrupt_record").alias("payload"),
                    F.lit(None).cast("long").alias("attempts"),
                )
            )
            .unionByName(
                to_dlq.select(
                    F.lit("PROCESSING_FAILURE").alias("reason"),
                    F.to_json(F.struct("customer_id", "items", "timestamp")).alias(
                        "payload"
                    ),
                    F.col("attempts"),
                )
            )
        )

        # ---- one collect gates every write and prices the inventory ---
        # Every leg is a narrow (k, product_id, n) projection of the pin
        # or the cached batch, so ONE group-by over their union is one
        # shuffle: two jobs under AQE (map stage + result), where a
        # union of per-sink aggregates costs a map-stage job per leg.
        # The _in legs fingerprint the batch INPUT (row count +
        # order-free crc32 checksum over the raw rows) for the
        # stale-checkpoint guard below; the consumed leg is the stock
        # each product gave up to this batch's decisions.
        one, no_product = F.lit(1).cast("long"), F.lit(None).cast("string")
        legs = [
            df.select(F.lit(k).alias("k"), no_product.alias("product_id"), n.alias("n"))
            for k, df, n in [
                ("_in_rows", batch_df, one),
                ("_in_crc", batch_df, F.crc32(F.to_json(F.struct("*")))),
                ("orders", orders_out, one),
                ("processed", processed, one),
                ("notify", notify, one),
                ("bad", bad, one),
                ("responses", responses, one),
            ]
        ]
        legs.append(
            decided.select(F.lit("consumed").alias("k"), F.inline("consumed"))
            .withColumnRenamed("quantity", "n")
        )
        summary = functools.reduce(DataFrame.unionByName, legs)
        tally = summary.groupBy("k", "product_id").agg(F.sum("n")).collect()
        gate = Counter({k: n for k, _, n in tally if k != "consumed"})
        consumed = Counter({pid: n for k, pid, n in tally if k == "consumed"})

        # Stale-restart guard, part 2 (r3 advisor finding): ids alone
        # cannot catch a lost checkpoint over a SINGLE-batch history
        # (max committed v0, restart at batch 0) — a legitimate replay
        # re-runs the same id too.  The input fingerprint separates the
        # two: a replay re-delivers the same rows (idempotent rewrite,
        # allowed); a fresh run with NEW input over committed state is
        # a reset checkpoint (refused).  Missing metadata (pre-upgrade
        # state, crash before meta write) degrades to the id-only
        # check.
        fp = {"rows": gate["_in_rows"], "crc": gate["_in_crc"]}
        # Leading underscore: Spark's file index treats _-prefixed
        # files as metadata and skips them when reading the parquet dir.
        meta_path = os.path.join(
            self.inv_root, f"v{batch_id}", "_batch_meta.json"
        )
        if batch_id in committed and os.path.exists(meta_path):
            with open(meta_path) as fh:
                prior = json.load(fh)
            if prior != fp:
                raise RuntimeError(
                    f"batch_id {batch_id} is already committed with a "
                    f"DIFFERENT input (committed {prior}, offered {fp}): "
                    "the streaming checkpoint was lost or reset while "
                    "state_dir survived; refusing to overwrite committed "
                    "state (delete state_dir to restart clean)"
                )

        # ---- idempotent writes (each safe to repeat, any crash point) --
        # 1. Versioned state first (inventory, retry): overwrite of
        #    v{batch_id} + _SUCCESS marker = atomic publish; written
        #    unconditionally so a replayed batch always reconverges.
        new_inventory = local_frame(
            self.spark,
            [(pid, name, q - consumed[pid]) for pid, name, q in inventory.collect()],
            INVENTORY_SCHEMA,
        )
        new_inventory.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.inv_root, f"v{batch_id}")
        )
        # Input fingerprint rides in the committed version dir (the
        # overwrite above cleared any prior copy; the guard read it
        # before processing started).  Crash before this write →
        # missing meta → the guard degrades to the id-only check.
        with open(meta_path, "w") as fh:
            json.dump(fp, fh)
        to_retry.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.retry_root, f"v{batch_id}")
        )
        if self._crash_after == "state":
            raise RuntimeError("injected crash after state writes")
        # 2. Orders append (INSERT IGNORE semantics via _in_table).
        if gate["orders"] > 0:
            orders_out.write.mode("append").parquet(self.orders_dir)
        if self._crash_after == "orders":
            raise RuntimeError("injected crash after orders append")
        # 3. Per-batch partitions, overwritten: events / quarantine /
        #    responses replay as exact rewrites.  Empty partitions are
        #    skipped — decisions are deterministic, so a replay could
        #    only ever rewrite identical content, and an all-empty
        #    parquet root breaks schema inference for readers.
        if gate["processed"] > 0:
            processed.write.mode("overwrite").parquet(
                os.path.join(self.events_dir, f"batch_id={batch_id}")
            )
        if gate["bad"] > 0:
            bad.write.mode("overwrite").parquet(
                os.path.join(self.quarantine_dir, f"batch_id={batch_id}")
            )
        if gate["responses"] > 0:
            responses.write.mode("overwrite").parquet(
                os.path.join(self.responses_dir, f"batch_id={batch_id}")
            )
        # 4. Notifications (P4/P5): the reference notifier is
        #    fire-and-forget — at-least-once, errors swallowed
        #    (notification_sender/app.py:24-26).
        try:
            if gate["notify"] > 0:
                notify.write.mode("append").parquet(self.notify_dir)
        except Exception:
            pass  # notifier swallows (notification_sender/app.py:24-26)

    # -- wiring ----------------------------------------------------------

    def source(self, input_dir: str) -> DataFrame:
        from .sources import order_stream_source

        # One micro-batch per file mirrors discrete SQS receive batches;
        # swap kind="kafka"/"rate" via order_stream_source for other
        # edges — process_batch is source-agnostic (WIRE_SCHEMA contract).
        return order_stream_source(self.spark, "file", path=input_dir)

    def run_available(self, input_dir: str) -> None:
        """Process everything currently in input_dir, then stop
        (availableNow trigger — the batch-replay entry point)."""
        q = (
            self.source(input_dir)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """True streaming windowed aggregation (T6/T7): parquet stream →
    watermark → tumbling 1h counts. Used by the batch/stream
    equivalence test; at scale this is the standing dashboard query."""
    configure(spark)
    reader = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)
    # Watermarks require TIMESTAMP (instant) semantics; with the session
    # pinned to UTC the cast preserves wall clock, and we project the
    # window start back to NTZ for engine-wide consistency.
    return (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            "event_type",
            "n",
        )
    )


def streaming_purchase_enrichment(
    spark: SparkSession, events_dir: str, join_window: str = "1 hour"
) -> DataFrame:
    """Stream-stream equi-join with watermarks (T6/J2's true streaming
    form): purchases joined to the same user's signups within a time
    window.  Both sides carry watermarks so the join state is bounded —
    the 100 TB requirement for any standing stream-stream join.
    """
    configure(spark)

    def src():
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, "
                "event_type string, value double, props string"
            )
            .parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    signups = (
        src()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "2 hours")
    )
    return purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {join_window}")),
        "inner",
    ).select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "signup_id",
        F.col("signup_ts").cast("timestamp_ntz").alias("signup_ts"),
        "value",
    )


def streaming_dedup_within_watermark(
    spark: SparkSession, events_dir: str, delay: str = "2 hours"
) -> DataFrame:
    """In-stream keyed dedup with bounded state (T2's scalable mode):
    dropDuplicatesWithinWatermark keeps the seen-set only within the
    watermark delay — the documented divergence from the reference's
    unbounded PK dedup, for streams where keys can't recur later than
    the delay."""
    configure(spark)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return (
        stream.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
        )
    )
