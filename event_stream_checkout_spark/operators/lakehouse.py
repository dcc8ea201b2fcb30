"""Lakehouse-maintenance operators, wave 5: CDC changelog
materialization, incremental rollup (materialized-view) maintenance,
bloom-style pre-filtered shuffle joins, and the time-bounded
stream-stream interval join.

These generalize the reference's mutate-in-MySQL maintenance loops
(``/root/reference/src/order_processor/app.py:63-119`` row-at-a-time
UPDATE/INSERT; ``db/init_schema.sql``) to the patterns a lake-scale
deployment actually runs: apply a changelog as one set-oriented merge,
maintain a rollup from deltas without rescanning the base, and prune a
shuffle join's big side before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import epoch_seconds
from ..functions.numeric import dsum, sql_dsum
from ..registry import register
from ..tables import load_table


# ---------------------------------------------------------------------------
# CDC changelog materialization
# ---------------------------------------------------------------------------

@register(
    "cdc_apply",
    oracle="WITH ranked AS (SELECT user_id, ts, event_id, event_type, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
    " AS rn, CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_versions"
    " FROM events) "
    "SELECT user_id, n_versions, ts AS last_ts, "
    "value AS last_value FROM ranked "
    "WHERE rn = 1 AND event_type <> 'error'",
    doc="CDC changelog materialization (S14): the event stream is read "
    "as a keyed changelog — every event upserts the user's state, an "
    "'error' event is a delete tombstone — and the LATEST surviving "
    "version per key is materialized in one pass. This is the "
    "set-oriented form of the reference's per-row UPDATE loop "
    "(src/order_processor/app.py:85-90) and the core of any MERGE/"
    "compaction job. Engine shape: one groupBy(user_id) with "
    "max_by(payload, (ts, event_id)) — an orderable-struct argmax that "
    "gets map-side partial aggregation, so the shuffle carries one "
    "candidate per key per map partition, not the full changelog "
    "(a window row_number=1 would shuffle every version). Tombstones "
    "are filtered AFTER the argmax: a key whose last write is a delete "
    "disappears, exactly MERGE ... WHEN MATCHED AND op='D' THEN DELETE.",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_materialize(load_table(spark, sf_dir, "events"))


def cdc_materialize(e: DataFrame) -> DataFrame:
    """Latest-surviving-version materialization of an events-shaped
    changelog frame (factored out so ``snapshot_diff`` can materialize
    two time-bounded snapshots with the same argmax plan)."""
    payload = F.struct(
        F.col("event_type").alias("event_type"),
        F.col("value").alias("value"),
    )
    seq = F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("event_id"))
    latest = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.max_by(payload, seq).alias("_last"),
        F.max(seq).alias("_seq"),
    )
    return latest.filter(F.col("_last.event_type") != "error").select(
        "user_id",
        "n_versions",
        F.col("_seq.ts").alias("last_ts"),
        # Pass-through double, no accumulation → bit-identical across
        # engines without quantization.
        F.col("_last.value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------

# The rollup is keyed by month; the delta window is the base/delta
# boundary a daily ingest would use.  A fixed literal keeps the split
# deterministic AND partition-prunable (the delta scan reads only
# post-cutoff files at 100 TB; the base is the standing rollup).
_MV_CUTOFF = "DATE '2001-06-01'"


@register(
    "agg_incremental_mv",
    # The oracle recomputes the rollup FROM SCRATCH over the full
    # table.  The engine instead merges a base rollup (pre-cutoff) with
    # a delta rollup (post-cutoff) through the aggregates' merge
    # algebra — the hash-match proves the incremental-maintenance
    # algebra (count/sum add, max folds) equals recompute.
    oracle="SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, "
    "CAST(count(*) AS BIGINT) AS n_orders, "
    f"{sql_dsum('o_totalprice')} AS revenue, "
    "max(o_totalprice) AS max_price "
    "FROM orders GROUP BY 1",
    doc="Incremental materialized-view maintenance (A11): a monthly "
    "revenue rollup is maintained as base ⊕ delta instead of "
    "recomputed — base aggregates orders before the cutoff (the "
    "standing MV), delta aggregates the new partition only, and the "
    "two merge through each aggregate's combine function (counts and "
    "sums add; max takes max). The driver's oracle recomputes from "
    "scratch, so the green hash IS the proof that the merge algebra "
    "is lossless. At 100 TB the delta scan partition-prunes to the "
    "new files and the merge groupBy touches #months × 2 rows — the "
    "base corpus is never rescanned. Generalizes the reference's "
    "running inventory maintenance (UPDATE inventory SET quantity = "
    "quantity - %s, src/order_processor/app.py:85) from one counter "
    "to a full rollup.",
    builds_store=True,
)
def q_agg_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").cast("date").alias("month")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
            F.max("o_totalprice").alias("max_price"),
        )

    base = rollup(o.filter(F.expr(f"o_orderdate < {_MV_CUTOFF}")))
    delta = rollup(o.filter(F.expr(f"o_orderdate >= {_MV_CUTOFF}")))
    # Merge step: the partial rollups combine through the aggregates'
    # own merge functions.  dsum's quantized doubles add exactly
    # (scaled integers), so base+delta is bit-equal to recompute.
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            dsum("revenue").alias("revenue"),
            F.max("max_price").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-style pre-filtered shuffle join
# ---------------------------------------------------------------------------

# Membership filter = bits/64 longs keyed by word index.  The build
# side distinct-collapses to (word, mask) rows — broadcast — and the
# probe side evaluates (mask >> bit) & 1 scan-local, BEFORE its
# shuffle for the exact join.  False-positive rate is roughly
# build-cardinality/bits per probe row (single hash); the EXACT join
# above removes every false positive, so the filter is a pure plan
# optimization with zero semantic footprint — which is why the oracle
# is the plain join.
#
# Sizing (ADVICE.md r7): a FIXED bit count saturates once the build
# side reaches a few thousand distinct keys (~every bit set, prune
# passes everything) — so ``sized_bloom_bits`` derives the bit count
# from the build-side cardinality with ``_BLOOM_HEADROOM``x headroom,
# rounded up to a power of two (pmod stays cheap, word layout stays
# aligned) and clamped to [_BLOOM_BITS_MIN, _BLOOM_BITS_MAX].  At the
# max (2^22 bits = 64 Ki words = 512 KiB of longs) the broadcast is
# still trivially small; beyond ~0.5 M build keys the expected prune
# rate degrades gracefully (documented saturation, n/bits per row)
# and Spark's own runtime bloom rewrite or a semi-join is the better
# tool.
_BLOOM_BITS_MIN = 4096
_BLOOM_BITS_MAX = 1 << 22
_BLOOM_HEADROOM = 8


def sized_bloom_bits(n_keys: int) -> int:
    bits = _BLOOM_BITS_MIN
    while bits < n_keys * _BLOOM_HEADROOM and bits < _BLOOM_BITS_MAX:
        bits <<= 1
    return bits


def membership_filter(
    keys: DataFrame, key_col: str, bits: int = _BLOOM_BITS_MIN
) -> DataFrame:
    """(word, mask) bitmap of ``pmod(xxhash64(key), bits)`` —
    ≤ bits/64 rows."""
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(bits))
    return (
        keys.select(bucket.alias("_bucket"))
        .distinct()
        .groupBy((F.col("_bucket") / 64).cast("long").alias("_word"))
        # SQL shiftleft accepts column bit counts (the python wrapper
        # F.shiftleft wants a literal int).
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(_bucket % 64 AS INT))")
            ).alias("_mask")
        )
    )


def bloom_prune(
    probe: DataFrame,
    probe_col: str,
    filt: DataFrame,
    bits: int = _BLOOM_BITS_MIN,
) -> DataFrame:
    """Scan-local membership prefilter on ``probe`` (broadcast bitmap
    join + bit test); keeps all true members plus ~n_keys/bits noise.
    ``bits`` must match the value the filter was built with."""
    bucket = F.pmod(F.xxhash64(F.col(probe_col)), F.lit(bits))
    probed = probe.withColumn("_word", (bucket / 64).cast("long")).withColumn(
        "_bit", (bucket % 64).cast("int")
    )
    return (
        probed.join(F.broadcast(filt), "_word")
        .filter(F.expr("(shiftright(_mask, _bit) & 1) = 1"))
        .drop("_word", "_bit", "_mask")
    )


@register(
    "join_bloom_prune",
    oracle="WITH elig AS (SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE o_totalprice > 400000) "
    "SELECT e.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
    f"{sql_dsum('l.l_extendedprice')} AS revenue "
    "FROM lineitem l JOIN elig e ON l.l_orderkey = e.o_orderkey "
    "GROUP BY 1",
    doc="Bloom-pruned shuffle join (J8): when BOTH join sides are too "
    "big to broadcast, the selective side's keys are compressed into "
    "a membership bitmap (bits/64 rows — broadcast for free) and the "
    "big probe side is filtered scan-local BEFORE its exchange; the "
    "exact join then removes the bitmap's false positives, so the "
    "result is bit-identical to the plain join (the oracle IS the "
    "plain join). This is Spark's runtime-bloom-filter rewrite made "
    "explicit and portable: with orders filtered to >400k total price "
    "(~2% of keys), ~97% of lineitem rows never enter the shuffle. "
    "The bitmap is SIZED from the build side's measured cardinality "
    "(approx_count_distinct scalar — one column-pruned pass over the "
    "small side) with 8x headroom, ADVICE.md r7: a fixed 4096-bit map "
    "saturates at a few thousand build keys and prunes nothing; sized "
    "bits keep the expected pass-through rate <=1/8 up to the 2^22 "
    "clamp (512 KiB broadcast), beyond which saturation is gradual "
    "and documented (n/bits per probe row). Plan contract "
    "(tests/test_plan_contracts.py) pins the bit-test filter below "
    "the exchange on the probe side.",
)
def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    elig = o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderpriority"
    )
    n_keys = elig.agg(
        F.approx_count_distinct("o_orderkey").alias("n")
    ).first()["n"]
    bits = sized_bloom_bits(n_keys)
    filt = membership_filter(elig, "o_orderkey", bits)
    pruned = bloom_prune(
        li.select("l_orderkey", "l_extendedprice"), "l_orderkey", filt, bits
    )
    # Exact join: false positives from the 4096-bit filter die here.
    # hint("merge") pins a shuffle join so the contract "prefilter sits
    # below the exchange" is what actually executes (at sf0.01 AQE
    # would happily broadcast elig and erase the scenario being
    # modeled: two above-broadcast-threshold sides).
    joined = pruned.join(
        elig.hint("merge"), pruned.l_orderkey == elig.o_orderkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (batch-graded analogue)
# ---------------------------------------------------------------------------

_INTERVAL_MIN = 30  # purchase within 30 minutes of the view


@register(
    "stream_interval_join",
    oracle="SELECT v.user_id, v.event_id AS view_id, "
    "p.event_id AS purchase_id, v.ts AS view_ts, p.ts AS purchase_ts, "
    "CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS lag_s "
    "FROM events v JOIN events p ON v.user_id = p.user_id "
    "AND v.event_type = 'view' AND p.event_type = 'purchase' "
    "AND p.ts > v.ts "
    f"AND p.ts <= v.ts + INTERVAL {_INTERVAL_MIN} MINUTE",
    doc="Stream-stream interval join (T9): view events correlate with "
    "purchase events of the same user within 30 minutes — the "
    "attribution join every funnel metric needs, and THE canonical "
    "Structured Streaming stream-stream join (equi-key + bounded "
    "time range is exactly what lets both sides' state be watermark-"
    "evicted; an unbounded-time join would buffer forever). Graded "
    "here in batch form — one hash exchange per side on user_id, the "
    "range predicate evaluated post-join inside codegen. Output size "
    "per user is (views in a 30-min window) × (purchases in that "
    "window) — bounded by event RATE within the range bound, never "
    "by history length; that rate bound is also what lets the "
    "streaming form cap its buffered state. The real "
    "two-readStream form with both watermarks runs in "
    "tests/test_streaming.py::test_stream_stream_interval_join and is "
    "asserted row-identical to this batch frame.",
    builds_store=True,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = v.join(p, "user_id").filter(
        (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {_INTERVAL_MIN} MINUTES")
        )
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            epoch_seconds(F.col("purchase_ts")) - epoch_seconds(F.col("view_ts"))
        ).alias("lag_s"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (time-travel compare)
# ---------------------------------------------------------------------------

_SNAP_T1 = "TIMESTAMP '2024-01-20 00:00:00'"

_SQL_CDC_SNAP = (
    "(SELECT user_id, n_versions, last_value FROM ("
    "SELECT user_id, event_type, value AS last_value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
    " AS rn, CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_versions"
    " FROM events WHERE {pred}) WHERE rn = 1 AND event_type <> 'error')"
)


@register(
    "snapshot_diff",
    oracle="WITH s1 AS "
    + _SQL_CDC_SNAP.format(pred=f"ts < {_SNAP_T1}")
    + ", s2 AS "
    + _SQL_CDC_SNAP.format(pred="TRUE")
    + " SELECT COALESCE(s1.user_id, s2.user_id) AS user_id, "
    "CASE WHEN s1.user_id IS NULL THEN 'added' "
    "WHEN s2.user_id IS NULL THEN 'removed' ELSE 'updated' END AS change, "
    "s1.last_value AS old_value, s2.last_value AS new_value "
    "FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id "
    "WHERE s1.user_id IS NULL OR s2.user_id IS NULL "
    "OR s1.last_value <> s2.last_value OR s1.n_versions <> s2.n_versions",
    doc="Snapshot diff / time-travel compare (S15): materialize the "
    "CDC state as of T1 and as of now with the same argmax plan "
    "(cdc_materialize over a time-bounded scan — at 100 TB the T1 "
    "snapshot partition-prunes to pre-cutoff files), then FULL OUTER "
    "join the two #keys-sized states to emit added / removed / "
    "updated keys with old and new values. This is how you audit "
    "what a day of ingest actually changed without storing per-key "
    "history — the lakehouse answer to the reference's 'check the "
    "orders table after the run' verification loop "
    "(src/order_processor/check_db.py:33-43). 'updated' compares "
    "value AND version count, so same-value rewrites (an upsert that "
    "touched the key) still surface. Both snapshots shuffle once on "
    "user_id and the diff join reuses that partitioning.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s1 = cdc_materialize(e.filter(F.expr(f"ts < {_SNAP_T1}"))).select(
        F.col("user_id").alias("u1"),
        F.col("n_versions").alias("v1"),
        F.col("last_value").alias("old_value"),
    )
    s2 = cdc_materialize(e).select(
        F.col("user_id").alias("u2"),
        F.col("n_versions").alias("v2"),
        F.col("last_value").alias("new_value"),
    )
    j = s1.join(s2, s1.u1 == s2.u2, "full_outer")
    change = (
        F.when(F.col("u1").isNull(), F.lit("added"))
        .when(F.col("u2").isNull(), F.lit("removed"))
        .otherwise(F.lit("updated"))
    )
    return (
        j.filter(
            F.col("u1").isNull()
            | F.col("u2").isNull()
            | (F.col("old_value") != F.col("new_value"))
            | (F.col("v1") != F.col("v2"))
        )
        .select(
            F.coalesce("u1", "u2").alias("user_id"),
            change.alias("change"),
            "old_value",
            "new_value",
        )
    )


# ---------------------------------------------------------------------------
# T12: stream-stream LEFT OUTER interval join (watermark-expired NULLs)
# ---------------------------------------------------------------------------


@register(
    "stream_interval_join_outer",
    oracle="SELECT v.user_id, v.event_id AS view_id, "
    "p.event_id AS purchase_id, v.ts AS view_ts, p.ts AS purchase_ts, "
    "CASE WHEN p.event_id IS NULL THEN NULL ELSE "
    "CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) END "
    "AS lag_s "
    "FROM (SELECT * FROM events WHERE event_type = 'view') v "
    "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p "
    "ON v.user_id = p.user_id AND p.ts > v.ts "
    f"AND p.ts <= v.ts + INTERVAL {_INTERVAL_MIN} MINUTE",
    doc="Stream-stream LEFT OUTER interval join (T12): every view, "
    "with its in-window purchases OR a NULL purchase row if none "
    "arrived within 30 minutes — the abandonment report T9's inner "
    "form cannot express (the views that did NOT convert are exactly "
    "the rows an inner join drops). This is the OTHER canonical "
    "Structured Streaming stream-stream join: outer results can only "
    "emit once the watermark passes view_ts + 30min (before that, a "
    "match could still arrive), so the unmatched-row latency IS the "
    "range bound plus watermark delay — the price of correctness "
    "under late data, paid in emission delay rather than wrong "
    "answers. Graded in batch form (one user_id exchange per side, "
    "the range predicate in the JOIN condition — on the LEFT side it "
    "must live in ON, not WHERE, or unmatched views vanish); the "
    "real two-readStream leftOuter form with both watermarks runs in "
    "tests/test_streaming.py and is asserted row-identical. State "
    "bound: identical to T9 — both sides evict at watermark minus "
    "the range bound; outer emission adds no state, only delay.",
    builds_store=True,
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts")
            + F.expr(f"INTERVAL {_INTERVAL_MIN} MINUTES")
        ),
        "left",
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        F.when(
            F.col("purchase_id").isNotNull(),
            epoch_seconds(F.col("purchase_ts"))
            - epoch_seconds(F.col("view_ts")),
        ).alias("lag_s"),
    )
