"""Scale-path features: true streaming keyed state (T1) and bucketed
co-located joins (the shuffle-elimination strategy for repeated
fact-fact joins at 100 TB)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_streaming_inventory_ledger(spark, tmp_path):
    """transformWithStateInPandas: per-key state persists across
    micro-batches; greedy fold matches the batch replay semantics."""
    from event_stream_checkout_spark.streaming.stateful import (
        inventory_ledger_stream,
    )

    items_dir = tmp_path / "items"
    items_dir.mkdir()

    def write(name, rows):
        with open(items_dir / name, "w") as f:
            for pid, seq, q, ts in rows:
                f.write(
                    json.dumps(
                        {
                            "product_id": pid,
                            "event_seq": seq,
                            "quantity": q,
                            "ts": ts,
                        }
                    )
                    + "\n"
                )

    # Batch 1: prod-105 stock 5 → take 4, then 3 fails, 1 succeeds.
    write(
        "b1.json",
        [
            ("prod-105", 1, 4, "2024-01-01T12:00:00.000000"),
            ("prod-105", 2, 3, "2024-01-01T12:00:01.000000"),
            ("prod-105", 3, 1, "2024-01-01T12:00:02.000000"),
            ("prod-999", 4, 1, "2024-01-01T12:00:03.000000"),  # unknown
        ],
    )
    # Batch 2 (separate file → separate micro-batch): state carried.
    write(
        "b2.json",
        [
            ("prod-105", 5, 1, "2024-01-01T12:05:00.000000"),  # 0 left → fail
            ("prod-101", 6, 2, "2024-01-01T12:05:01.000000"),  # 50 → 48
        ],
    )

    q = (
        inventory_ledger_stream(spark, str(items_dir))
        .writeStream.format("memory")
        .queryName("ledger")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["event_seq"]: (r["item_ok"], r["remaining"])
        for r in spark.sql("SELECT * FROM ledger").collect()
    }
    assert rows[1] == (True, 1)
    assert rows[2] == (False, 1)
    assert rows[3] == (True, 0)
    assert rows[4] == (False, -1)   # unknown product: insufficient
    assert rows[5] == (False, 0)    # state survived the batch boundary
    assert rows[6] == (True, 48)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both sides of a repeated join key co-locates matching
    rows at write time: the join plans with zero Exchange operators —
    the 100 TB strategy for fact-fact joins that recur on one key."""
    from tests.conftest import SF_DIR

    # warehouse dir is a static conf — place the tables explicitly.
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").option("path", str(tmp_path / "li")).saveAsTable(
        "li_bucketed"
    )
    spark.read.parquet(f"{SF_DIR}/orders.parquet").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").option("path", str(tmp_path / "ord")).saveAsTable(
        "ord_bucketed"
    )

    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed")
    joined = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    ).groupBy("o_orderstatus").agg(F.sum("l_quantity").alias("q"))

    plan = joined._jdf.queryExecution().executedPlan().toString()
    # The join itself must not shuffle: matching buckets are read
    # co-located. (The tiny groupBy afterwards may exchange.)
    join_part = plan[: plan.find("HashAggregate")] if "HashAggregate" in plan else plan
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan

    # And the result matches the unbucketed join.
    expected = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, expected.collect())
    )
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_salted_aggregation_matches_direct(spark):
    """Skew mitigation by salting: a hot grouping key is split across
    N salt shards for the partial aggregate, then the shards merge in
    a second (tiny) aggregate. Results must equal the direct groupBy;
    at 100 TB this caps any single reducer's input at ~1/N of the hot
    key. (AQE's skewJoin handles skewed JOINS automatically; salting
    is the manual lever for skewed AGGREGATIONS.)"""
    from tests.conftest import SF_DIR
    from event_stream_checkout_spark.functions.numeric import quant

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # Synthesize a 90%-hot key from event_id.
    skewed = e.withColumn(
        "hot_key",
        F.when(F.col("event_id") % 10 < 9, F.lit("HOT")).otherwise(
            (F.col("event_id") % 10).cast("string")
        ),
    )
    direct = skewed.groupBy("hot_key").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(quant("value")).cast("double") / 10000.0).alias("total"),
    )
    salted = (
        skewed.withColumn("_salt", F.col("event_id") % 16)
        .groupBy("hot_key", "_salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(quant("value")).alias("pt"),
        )
        .groupBy("hot_key")
        .agg(
            F.sum("pn").alias("n"),
            (F.sum("pt").cast("double") / 10000.0).alias("total"),
        )
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_take_stock_in_order_is_arrow_batch_size_invariant(spark):
    """The per-product stock-take kernel carries a product's stock
    across Arrow batch boundaries: at 1, 3 and 7 rows per batch (every
    product spans several batches, and batches mix products), and over
    7 uncoalesced shuffle partitions, the output equals the default
    batch size's and a pure ``take_stock`` model's."""
    from event_stream_checkout_spark.pipeline import (
        take_stock,
        take_stock_in_order,
    )
    from tests.conftest import ARROW_BATCH_ROWS, spark_confs

    rows = []
    eid = 0
    for pid, n in [("p1", 17), ("p2", 5), ("p3", 1)]:
        for i in range(n):
            eid += 1
            # quantities that force a mix of ok and failed items
            rows.append((pid, eid, eid * 10, (eid * 7) % 9))
    items = spark.createDataFrame(
        rows, "product_id string, event_id long, item_ts long, quantity long"
    )
    stock = {"p1": 30, "p2": 10}
    stock_df = spark.createDataFrame(
        list(stock.items()), "product_id string, _stock long"
    )

    def run():
        out = take_stock_in_order(items, stock_df, ["item_ts", "event_id"])
        return sorted(map(tuple, out.collect()))

    model = []
    for pid in ("p1", "p2", "p3"):
        run_rows = sorted((r for r in rows if r[0] == pid), key=lambda r: r[2])
        oks, after = take_stock([r[3] for r in run_rows], stock.get(pid, -1))
        model += [
            (*r, rn, ok, a)
            for rn, (r, ok, a) in enumerate(zip(run_rows, oks, after), start=1)
        ]
    default = run()
    assert default == sorted(model)
    for n in (1, 3, 7):
        with spark_confs(spark, {ARROW_BATCH_ROWS: str(n)}):
            assert run() == default, n
    uncoalesced = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
        ARROW_BATCH_ROWS: "7",
    }
    with spark_confs(spark, uncoalesced):
        assert run() == default
    # p3 has no stock row: every item fails with remaining == -1.
    p3 = [r for r in default if r[0] == "p3"]
    assert p3 and all(not r[5] and r[6] == -1 for r in p3)


def test_connected_components_fixpoint_resolves_chains(spark):
    """Min-label propagation must iterate to fixpoint: a chained
    duplicate component (path graph, diameter 5) collapses to ONE
    group — a fixed 2-round unroll would leave it fragmented."""
    from event_stream_checkout_spark.operators.llm_advanced import (
        _connected_components,
    )

    path = [(i, i + 1) for i in range(1, 6)]  # 1-2-3-4-5-6
    undirected = (
        path
        + [(b, a) for a, b in path]
        + [(i, i) for i in range(1, 7)]
        + [(10, 10), (11, 11), (10, 11), (11, 10)]  # separate 2-clique
    )
    edges = spark.createDataFrame(undirected, "src long, dst long")
    labels = {
        r["doc_id"]: r["label"] for r in _connected_components(edges).collect()
    }
    assert all(labels[i] == 1 for i in range(1, 7))
    assert labels[10] == labels[11] == 10


def test_resize_and_frame_sample_stubs():
    """Media stubs honor the build contract: NotImplementedError on the
    real path, deterministic doubles behind fake=True."""
    from event_stream_checkout_spark.operators.multimodal import (
        resize_image,
        sample_frames,
    )

    with pytest.raises(NotImplementedError):
        resize_image(b"img", 8, 8)
    with pytest.raises(NotImplementedError):
        sample_frames(b"vid")
    out = resize_image(b"imgdata", 16, 16, fake=True)
    assert isinstance(out, bytes) and len(out) == (16 * 16) // 8
    frames = sample_frames(("x" * 200).encode(), fake=True)
    # 200 chars → 4 frames of 64, sampled every 2nd → idx 0 and 2.
    assert [i for i, _ in frames] == [0, 2]
    assert len(frames[0][1]) == 64 and len(frames[1][1]) == 64


def test_ledger_stream_matches_batch_replay(spark, tmp_path):
    """T1 equivalence (r2 verdict ask): the TRUE-streaming inventory
    ledger (applyInPandasWithState — the operational stateful path in
    this environment) over the SAME derived item stream produces
    byte-identical per-item decisions to the batch
    ``state_inventory_replay`` operator (the sorted per-product
    ``take_stock_in_order`` fold), across a micro-batch boundary.

    When to prefer which (also in streaming/stateful.py): the ledger is
    the right primitive for a LIVE per-key stream — state is
    partitioned with the stream, O(1) per key, checkpointed
    incrementally, no history retained.  The batch replay is the
    right primitive for a bounded HISTORICAL fold — one sorted shuffle,
    no state store, and the whole history re-derives from inputs.
    Semantics are identical; this test pins that."""
    import pandas as pd  # noqa: F401

    from event_stream_checkout_spark.operators.checkout import (
        inventory,
        order_items,
        q_state_inventory_replay,
    )
    from event_stream_checkout_spark.streaming.stateful import (
        inventory_ledger_stream,
    )
    from tests.conftest import SF_DIR

    items = order_items(spark, SF_DIR).select(
        "product_id",
        F.col("event_id").alias("event_seq"),
        "quantity",
        F.col("item_ts").alias("ts"),
    )
    rows = items.collect()
    # Two files split on median ts → two micro-batches, state carried.
    rows.sort(key=lambda r: (r["ts"], r["event_seq"]))
    mid = rows[len(rows) // 2]["ts"]
    items_dir = tmp_path / "items"
    items_dir.mkdir()
    for name, part in (
        ("b1.json", [r for r in rows if r["ts"] <= mid]),
        ("b2.json", [r for r in rows if r["ts"] > mid]),
    ):
        with open(items_dir / name, "w") as f:
            for r in part:
                f.write(
                    json.dumps(
                        {
                            "product_id": r["product_id"],
                            "event_seq": r["event_seq"],
                            "quantity": r["quantity"],
                            "ts": r["ts"].isoformat(),
                        }
                    )
                    + "\n"
                )

    seed = {
        r["product_id"]: r["stock"]
        for r in inventory(spark, SF_DIR).collect()
    }
    q = (
        inventory_ledger_stream(spark, str(items_dir), seed=seed)
        .writeStream.format("memory")
        .queryName("ledger_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ledger = {
        r["event_seq"]: (bool(r["item_ok"]), int(r["remaining"]))
        for r in spark.sql("SELECT * FROM ledger_eq").collect()
    }

    replay = {
        r["event_id"]: (bool(r["item_ok"]), int(r["remaining_after"]))
        for r in q_state_inventory_replay(spark, SF_DIR).collect()
    }
    assert len(ledger) == len(replay) > 0
    assert ledger == replay


def _tws_usable() -> bool:
    from event_stream_checkout_spark.streaming.stateful import tws_available

    return tws_available()


@pytest.mark.skipif(
    not _tws_usable(),
    reason="transformWithStateInPandas needs a working google.protobuf "
    "(broken in this container); applyInPandasWithState is the "
    "operational path and is tested above",
)
def test_tws_ledger_matches_batch_replay(spark, tmp_path):
    """U5 via transformWithStateInPandas (r3 verdict ask #8): on an
    environment with working protobuf, the TWS form of the inventory
    ledger must produce the same per-item decisions as the batch
    replay — lights up automatically where supported, skips (visibly)
    where the state-server protocol can't run."""
    from event_stream_checkout_spark.operators.checkout import (
        inventory,
        order_items,
        q_state_inventory_replay,
    )
    from event_stream_checkout_spark.streaming.stateful import (
        inventory_ledger_stream_tws,
    )
    from tests.conftest import SF_DIR

    items = order_items(spark, SF_DIR).select(
        "product_id",
        F.col("event_id").alias("event_seq"),
        "quantity",
        F.col("item_ts").alias("ts"),
    )
    items_dir = tmp_path / "items"
    items_dir.mkdir()
    rows = sorted(items.collect(), key=lambda r: (r["ts"], r["event_seq"]))
    with open(items_dir / "b1.json", "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {
                        "product_id": r["product_id"],
                        "event_seq": r["event_seq"],
                        "quantity": r["quantity"],
                        "ts": r["ts"].isoformat(),
                    }
                )
                + "\n"
            )
    seed = {
        r["product_id"]: r["stock"]
        for r in inventory(spark, SF_DIR).collect()
    }
    q = (
        inventory_ledger_stream_tws(spark, str(items_dir), seed=seed)
        .writeStream.format("memory")
        .queryName("tws_ledger_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ledger = {
        r["event_seq"]: (bool(r["item_ok"]), int(r["remaining"]))
        for r in spark.sql("SELECT * FROM tws_ledger_eq").collect()
    }
    replay = {
        r["event_id"]: (bool(r["item_ok"]), int(r["remaining_after"]))
        for r in q_state_inventory_replay(spark, SF_DIR).collect()
    }
    assert len(ledger) == len(replay) > 0
    assert ledger == replay


def test_snk_bucketed_plan_has_no_join_exchange(spark):
    """The REGISTERED bucketed-join query must plan its join without
    shuffling either side (bucket-to-bucket SortMergeJoin); only the
    tiny 3-row status aggregate afterwards may exchange."""
    from event_stream_checkout_spark.operators.relational3 import (
        q_snk_bucketed,
    )
    from tests.conftest import SF_DIR

    df = q_snk_bucketed(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_min_scan_parallelism_is_conditional(spark):
    """The low-split repartition helper must fire only when the scan
    has fewer splits than the session parallelism — it is a local
    remedy for unsplittable inputs, and a no-op on an already-parallel
    frame (at 100 TB split count >> cores, so no shuffle is added)."""
    from event_stream_checkout_spark.tables import with_min_scan_parallelism
    from tests.conftest import SF_DIR

    target = spark.sparkContext.defaultParallelism
    one_split = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert one_split.rdd.getNumPartitions() < target
    widened = with_min_scan_parallelism(spark, one_split)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == one_split.count()

    already_wide = one_split.repartition(target + 7)
    untouched = with_min_scan_parallelism(spark, already_wide)
    assert untouched.rdd.getNumPartitions() == target + 7


def test_snk_partitioned_prunes(spark):
    """The date-partitioned read must plan with PartitionFilters on
    event_date and touch only the 3 matching date directories — the
    other 27 days never reach the scan."""
    from event_stream_checkout_spark.operators.relational3 import (
        q_snk_partitioned,
    )
    from tests.conftest import SF_DIR

    df = q_snk_partitioned(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:300]

    # Directory-level evidence: rebuild the pruned SCAN (input_file_name
    # is only meaningful before the aggregation shuffle) and confirm
    # only the 3 matching date directories are opened. The root comes
    # from the same helper the query writes through, so a tag change
    # can never silently point this leg at a stale layout.
    import re

    from event_stream_checkout_spark.operators.relational3 import (
        partitioned_root,
    )

    root = partitioned_root(SF_DIR)
    scan = spark.read.parquet(root).filter(
        F.col("event_date").cast("string").between("2024-01-10", "2024-01-12")
    )
    files = [r[0] for r in scan.select(F.input_file_name()).distinct().collect()]
    dates = {re.search(r"event_date=([0-9-]+)", f).group(1) for f in files}
    assert dates == {"2024-01-10", "2024-01-11", "2024-01-12"}


def test_aqe_splits_skewed_join(spark, tmp_path):
    """SCALE.md claims skewed JOIN keys are handled by AQE's skew-join
    splitting (no hand-salting needed on the join path). Demonstrate
    it: a join where one key holds ~90% of the left side, with the
    skew thresholds scaled down to test size, must execute with
    AQE marking the sort-merge join as skew=true — the oversized
    partition is split into parallel sub-partitions at runtime."""
    left_hot = spark.range(0, 60000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    left_cold = spark.range(0, 6000).select(
        F.concat(F.lit("c"), (F.col("id") % 600).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    right = (
        left_hot.select("k").distinct()
        .union(left_cold.select("k").distinct())
        .withColumn("w", F.length("k"))
    )
    left_path, right_path = str(tmp_path / "l"), str(tmp_path / "r")
    left_hot.union(left_cold).write.parquet(left_path)
    right.write.parquet(right_path)

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        # Force a shuffle join: broadcast would hide the skew path.
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Global aggregate after the join: a keyed groupBy(k) would
        # REUSE the join's hash distribution, and AQE (correctly)
        # refuses to split a skewed partition when that would force an
        # extra downstream shuffle (forceOptimizeSkewedJoin=false).
        joined = (
            spark.read.parquet(left_path)
            .join(spark.read.parquet(right_path).hint("merge"), "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        # Execute THIS Dataset's QueryExecution so the inspected plan is
        # AQE's final choice (a noop write spawns a separate one).
        rows = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in plan, plan[:2000]
        assert rows[0]["n"] == 66000  # split join still produces exact results
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zipf_settlement_semantics_and_skew_path(spark, tmp_path):
    """Zipf-skew settlement demo (r4/r5 verdict ask #9): a 90%-hot
    product catalog through the settlement body.

    1. SEMANTICS: run_checkout_batch(optimistic) under zipf equals an
       independent sequential prefix-demand oracle computed in pandas
       — skew changes nothing about the decisions.
    2. PLAN, default confs: the inventory join is a BroadcastHashJoin —
       the settlement's join leg is skew-IMMUNE by construction (the
       dim is broadcast, the hot key never shuffles); the only
       product-keyed exchanges are the window/consumed aggregation,
       whose per-key work is inherently sequential prefix math.
    3. PLAN, catalog-outgrows-broadcast fallback: the same zipf item
       frame joined to the catalog WITHOUT broadcast (thresholds
       scoped) must execute with AQE splitting the hot partition
       (skew=true) and identical row counts — the documented path when
       a real catalog no longer fits a broadcast."""
    import datetime as dt

    from event_stream_checkout_spark import pipeline as P

    n, hot_share = 66_000, 10 / 11
    n_hot = int(n * hot_share)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        pid = "prod-hot" if i < n_hot else f"prod-c{i % 200:03d}"
        rows.append(
            (
                f"cust-{i}",
                [(pid, (i % 3) + 1)],
                base + dt.timedelta(seconds=i),
            )
        )
    raw = spark.createDataFrame(
        rows,
        "customer_id string, items array<struct<product_id:string,"
        "quantity:long>>, timestamp timestamp_ntz",
    )
    # Stock covers roughly half the hot demand so both statuses occur
    # on the hot key; cold products settle everything.
    inv_rows = [("prod-hot", "Hot", (n_hot * 2) // 2)] + [
        (f"prod-c{c:03d}", "Cold", 10_000) for c in range(200)
    ]
    inventory = spark.createDataFrame(inv_rows, P.INVENTORY_SCHEMA)

    _, res = P.run_checkout_batch(
        spark, raw, inventory=inventory, mode="optimistic"
    )
    got_orders = res.orders.collect()
    got = {r["order_id"]: r["status"] for r in got_orders}
    plan = res.orders._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "inventory join must broadcast"

    # Independent oracle: sequential prefix-demand per product over the
    # T5 order (timestamp, order_id), computed driver-side in pandas.
    ids = (
        P.derive_order_ids(raw)
        .select(
            "order_id",
            "timestamp",
            F.col("items")[0]["product_id"].alias("product_id"),
            F.col("items")[0]["quantity"].alias("quantity"),
        )
        .toPandas()
        .sort_values(["timestamp", "order_id"], kind="stable")
    )
    stock = {p: q for p, _, q in inv_rows}
    running: dict[str, int] = {}
    want = {}
    for r in ids.itertuples():
        running[r.product_id] = running.get(r.product_id, 0) + r.quantity
        want[r.order_id] = (
            "PROCESSED"
            if running[r.product_id] <= stock.get(r.product_id, -1)
            else "FAILED"
        )
    assert len(got) == n and got == want

    inv_got = {
        r["product_id"]: r["quantity_available"]
        for r in res.inventory.collect()
    }
    consumed: dict[str, int] = {}
    for r in ids.itertuples():
        if want[r.order_id] == "PROCESSED":
            consumed[r.product_id] = consumed.get(r.product_id, 0) + r.quantity
    assert inv_got == {
        p: q - consumed.get(p, 0) for p, q in stock.items()
    }

    # 3. The no-longer-broadcastable catalog: the settlement's exploded
    # item frame (zipf) against the catalog as a shuffle join — AQE
    # must split the hot partition.
    items_path, cat_path = str(tmp_path / "items"), str(tmp_path / "cat")
    P.derive_order_ids(raw).select(
        "order_id",
        F.col("items")[0]["product_id"].alias("product_id"),
        F.col("items")[0]["quantity"].alias("quantity"),
    ).write.parquet(items_path)
    inventory.write.parquet(cat_path)
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.read.parquet(items_path)
            .join(spark.read.parquet(cat_path).hint("merge"), "product_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("quantity").alias("demand"),
                # Keep the wide order_id column alive through the join
                # shuffle (column pruning would otherwise shrink the
                # hot partition below realistic row width).
                F.max("order_id").alias("max_id"),
            )
        )
        out = joined.collect()
        skew_plan = joined._jdf.queryExecution().executedPlan().toString()
        skew_plan = skew_plan.split("== Initial Plan ==")[0]
        assert "skew=true" in skew_plan, skew_plan[:2000]
        assert out[0]["n"] == n  # split join, exact results
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_every_query_survives_empty_tables(spark, tmp_path):
    """Robustness sweep: every registered query must EXECUTE against a
    dataset where all 10 tables are empty (0 rows, correct schemas) —
    the local proxy for what a 100 TB run hits constantly: empty
    partitions, filters that eliminate everything, broadcast of empty
    dims, min/max aggregates over no rows. A query may legitimately
    return 0 rows; it may not throw."""
    import os

    import pyarrow.parquet as pq

    from event_stream_checkout_spark.registry import QUERIES, load_all
    from event_stream_checkout_spark.tables import TABLE_NAMES

    load_all()
    empty_dir = str(tmp_path / "empty")
    os.makedirs(empty_dir)
    for t in TABLE_NAMES:
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(
            schema.empty_table(), os.path.join(empty_dir, f"{t}.parquet")
        )

    failures = {}
    for key, q in QUERIES.items():
        try:
            q.fn(spark, empty_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = str(e).splitlines()[0][:200]
    assert not failures, failures


def test_contamination_cap_drops_stop_phrases(spark, tmp_path):
    """Semantic check of the decontamination df-cap (not just oracle
    parity): grams shared by MORE than _CONTAM_DF_CAP documents are
    stop-phrases and must not produce contamination flags; rare-gram
    overlap must still be flagged."""
    import os

    import pandas as pd

    from event_stream_checkout_spark.operators.llm_advanced import (
        _CONTAM_DF_CAP,
        q_llm_contamination,
    )

    # 5 words → 3 hot grams shared by ALL docs: without the cap every
    # corpus doc would clear the >=3 shared-grams threshold against
    # bench doc 0 purely on boilerplate.
    hot = "alpha beta gamma delta epsilon"
    rows = []
    # doc_id 0 is a bench doc (doc_id % 50 == 0); 1..n are corpus docs.
    for i in range(_CONTAM_DF_CAP + 4):
        rows.append((i, f"{hot} filler{i} junk{i} pad{i} tail{i}"))
    # One corpus doc shares 3 RARE grams with bench doc 0 on top of hot.
    rows.append(
        (7777, f"{hot} filler0 junk0 pad0 tail0")
    )
    pdf = pd.DataFrame(
        [
            (i, t, "en", "syn", len(t))
            for i, t in rows
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path / "sfx")
    os.makedirs(sf_dir)
    pdf.to_parquet(os.path.join(sf_dir, "documents.parquet"))

    flagged = {
        (r["doc_id"], r["bench_id"])
        for r in q_llm_contamination(spark, sf_dir).collect()
    }
    # Doc 7777 shares "gamma delta filler0", "delta filler0 junk0",
    # "filler0 junk0 pad0", ... with bench doc 0 — rare grams, flagged.
    assert (7777, 0) in flagged
    # Every other corpus doc shares ONLY the hot grams with doc 0
    # (df = 16 > cap) — the cap must suppress them all.
    assert flagged == {(7777, 0)}


def test_quantile_buckets_balanced_under_skew(spark):
    """O1b (r6 verdict item 4): sampled-quantile boundaries keep the
    two-pass sort's buckets balanced on a skewed value column, where
    equi-width min/max boundaries funnel ~everything into the densest
    bucket.  v = N/(id+1) is harmonic-density: half the values land in
    [1, 2], but all N values are distinct, so a quantile sketch can
    split them evenly."""
    from event_stream_checkout_spark.operators.relational import (
        quantile_bucketed,
    )

    n, nb = 20_000, 16
    df = spark.range(n).select(
        (F.lit(float(n)) / (F.col("id") + 1)).alias("v")
    )
    b = quantile_bucketed(df, "v", nb=nb, fraction=0.5)
    sizes = [
        r["c"]
        for r in b.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    assert len(sizes) == nb, sizes  # no empty buckets
    assert sum(sizes) == n
    assert max(sizes) <= 3 * min(sizes), sorted(sizes)

    # The problem being fixed: equi-width boundaries on the same column
    # put >90% of rows into one bucket.
    lo, hi = df.agg(F.min("v"), F.max("v")).first()
    width = (hi - lo) / nb
    eq = df.select(
        F.least(
            F.lit(nb - 1), F.floor((F.lit(hi) - F.col("v")) / width)
        ).alias("p")
    )
    esizes = [
        r["c"]
        for r in eq.groupBy("p").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    assert max(esizes) >= 0.9 * n, sorted(esizes)


def test_bucketed_reuse_cold_catalog(spark):
    """S12b (r6 verdict item 8): a catalog-cold session inherits the
    day-1 bucketed layout with metadata-only DDL — no file is rewritten
    or even touched (mtime snapshot), and the co-located join still
    plans with zero Exchange on the join keys."""
    import os

    from event_stream_checkout_spark.operators.relational3 import (
        bucketed_read,
        bucketed_register_existing,
        bucketed_write,
    )
    from tests.conftest import SF_DIR

    li_name, ord_name = bucketed_write(spark, SF_DIR)
    roots = [
        spark.sql(f"DESCRIBE EXTENDED {n}")
        .filter("col_name = 'Location'")
        .first()["data_type"]
        .removeprefix("file:")
        for n in (li_name, ord_name)
    ]

    def snapshot():
        return {
            os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
            for r in roots
            for f in sorted(os.listdir(r))
            if not f.startswith(".")
        }

    before = snapshot()
    # Cold catalog: drop the entries, keep the files.
    spark.sql(f"DROP TABLE {li_name}")
    spark.sql(f"DROP TABLE {ord_name}")
    li2, ord2 = bucketed_register_existing(spark, SF_DIR)
    assert (li2, ord2) == (li_name, ord_name)
    assert snapshot() == before, "registration touched the data files"

    joined = bucketed_read(spark, li2, ord2)
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert snapshot() == before, "the read leg rewrote data files"


def test_index_compaction_merges_files(spark):
    """X12d: bucket-appends fragment the dedup index (day-1 write
    tasks × buckets, plus one file per touched bucket per ingest day);
    compaction must rewrite it to at most one data file per bucket —
    WITHOUT changing its contents or the day-3 probe verdicts."""
    import os

    from event_stream_checkout_spark.operators import llm_ingest as li
    from tests.conftest import SF_DIR

    rname = li.refreshed_index_table(spark, SF_DIR)
    cname = li.compacted_index_table(spark, SF_DIR)

    def data_files(name):
        loc = (
            spark.sql(f"DESCRIBE EXTENDED {name}")
            .filter("col_name = 'Location'")
            .first()["data_type"]
            .removeprefix("file:")
        )
        return [
            f
            for f in os.listdir(loc)
            if f.endswith(".parquet") and not f.startswith("_")
        ]

    rf, cf = data_files(rname), data_files(cname)
    assert len(cf) <= 8, cf  # one file per bucket
    assert len(rf) > len(cf), (len(rf), len(cf))  # it actually compacted

    def rows(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(r[c] for c in cols) for r in df.collect()
        )

    assert rows(spark.table(cname)) == rows(spark.table(rname))
    new3 = li.batch_sig_rows(spark, SF_DIR, li._DAY3_PRED_SQL)
    assert rows(li.probe_index(spark.table(cname), new3)) == rows(
        li.probe_index(spark.table(rname), new3)
    )


def test_compaction_reduces_files(spark):
    """S13b: the compactor must (a) actually reduce the file count —
    the raw day-1 write leaves multiple files per date directory,
    the compacted layout exactly one; (b) preserve content byte-for-
    byte (same per-date counts/sums — also hash-pinned by the oracle);
    (c) keep partition pruning working on the compacted root."""
    import glob
    import os

    from event_stream_checkout_spark.operators.relational3 import (
        compact_roots,
        q_snk_partitioned_compact,
    )
    from tests.conftest import SF_DIR

    out = q_snk_partitioned_compact(spark, SF_DIR).collect()
    raw_root, out_root = compact_roots(SF_DIR)

    def files_per_date(root):
        return {
            os.path.basename(d).split("=", 1)[1]: sum(
                1 for f in os.listdir(d) if f.endswith(".parquet")
            )
            for d in glob.glob(os.path.join(root, "event_date=*"))
        }

    raw, compacted = files_per_date(raw_root), files_per_date(out_root)
    assert set(raw) == set(compacted), "compaction changed the partition set"
    assert all(n == 1 for n in compacted.values()), compacted
    # The day-1 write really was fragmented (else the test proves nothing):
    assert sum(raw.values()) > len(raw), raw
    assert all(r["n_files"] == 1 for r in out)

    # Pruning still works on the compacted layout.
    pruned = spark.read.parquet(out_root).filter(
        F.col("event_date").cast("string") == "2024-01-05"
    )
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:300]


def test_wav_codec_real_decode_and_windows(spark):
    """The REAL audio path (r7 verdict item 5): a genuine RIFF/WAVE
    PCM payload built with stdlib wave decodes through decode_wav /
    decode_audio, and audio_windows(codec='wav') produces the same
    windowed RMS as an independent numpy computation over the known
    samples — the stub risk for audio is retired, and the fake stays
    the oracle path for the synthetic text corpus."""
    import io
    import math
    import wave as wave_mod

    import numpy as np

    from event_stream_checkout_spark.operators.multimodal import (
        AUDIO_WINDOW,
        audio_windows,
        decode_audio,
        decode_wav,
        is_wav,
    )

    # 16-bit mono 8 kHz, 600 samples: a 440-ish integer sawtooth.
    sr, n = 8000, 600
    samples = np.array(
        [((i * 523) % 2000) - 1000 for i in range(n)], dtype="<i2"
    )
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.tobytes())
    payload = buf.getvalue()

    assert is_wav(payload)
    got_sr, got_ch, got_samples = decode_wav(payload)
    assert (got_sr, got_ch) == (sr, 1)
    assert np.array_equal(got_samples, samples.astype(np.int64))
    assert decode_audio(payload) == n / sr
    # non-WAV real path stays contracted
    with pytest.raises(NotImplementedError):
        decode_audio(b"not audio at all")

    df = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id long, content binary"
    )
    out = {
        r["window_idx"]: (r["n_samples"], r["rms"])
        for r in audio_windows(df, codec="wav").collect()
    }
    s64 = samples.astype(np.int64)
    expected = {}
    for w0 in range(0, n, AUDIO_WINDOW):
        chunk = s64[w0 : w0 + AUDIO_WINDOW]
        expected[w0 // AUDIO_WINDOW] = (
            len(chunk),
            math.sqrt(float(int((chunk * chunk).sum())) / len(chunk)),
        )
    assert out == expected


def test_image_header_real_decode(spark):
    """The REAL image path (r8): genuine PNG, GIF, and BMP byte
    payloads built from their specs decode to correct dimensions
    through decode_image_dims / decode_image — at the Spark level via
    a mapInPandas kernel over a binary column, proving the plumbing
    shape real image bytes would flow through; non-image bytes stay
    behind the NotImplementedError contract."""
    import struct
    import zlib

    import pandas as pd

    from event_stream_checkout_spark.operators.multimodal import (
        decode_image,
        decode_image_dims,
    )

    def png(w, h):
        ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"

    def bmp(w, h):
        return (
            b"BM" + b"\x00" * 16 + struct.pack("<ii", w, -h) + b"\x00" * 4
        )

    payloads = {1: png(640, 480), 2: gif(320, 200), 3: bmp(100, 50)}
    assert decode_image_dims(payloads[1]) == ("png", 640, 480)
    assert decode_image_dims(payloads[2]) == ("gif", 320, 200)
    assert decode_image_dims(payloads[3]) == ("bmp", 100, 50)
    assert decode_image(payloads[1]) == (640, 480)
    with pytest.raises(NotImplementedError):
        decode_image(b"definitely not an image")

    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id long, content binary",
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                fmt, w, h = decode_image_dims(bytes(content))
                rows.append((mid, fmt, w, h))
            yield pd.DataFrame(
                rows, columns=["media_id", "fmt", "width", "height"]
            )

    out = {
        r["media_id"]: (r["fmt"], r["width"], r["height"])
        for r in df.mapInPandas(
            kernel, "media_id long, fmt string, width long, height long"
        ).collect()
    }
    assert out == {
        1: ("png", 640, 480),
        2: ("gif", 320, 200),
        3: ("bmp", 100, 50),
    }


def test_every_query_survives_single_row_tables(spark, tmp_path):
    """Degenerate-data sweep (r8, the sibling of the empty sweep):
    every registered query must EXECUTE against a dataset where every
    table holds exactly ONE row — the regime where zero-variance
    stddevs, single-member groups, one-element windows, self-joins
    with no partner, and 0/0 rate divisions all surface at once
    (the class behind the sigma/zipf/KS guards).  A query may return
    0 rows; it may not throw."""
    import os

    import pyarrow.parquet as pq

    from event_stream_checkout_spark.registry import QUERIES, load_all
    from event_stream_checkout_spark.tables import TABLE_NAMES

    load_all()
    one_dir = str(tmp_path / "one")
    os.makedirs(one_dir)
    for t in TABLE_NAMES:
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), os.path.join(one_dir, f"{t}.parquet"))

    failures = {}
    for key, q in QUERIES.items():
        try:
            q.fn(spark, one_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = str(e).splitlines()[0][:200]
    assert not failures, failures


def test_every_query_survives_constant_tables(spark, tmp_path):
    """Degenerate-data sweep 3: every table is ONE row duplicated 20
    times — zero value ranges (equi-width bucketing lo==hi), total
    ties everywhere, identical vectors (degenerate k-means cells),
    single-key bloom builds, KS over one distinct value.  Queries may
    return few or zero rows; they may not throw."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from event_stream_checkout_spark.registry import QUERIES, load_all
    from event_stream_checkout_spark.tables import TABLE_NAMES

    load_all()
    const_dir = str(tmp_path / "const")
    os.makedirs(const_dir)
    for t in TABLE_NAMES:
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        one = tbl.slice(0, 1)
        pq.write_table(
            pa.concat_tables([one] * 20),
            os.path.join(const_dir, f"{t}.parquet"),
        )

    failures = {}
    for key, q in QUERIES.items():
        try:
            q.fn(spark, const_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = str(e).splitlines()[0][:200]
    assert not failures, failures


def test_rank_based_keys_partition_layout_invariant(spark, tmp_path):
    """Determinism sweep (r8): keys built on ranks/quantiles/ties must
    return IDENTICAL rows when the same data arrives in a different
    physical layout (here: every table rewritten as 7 unevenly-sized
    files) — the property that makes their (value, id) tiebreaks and
    value-derived bucket ids load-bearing.  A layout-sensitive rank
    would pass oracle parity on the canonical layout and still be
    nondeterministic in production."""
    import os

    import pyarrow.parquet as pq

    from event_stream_checkout_spark.registry import QUERIES, load_all
    from event_stream_checkout_spark.tables import TABLE_NAMES

    load_all()
    alt_dir = str(tmp_path / "alt")
    os.makedirs(alt_dir)
    for t in TABLE_NAMES:
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        out = os.path.join(alt_dir, f"{t}.parquet")
        os.makedirs(out)
        n = tbl.num_rows
        # 7 uneven slices (empty slices allowed)
        cuts = [0, n // 9, n // 5, n // 3, n // 2, 2 * n // 3, 5 * n // 6, n]
        for i in range(7):
            pq.write_table(
                tbl.slice(cuts[i], cuts[i + 1] - cuts[i]),
                os.path.join(out, f"part-{i}.parquet"),
            )

    keys = [
        "llm_per_source_sample",   # md5-rank quota
        "agg_winsorized_stats",    # exact rank percentiles
        "evt_rfm_segments",        # bucketed-rank quartiles
        "agg_abc_classes",         # bucketed integer prefix + cuts
        "sort_orders_sampled",     # sampled-quantile two-pass rank
        "llm_tfidf_keywords",      # per-doc top-k with tiebreaks
        "join_min_cost_supplier",  # min-equality join-back + tie surface
        "join_promotable_suppliers",  # integer threshold boundary
    ]
    for key in keys:
        base = sorted(
            map(str, QUERIES[key].fn(spark, "/root/testdata/sf0.001").collect())
        )
        alt = sorted(map(str, QUERIES[key].fn(spark, alt_dir).collect()))
        assert base == alt, f"{key} depends on physical layout"


@pytest.mark.skipif(
    not os.path.isdir("/tmp/ecs_sf1"),
    reason="needs the sf1 scaled replica (scripts/make_scaled_sf.py)",
)
def test_headline_scaling_exponent_tripwire(spark):
    """Per-key scaling-exponent tripwire (r10 verdict item 7): on a
    decade scale-up (sf0.1 → sf1) no headline key may scale
    super-linearly — exponent log10(t_sf1/t_sf0.1) must stay ≤ 1.0.
    Both scale points run in the SAME session back-to-back (the
    llm_pca_components phantom: cross-session minima mixed cold and
    warm JVMs and showed a fake 1.06 decade; same-session pairing is
    the discipline SCALE.md r10 adopted).  A warm-up run per (key,
    sf) absorbs first-touch parquet/codegen costs; the timed figure
    is the min of two runs."""
    import math
    import time

    from event_stream_checkout_spark.registry import load_all

    probes = [
        "agg_pricing_summary",   # wide hash aggregate
        "agg_filtered_sum",      # pushdown + global agg
        "topk_revenue_orders",   # join + agg + top-k
        "join_multiway",         # 5-way star join
        "llm_exact_dedup",       # content-hash dedup
        "win_topk_per_group",    # window family
        "dq_outlier_iqr",        # histogram-located quartiles — the
                                 # one key that HAS gone super-linear
                                 # (r11: 211 s at sf10 under the old
                                 # full-ranking path); pinned here so
                                 # a regression to that class fails CI
        # r12 (verdict item 3): the two heaviest r11 operators, whose
        # exponents were previously asserted by construction — the
        # support-capped pair self-join + fixpoint CC, and the fused
        # single-pass LSH S-curve sweep.
        "graph_copurchase_components",
        "llm_lsh_tuning",
    ]
    reg = load_all()

    def timed(key, sf_dir):
        def run():
            reg[key].fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()

        run()  # warm-up: parquet footers, codegen, broadcast build
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        return best

    bad = {}
    for key in probes:
        t_small = timed(key, "/root/testdata/sf0.1")
        t_big = timed(key, "/tmp/ecs_sf1")
        exp = math.log10(max(t_big, 1e-3) / max(t_small, 1e-3))
        if exp > 1.0:
            bad[key] = round(exp, 3)
    assert not bad, f"super-linear decade exponents: {bad}"
