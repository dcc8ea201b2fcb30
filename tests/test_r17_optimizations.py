"""Focused tests for the r17 optimization-round internals.

Each test pins the INVARIANT an optimization relies on:

- ``_connected_components`` round fusion: one action per fixpoint
  round (lazy checkpoint + full-aggregate probe) must yield the same
  labels as ever, and each round must cost exactly ONE Spark job.
- ``_centroid_local`` / ``_assign(_rows=...)``: the driver-local
  centroid frame must carry bit-identical values to the aggregate it
  replaces, pre-collected rows must short-circuit ``_assign``'s own
  collect without changing its output, and the empty-training edge
  must still produce the degenerate empty assignment.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from perfbench.measure import job_counters


_groups = itertools.count()


def _counted(spark, action):
    """``action()``'s result and the Spark jobs it fired, counted by
    ``perfbench.measure``'s ``job_counters`` over a job group unique
    to this call."""
    sc = spark.sparkContext
    group = f"r17-counted-{next(_groups)}"
    sc.setJobGroup(group, "r17 job count")
    try:
        result = action()
    finally:
        sc.setJobGroup(None, None)
    return result, job_counters(sc, group)["jobs"]


def test_connected_components_one_action_per_round(spark):
    from event_stream_checkout_spark.operators.llm_advanced import (
        _connected_components,
    )

    # 0-1-2-3 chain plus an isolated 9-8 edge: known components.
    pairs = [(0, 1), (1, 2), (2, 3), (8, 9)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    ).repartition(2)

    # AQE materializes shuffle stages as their own jobs, which would
    # swamp the action count being pinned here; with it off, one
    # driver action == one job and the count is deterministic.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labels, jobs = _counted(
            spark,
            lambda: {
                r["doc_id"]: r["label"]
                for r in _connected_components(edges).collect()
            },
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0, 8: 8, 9: 8}
    # Fixed actions for this graph: edge pin + init-label checkpoint +
    # ONE per round (2 rounds: one merge + the no-change confirmation)
    # + the final collect = 5.  The pre-r17 shape paid 2 actions per
    # round (eager checkpoint + separate convergence probe) = 7; a
    # regression back to that trips this bound.
    assert jobs <= 5, (
        f"{jobs} jobs for a 2-round fixpoint — the round fusion "
        "(lazy checkpoint + full-agg probe, one action/round) broke"
    )


def test_centroid_local_bit_identical_and_rows_shortcut(spark):
    from event_stream_checkout_spark.operators.clustering import (
        _assign,
        _centroid_arrays,
        _centroid_local,
    )

    cent = spark.createDataFrame(
        [(0, 0, 0.1), (0, 1, -2.5), (1, 0, 3.75), (1, 1, 0.0)],
        "cluster long, dim int, cval double",
    )
    rows, local = _centroid_local(cent)
    # bit-identical to the aggregate it replaces
    want = sorted(
        _centroid_arrays(cent).collect(), key=lambda r: r["cluster"]
    )
    assert [(r["cluster"], r["carr"]) for r in rows] == [
        (r["cluster"], r["carr"]) for r in want
    ]
    assert [(r["cluster"], r["carr"]) for r in local.collect()] == [
        (r["cluster"], r["carr"]) for r in rows
    ]

    e = spark.createDataFrame(
        [(10, [0.1, -2.5]), (11, [3.7, 0.1]), (12, [100.0, 100.0])],
        "vec_id long, embedding array<double>",
    )
    via_collect = sorted(_assign(e, local).collect())
    via_rows = sorted(_assign(e, local, _rows=rows).collect())
    assert via_collect == via_rows
    assert [r["cluster"] for r in via_rows] == [0, 1, 1]


def test_lloyd_centroids_matches_exploded_davg(spark):
    """The fused training scan (_lloyd_centroids: per-task assignment
    + quantized per-(cluster, dim) partials) must be bit-identical to
    the exploded form it replaced: _assign on the seeds, posexplode,
    join on vec_id, groupBy(cluster, dim).agg(davg) — on values chosen
    to stress the quantization boundary (x.5 ulps, negatives, floats
    that widen inexactly in decimal)."""
    from pyspark.sql import functions as F

    from event_stream_checkout_spark.functions.numeric import davg
    from event_stream_checkout_spark.operators.clustering import (
        _assign,
        _lloyd_centroids,
    )

    rows = [
        (0, [0.00005, 1.5]),
        (1, [-0.00005, -1.5]),
        (2, [0.1, 0.30000001]),
        (3, [2.0 / 3.0, -0.12345]),
        (7, [1e-9, 123.4567]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cluster"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "carr"
        ),
    )
    seed_rows = sorted(
        seeds.select("cluster", "carr").collect(),
        key=lambda r: r["cluster"],
    )

    a1 = _assign(e, seeds)
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fval")
    ).select("vec_id", "dim", F.col("fval").cast("double").alias("val"))
    old = {
        (r["cluster"], r["dim"]): r["cval"]
        for r in ex.join(a1.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "dim")
        .agg(davg("val").alias("cval"))
        .collect()
    }
    new = {
        (r["cluster"], r["dim"]): r["cval"]
        for r in _lloyd_centroids(e, seed_rows).collect()
    }
    assert old == new  # exact float equality — same bits or bust


def test_kmeans_refined_full_empty_training_edge(spark):
    from event_stream_checkout_spark.operators.clustering import (
        kmeans_refined_full,
    )

    e = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    cent, d2, a2 = kmeans_refined_full(e, 4)
    assert cent.count() == 0
    assert a2.count() == 0
    assert d2.count() == 0
