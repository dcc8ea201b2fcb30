"""Round-12 contracts: the r11 verdict's two plan-quality fixes
(dq_duplicate_orders gate ordering, llm_lsh_tuning single-pass fusion),
the G2 basket-cap robustness gate, the X64 vocab pin, and the r11
ADVICE hardening (fixpoint fail-loud, _assign input validation,
literal quantile boundaries, weighted-median floor semantics)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from event_stream_checkout_spark.registry import load_all
from tests.conftest import SF_DIR
from tests.test_plan_contracts import executed_plan

QUERIES = load_all()


def plan_subtree(plan: str, root_re: str) -> str:
    """Return the toString subtree rooted at the first line matching
    ``root_re``: the matched line plus every following line with a
    strictly deeper tree indentation (Spark prints children with a
    longer ``:-``/``+-``/space prefix).  Structural containment —
    "operator X sits INSIDE join Y's legs" — replaces the r12 positional
    print-order checks, which ADVICE r12 showed were vacuous (in the
    broken shape the gate aggregate was the RIGHT child of the join
    ABOVE, so it also printed after the pair join)."""
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.search(root_re, ln):
            d0 = depth(ln)
            out = [ln]
            for nxt in lines[i + 1 :]:
                if not nxt.strip() or depth(nxt) <= d0:
                    break
                out.append(nxt)
            return "\n".join(out)
    return ""


# ---------------------------------------------------------------------------
# Verdict item 1: V15 gate BELOW the pair join
# ---------------------------------------------------------------------------


def test_dup_orders_gate_below_pair_join(spark):
    """dq_duplicate_orders: BOTH self-join legs are semi-joined against
    the BETWEEN-2-AND-8 gate BEFORE pair expansion, so a poisoned
    customer-day contributes zero pair-join INPUT rows.  The r11 plan
    joined the gate aggregate ABOVE the self-join (the quadratic block
    formed, then was discarded); this pins the fixed ordering."""
    plan = executed_plan(spark, "dq_duplicate_orders")
    # both legs gated: two semi joins in the final plan
    assert plan.count("LeftSemi") >= 2, "self-join legs not both gated"
    # STRUCTURAL containment (ADVICE r12: the old print-order check was
    # vacuous): the gate semi-joins live INSIDE the Inner pair join's
    # subtree — i.e. each leg is gated before it reaches the join — and
    # the gate aggregate itself sits inside that subtree too (one leg
    # may reuse the other's exchange, so >= 1 aggregate print).
    sub = plan_subtree(plan, r"Join .*Inner|BroadcastHashJoin .*Inner")
    assert sub, "pair join missing from plan"
    assert sub.count("LeftSemi") >= 2, (
        "gate semi-joins not inside the pair join's legs — the "
        "quadratic block would form before the gate again"
    )
    assert re.search(r"HashAggregate\(keys=\[o_custkey", sub), (
        "gate aggregate not inside the pair join subtree"
    )
    # and the BETWEEN band is actually applied to the gate count
    assert re.search(r"_n#\d+L? >= 2", plan), "lower gate bound missing"


# ---------------------------------------------------------------------------
# Verdict item 2: X69 single-pass fusion
# ---------------------------------------------------------------------------


def test_lsh_tuning_single_pair_pipeline(spark):
    """llm_lsh_tuning: all four (bands, rows) configs are measures of
    ONE aggregate over the pair population — the plan carries a single
    explode-of-structs Generate and NO Union (the r11 plan unioned four
    separate aggregates, re-running the grams→df-cap→self-join pipeline
    per leg: 506 nodes / 60 exchanges / 0 reuse)."""
    plan = executed_plan(spark, "llm_lsh_tuning", full=True)
    assert "Union" not in plan, "legs still unioned — pipeline replicated"
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode(array(struct(bands") == 1, (
        "expected ONE report explode"
    )
    # one pair-pipeline instance: the (doc_a, doc_b) intersection
    # aggregate appears at most twice in the final plan (partial+final),
    # not once per config.
    n_inter = len(re.findall(r"HashAggregate\(keys=\[doc_a", final))
    assert n_inter <= 2, f"pair aggregate replicated {n_inter}x"


# ---------------------------------------------------------------------------
# Verdict item 4: G2 basket gate before pair expansion
# ---------------------------------------------------------------------------


def _copurchase_builders():
    """Both edge builders under the same adversarial contract (ADVICE
    r15 item 2: the cap-guard tests drove only copurchase_edges after
    the live path moved to basket_copurchase_pairs — the r12
    degenerate-basket guarantee was asserted against dead code)."""
    from event_stream_checkout_spark.operators.relational9 import (
        basket_copurchase_pairs,
        copurchase_edges,
    )

    return [
        pytest.param(copurchase_edges, id="copurchase_edges"),
        pytest.param(basket_copurchase_pairs, id="basket_copurchase_pairs"),
    ]


@pytest.mark.parametrize("builder", _copurchase_builders())
def test_copurchase_basket_gate_blocks_oversized_order(spark, builder):
    """Either builder: an order with more distinct parts than the cap
    contributes ZERO pair rows (it is excluded before pair expansion),
    while normal baskets still form their support-counted edges."""
    from event_stream_checkout_spark.operators.relational9 import (
        _COPURCHASE_BASKET_CAP,
    )

    rows = []
    # poisoned basket: cap+8 distinct parts in one order
    rows += [Row(l_orderkey=1, l_partkey=p)
             for p in range(100, 100 + _COPURCHASE_BASKET_CAP + 8)]
    # two normal orders sharing the same 2-part bundle (support 2)
    rows += [Row(l_orderkey=2, l_partkey=7), Row(l_orderkey=2, l_partkey=9)]
    rows += [Row(l_orderkey=3, l_partkey=7), Row(l_orderkey=3, l_partkey=9)]
    pp = spark.createDataFrame(rows)
    got = {(r["pa"], r["pb"], r["sup"]) for r in builder(pp).collect()}
    assert got == {(7, 9, 2)}, got


@pytest.mark.parametrize("builder", _copurchase_builders())
def test_copurchase_null_keys_dropped(spark, builder):
    """NULL l_orderkey / l_partkey rows never reach the gate or the
    pair expansion (ADVICE r15 item 1: groupBy keeps a NULL-orderkey
    basket and collect_set drops NULL parts AFTER the row was counted
    by a SQL oracle's count(*), so unfiltered null keys shift the
    2..CAP gate at the boundary).  Both builders must drop them up
    front and agree with the oracle's equi-join semantics."""
    rows = [
        # NULL-orderkey basket: must form NO edges even though its
        # two parts co-occur "in one basket" under a groupBy that
        # keeps the null group.
        Row(l_orderkey=None, l_partkey=51),
        Row(l_orderkey=None, l_partkey=52),
        # order 2: exactly 2 real parts + a NULL part.  The NULL row
        # must not count toward the basket size (unfiltered, a SQL
        # count(*) gate would see 3).
        Row(l_orderkey=2, l_partkey=7),
        Row(l_orderkey=2, l_partkey=9),
        Row(l_orderkey=2, l_partkey=None),
        # order 3: the same bundle, pushing support to the >= 2 gate
        Row(l_orderkey=3, l_partkey=7),
        Row(l_orderkey=3, l_partkey=9),
    ]
    pp = spark.createDataFrame(
        rows, schema="l_orderkey bigint, l_partkey bigint"
    )
    got = {(r["pa"], r["pb"], r["sup"]) for r in builder(pp).collect()}
    assert got == {(7, 9, 2)}, got


def test_copurchase_builders_identical_on_null_boundary(spark):
    """The byte-identity contract between copurchase_edges and
    basket_copurchase_pairs, exercised AT the cap boundary with null
    keys mixed in: a basket with exactly CAP real parts plus one NULL
    part must pass the gate in BOTH builders (the null row does not
    count), and the edge sets must match exactly."""
    from event_stream_checkout_spark.operators.relational9 import (
        _COPURCHASE_BASKET_CAP,
        basket_copurchase_pairs,
        copurchase_edges,
    )

    cap = _COPURCHASE_BASKET_CAP
    rows = []
    # two orders with the SAME cap-sized basket (+1 null part each):
    # every in-basket pair reaches support 2
    for ok in (1, 2):
        rows += [Row(l_orderkey=ok, l_partkey=p) for p in range(cap)]
        rows += [Row(l_orderkey=ok, l_partkey=None)]
    # a null-orderkey basket that must vanish
    rows += [Row(l_orderkey=None, l_partkey=p) for p in (1, 2, 3)]
    pp = spark.createDataFrame(
        rows, schema="l_orderkey bigint, l_partkey bigint"
    )
    a = {(r["pa"], r["pb"], r["sup"])
         for r in copurchase_edges(pp).collect()}
    b = {(r["pa"], r["pb"], r["sup"])
         for r in basket_copurchase_pairs(pp).collect()}
    assert a == b
    # the boundary basket PASSED the gate: C(cap, 2) support-2 edges
    assert len(a) == cap * (cap - 1) // 2
    assert all(s == 2 for (_, _, s) in a)


def test_copurchase_gate_below_self_join(spark):
    """The basket gate is physically BELOW the pair self-join: the gated
    leg (semi-join against the BETWEEN-count frame) feeds the inner
    pair join, not the other way around."""
    from event_stream_checkout_spark.operators.relational9 import (
        copurchase_edges,
    )

    pp = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    df = copurchase_edges(pp)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("LeftSemi") >= 1, "basket gate semi-join missing"
    # STRUCTURAL containment (ADVICE r12): the gate semi-join and its
    # count aggregate sit INSIDE the Inner pair self-join's subtree —
    # the gated leg feeds the join, not the other way around.
    sub = plan_subtree(
        plan, r"Join .*Inner|BroadcastHashJoin .*Inner|SortMergeJoin .*Inner"
    )
    assert sub, "pair self-join missing from plan"
    assert sub.count("LeftSemi") >= 1, (
        "basket-count gate not inside the pair self-join's legs"
    )
    assert re.search(r"HashAggregate\(keys=\[l_orderkey", sub), (
        "gate aggregate not inside the pair join subtree"
    )


# ---------------------------------------------------------------------------
# Verdict item 5: X64 vocab pinned once
# ---------------------------------------------------------------------------


def test_cm_windowed_vocab_pinned(spark):
    """llm_cm_sketch_windowed: the (day, tok, tf) vocab is pinned once —
    the query plan reads the checkpointed RDD and contains NO documents
    parquet scan (the corpus explode ran exactly once, in the
    checkpoint's own job; r11 re-ran it per consumer)."""
    plan = executed_plan(spark, "llm_cm_sketch_windowed", full=True)
    assert "documents" not in plan, "corpus re-scanned past the pin"
    assert "Scan ExistingRDD" in plan, "pinned vocab RDD missing"


# ---------------------------------------------------------------------------
# ADVICE: _connected_components fail-loud on round cap
# ---------------------------------------------------------------------------


def test_connected_components_raises_on_round_cap(spark):
    """A chain too deep for the round budget must RAISE, not return
    silently partial labels (ADVICE r11: G2 feeds an unbounded-diameter
    graph; partial labels would split components without signal)."""
    from event_stream_checkout_spark.operators.llm_advanced import (
        _connected_components,
    )

    n = 64
    chain = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(n)]
        + [Row(src=i + 1, dst=i) for i in range(n)]
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _connected_components(chain, max_rounds=2)
    # and with an adequate budget the same graph converges to ONE label
    labels = _connected_components(chain, max_rounds=10)
    assert labels.select("label").distinct().count() == 1
    # max_rounds < 1 would skip the loop and return the INITIAL labels
    # without tripping the fixpoint guard — rejected at entry
    # (ADVICE r12).
    with pytest.raises(ValueError, match="max_rounds"):
        _connected_components(chain, max_rounds=0)


# ---------------------------------------------------------------------------
# ADVICE: _assign input validation (null dropped, ragged fail-loud)
# ---------------------------------------------------------------------------


def test_assign_drops_null_and_rejects_ragged(spark):
    from event_stream_checkout_spark.operators.clustering import _assign

    cent = spark.createDataFrame(
        [Row(cluster=0, carr=[0.0, 0.0]), Row(cluster=1, carr=[10.0, 10.0])]
    )
    schema = "vec_id long, embedding array<double>"
    ok = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None), (3, [9.9, 9.8])], schema
    )
    got = {r["vec_id"]: r["cluster"] for r in _assign(ok, cent).collect()}
    # null embedding dropped (matches-no-centroid join semantics)
    assert got == {1: 0, 3: 1}, got

    ragged = spark.createDataFrame([(1, [0.1, 0.2]), (2, [0.5])], schema)
    with pytest.raises(Exception, match="ragged"):
        _assign(ragged, cent).collect()


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_vectors_fail_with_their_ids(spark, bad):
    """A NaN/inf vector element is corrupt input: assignment, the Lloyd
    update and PQ coding fail naming the offending vec_id (NumPy would
    only warn while flooring it into a garbage int64 distance), and a
    non-finite seed centroid fails on the driver naming its cluster."""
    from event_stream_checkout_spark.operators.clustering import (
        _assign,
        _lloyd_centroids,
        pq_code_frame,
    )

    schema = "vec_id long, embedding array<double>"
    seeds = [
        Row(cluster=0, carr=[0.0, 0.0, 0.0, 0.0]),
        Row(cluster=1, carr=[9.0, 9.0, 9.0, 9.0]),
    ]
    cent = spark.createDataFrame(seeds)
    rows = [(0, [0.0, 0.1, 0.0, 0.1]), (1, [9.0, 9.1, 9.0, 9.1]),
            (5, [0.2, 0.2, 0.2, 0.2]), (7, [0.1, bad, 0.1, 0.1])]
    corpus = spark.createDataFrame(rows, schema)
    with pytest.raises(Exception, match=r"non-finite.*vec_id\(s\) \[7\]"):
        _assign(corpus, cent).collect()
    with pytest.raises(Exception, match=r"non-finite.*vec_id\(s\) \[7\]"):
        _lloyd_centroids(corpus, seeds).collect()
    with pytest.raises(Exception, match=r"non-finite.*vec_id\(s\) \[7\]"):
        pq_code_frame(corpus, k=2).collect()

    bad_seed = [seeds[0], Row(cluster=1, carr=[9.0, bad, 9.0, 9.0])]
    clean = spark.createDataFrame(rows[:3], schema)
    with pytest.raises(ValueError, match=r"cluster\(s\) \[1\]"):
        _assign(clean, spark.createDataFrame(bad_seed))
    with pytest.raises(ValueError, match=r"cluster\(s\) \[1\]"):
        _lloyd_centroids(clean, bad_seed)
    seeded_bad = spark.createDataFrame(
        [(0, [0.0, 0.1, 0.0, 0.1]), (1, [bad, 9.1, 9.0, 9.1])] + rows[2:3], schema
    )
    with pytest.raises(ValueError, match=r"cluster\(s\) \[1\]"):
        pq_code_frame(seeded_bad, k=2)


# ---------------------------------------------------------------------------
# ADVICE: quantile_bucketed boundaries are driver-side literals
# ---------------------------------------------------------------------------


def test_quantile_bucketed_boundaries_are_literals(spark):
    """The percentile_approx boundary sketch is collected ONCE to the
    driver and embedded as a literal array — it no longer exists in the
    bucketed frame's plan, so no consumer branch can re-evaluate it to
    a DIFFERENT boundary set (QuantileSummaries merge is not
    order-invariant; ADVICE r11 item 1)."""
    from event_stream_checkout_spark.operators.relational import (
        quantile_bucketed,
    )

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    bucketed = quantile_bucketed(o, "o_totalprice", nb=8, pin=False)
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in plan, (
        "boundary sketch still inside the plan — double-eval hazard"
    )
    # buckets must still partition the full row set
    assert bucketed.count() == o.count()
    n_buckets = bucketed.select("_pid").distinct().count()
    assert 2 <= n_buckets <= 8


# ---------------------------------------------------------------------------
# ADVICE: weighted-median weight uses floor() on both engines
# ---------------------------------------------------------------------------


def test_weighted_median_floor_semantics(spark, duck):
    """On a FRACTIONAL-quantity feed the engine's weight must equal
    DuckDB's CAST(floor(...) AS BIGINT) — the r11 form relied on
    Spark's truncating cast agreeing with DuckDB's rounding cast only
    because l_quantity is integral in the driver corpora."""
    vals = [("A", 10.0, 2.5), ("A", 10.0, 0.25), ("A", 20.0, 1.9)]
    df = spark.createDataFrame(
        vals, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    w = (
        df.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.floor(F.sum("l_quantity")).cast("long").alias("wt"))
        .orderBy("l_extendedprice")
        .collect()
    )
    # sum(2.5 + 0.25) = 2.75 -> floor 2 (truncating cast would also give
    # 2 here, but DuckDB's round-half-up cast gives 3 — floor pins it)
    assert [r["wt"] for r in w] == [2, 1]
    got = duck.sql(
        "SELECT CAST(floor(2.75) AS BIGINT), CAST(floor(1.9) AS BIGINT)"
    ).fetchone()
    assert list(got) == [2, 1]


# ---------------------------------------------------------------------------
# r12 new operators: known-answer and independent-reimplementation tests
# ---------------------------------------------------------------------------


def test_triangle_census_known_graph(spark):
    """Triangle + pendant: parts {1,2,3} pairwise bundled, part 4 hangs
    off part 3.  T=1, wedges = C(2,2)x2 + C(3,2) + 0 = 5, clustering =
    3/5 — checked against hand arithmetic, not another engine."""
    from event_stream_checkout_spark.operators.relational9 import (
        triangle_census,
    )

    e = spark.createDataFrame(
        [Row(pa=1, pb=2), Row(pa=1, pb=3), Row(pa=2, pb=3), Row(pa=3, pb=4)]
    ).localCheckpoint()
    got = triangle_census(e).collect()[0]
    assert got["n_nodes"] == 4
    assert got["n_edges"] == 4
    assert got["n_triangles"] == 1
    assert got["n_wedges"] == 5
    assert abs(got["global_clustering"] - 0.6) < 1e-9


def test_triangle_census_matches_naive_count(spark):
    """On the real sf0.001 co-purchase graph, the degree-ordered count
    equals a brute-force id-ordered closure computed in pandas — an
    INDEPENDENT enumeration, so an orientation bug can't self-confirm."""
    from event_stream_checkout_spark.operators.relational9 import (
        copurchase_edges,
        triangle_census,
    )

    pp = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = copurchase_edges(pp).select("pa", "pb").localCheckpoint()
    got = triangle_census(e).collect()[0]
    edges = {(r["pa"], r["pb"]) for r in e.collect()}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    naive = sum(
        1
        for (a, b) in edges
        for c in adj[a] & adj[b]
        if b < c
    )
    assert got["n_triangles"] == naive
    naive_wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert got["n_wedges"] == naive_wedges


def test_mad_audit_matches_naive_pandas(spark):
    """dq_outlier_mad's medians and outlier counts equal a naive pandas
    reimplementation (lower-median convention) on the sf0.001 corpus."""
    import pandas as pd

    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["dq_outlier_mad"].fn(spark, SF_DIR).collect()
    }
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_shipdate"]
    ]
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_orderkey", "o_orderdate", "o_orderpriority"]
    ]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    days = (
        j["l_shipdate"].values.astype("datetime64[D]")
        - j["o_orderdate"].values.astype("datetime64[D]")
    ).astype("int64")
    j = j.assign(days=days)

    def lower_median(vals):
        vals = sorted(vals)
        n = len(vals)
        # smallest v with 2 * rank >= n
        return vals[(n - 1) // 2] if n % 2 else vals[n // 2 - 1]

    for g, grp in j.groupby("o_orderpriority"):
        med = lower_median(grp["days"].tolist())
        dev = (grp["days"] - med).abs()
        mad = lower_median(dev.tolist())
        n_out = int((dev > 3 * mad).sum())
        row = got[g]
        assert row["median_days"] == med, g
        assert row["mad_days"] == mad, g
        assert row["n_outliers"] == n_out, g
        assert row["n_rows"] == len(grp), g


def test_split_leakage_bounds_and_determinism(spark):
    """Containment is a ratio in [0, 1], leaked docs never exceed the
    val census, and two runs are bit-identical (hash split + exact
    integer ratios — no sampling anywhere)."""
    rows1 = QUERIES["llm_split_leakage"].fn(spark, SF_DIR).collect()
    rows2 = QUERIES["llm_split_leakage"].fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert rows1, "empty leakage report"
    for r in rows1:
        assert 0.0 <= r["max_containment"] <= 1.0
        assert 0 <= r["n_leaked"] <= r["n_val_docs"]


# ---------------------------------------------------------------------------
# r12b operators
# ---------------------------------------------------------------------------


def test_backlog_is_conserved(spark):
    """Backlog algebra: final backlog == total opens − total closes,
    backlog never negative on this corpus (an order must open before
    its last line ships), and opened sums to the orders row count."""
    rows = QUERIES["agg_order_backlog"].fn(spark, SF_DIR).collect()
    opened = sum(r["opened"] for r in rows)
    closed = sum(r["closed"] for r in rows)
    assert rows[-1]["backlog"] == opened - closed
    assert all(r["backlog"] >= 0 for r in rows)
    n_orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert opened == n_orders


def test_burst_dispersion_known_answer(spark, duck):
    """Dispersion arithmetic on a hand-built day: 23 silent hours and
    one 24-event burst hour → n=24, ss=576, D=(24·576−576)/(24·24)=23;
    a perfectly uniform day (1 event every hour) → D=0."""
    got = duck.sql(
        "WITH p(day, n, ss) AS (VALUES ('burst', 24, 576), "
        "('uniform', 24, 24)) "
        "SELECT day, round((24.0*ss - n*n)/(24.0*n), 6) AS d FROM p "
        "ORDER BY day"
    ).fetchall()
    assert got[0] == ("burst", 23.0)
    assert got[1] == ("uniform", 0.0)


def test_ann_recall_bounds_and_agreement(spark):
    """recall ∈ [0, 1], n_overlap ≤ k, and the audited sets really are
    the registered operators' outputs (recomputed independently)."""
    from event_stream_checkout_spark.operators.clustering import (
        _IVF_TOPK,
        q_llm_similarity_ivf_kmeans,
    )
    from event_stream_checkout_spark.operators.llm import (
        q_llm_similarity_topk,
    )

    row = QUERIES["llm_ann_recall"].fn(spark, SF_DIR).collect()[0]
    assert row["k"] == _IVF_TOPK
    assert 0 <= row["n_overlap"] <= row["k"]
    assert abs(row["recall"] - row["n_overlap"] / row["k"]) < 1e-9
    ivf = {
        r["vec_id"]
        for r in q_llm_similarity_ivf_kmeans(spark, SF_DIR).collect()
    }
    exact = {
        r["vec_id"]
        for r in q_llm_similarity_topk(spark, SF_DIR)
        .limit(_IVF_TOPK)
        .collect()
    }
    assert row["n_overlap"] == len(ivf & exact)


def test_hll_intersect_exact_side(spark):
    """The exact overlap equals an independent set intersection, and
    the estimate honors the documented 3·rel·|union| bound."""
    import pandas as pd

    rows = QUERIES["agg_hll_intersect"].fn(spark, SF_DIR).collect()
    e = pd.read_parquet(f"{SF_DIR}/events.parquet")[
        ["event_type", "user_id"]
    ]
    for r in rows:
        ua = set(e[e.event_type == r["type_a"]].user_id)
        ub = set(e[e.event_type == r["type_b"]].user_id)
        assert r["n_both_exact"] == len(ua & ub)
        assert r["n_union"] == len(ua | ub)
        assert r["in_bound"] is True


# ---------------------------------------------------------------------------
# r12 plan contracts: the SURVEY scale claims of the new operators
# ---------------------------------------------------------------------------


def test_ship_latency_windows_run_on_pinned_collapse(spark):
    """agg_ship_latency_profile: every window/percentile branch reads
    the PINNED (priority, days, cnt) collapse — the final plan contains
    no fact-table scan (the lineitem⋈orders join ran exactly once, in
    the checkpoint's job)."""
    plan = executed_plan(spark, "agg_ship_latency_profile", full=True)
    assert "lineitem" not in plan, "fact table re-scanned past the pin"
    assert "Scan ExistingRDD" in plan, "pinned collapse missing"


def test_split_leakage_gram_frame_pinned(spark):
    """llm_split_leakage: the capped+tagged gram frame is pinned once —
    no documents scan survives into the query plan despite three
    consumers (val sizes, val leg, train leg)."""
    plan = executed_plan(spark, "llm_split_leakage", full=True)
    assert "documents" not in plan, "corpus re-scanned past the pin"
    assert "Scan ExistingRDD" in plan


def test_triangle_census_rides_pinned_edges(spark):
    """graph_copurchase_triangles: the census (degree, orientation,
    wedge join, closure) runs entirely over the pinned edge frame —
    no lineitem scan in the final plan, and the closing join is an
    equi-join (no cartesian/nested-loop over data-scale frames; the
    only BNLJ inputs are 1-row scalar aggregates)."""
    plan = executed_plan(spark, "graph_copurchase_triangles", full=True)
    assert "lineitem" not in plan, "fact table re-scanned past the pin"
    assert "CartesianProduct" not in plan


def test_band_pairs_hot_slice_contributes_zero(spark):
    """band_pairs: a 2δ slice holding more than the cap forms ZERO
    pairs (gated before expansion), while cold-slice pairs within the
    band survive and cross-bucket pairs within δ are found."""
    from event_stream_checkout_spark.operators.relational9 import (
        _BAND_BUCKET_CAP,
        _BAND_BUCKET_US,
        band_pairs,
    )

    rows = []
    # hot slice: cap+4 events inside one bucket, all within the band
    base = 100 * _BAND_BUCKET_US
    for i in range(_BAND_BUCKET_CAP + 4):
        rows.append((1000 + i, i, "click", base + i))
    # cold pair, same bucket, within band, different users
    cb = 200 * _BAND_BUCKET_US
    rows += [(1, 1, "view", cb + 10), (2, 2, "error", cb + 20)]
    # cold pair SPANNING adjacent buckets, within band
    cb2 = 300 * _BAND_BUCKET_US
    rows += [(3, 3, "view", cb2 - 5), (4, 4, "purchase", cb2 + 5)]
    # same-user pair: excluded
    cb3 = 400 * _BAND_BUCKET_US
    rows += [(5, 5, "view", cb3 + 1), (6, 5, "view", cb3 + 2)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, t long"
    )
    got = {(r["type_a"], r["type_b"], r["n_pairs"])
           for r in band_pairs(ev).collect()}
    assert got == {("error", "view", 1), ("purchase", "view", 1)}, got


def test_gram_novelty_conserves_vocabulary(spark):
    """X70: the last cumulative value per source equals that source's
    total distinct gram count, and new_grams sums to the same."""
    from event_stream_checkout_spark.operators.llm_advanced import grams_df

    rows = QUERIES["llm_gram_novelty"].fn(spark, SF_DIR).collect()
    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
    vocab = {
        r["source"]: r["n"]
        for r in grams_df(spark, SF_DIR)
        .select("source", "gram")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for src, rs in per_source.items():
        rs = sorted(rs, key=lambda r: r["bucket"])
        assert rs[-1]["cum_grams"] == vocab[src], src
        assert sum(r["new_grams"] for r in rs) == vocab[src], src
        # cumulative is monotone
        cums = [r["cum_grams"] for r in rs]
        assert cums == sorted(cums), src
