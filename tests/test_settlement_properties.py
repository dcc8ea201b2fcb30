"""Property-based tests (hypothesis) for the settlement semantics:
the Spark pipeline vs an independent pure-Python simulator of the
reference's transactional loop (src/order_processor/app.py:55-124)
across randomized order streams.

Invariants checked on every generated stream:
- replay_global == the reference simulator exactly (statuses + stock)
- inventory never goes negative in any mode
- PROCESSED totals exactly explain the inventory delta (conservation)
- dedup: duplicate payloads settle at most once
- optimistic admission is never MORE permissive than the simulator
  on single-product streams (prefix demand ≥ sequential demand)
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from event_stream_checkout_spark import pipeline as P

PRODUCTS = ["prod-101", "prod-102", "prod-103", "prod-104", "prod-105", "prod-999"]
SEED_STOCK = {p: q for p, _, q in P.INVENTORY_SEED}

item_st = st.tuples(
    st.sampled_from(PRODUCTS), st.integers(min_value=1, max_value=12)
)
order_st = st.tuples(
    st.sampled_from(["cust-a", "cust-b", "cust-c"]),
    st.lists(item_st, min_size=1, max_size=3),
)
stream_st = st.lists(order_st, min_size=1, max_size=8)


def simulate_reference(orders):
    """Pure-Python model of the reference loop under T5 ordering:
    sequential by arrival; per-order all-or-nothing; first-writer-wins
    on the content-addressed identity (customer, items)."""
    stock = dict(SEED_STOCK)
    seen = set()
    statuses = {}
    for idx, (cust, items) in enumerate(orders):
        key = (cust, tuple(items))
        if key in seen:
            continue
        seen.add(key)
        ok = all(
            pid in stock and q <= stock[pid]
            # within one order, repeated products draw down cumulatively
            for pid, q in _cumulate(items)
        )
        if ok:
            for pid, q in items:
                stock[pid] -= q
            statuses[key] = "PROCESSED"
        else:
            statuses[key] = "FAILED"
    return statuses, stock


def _cumulate(items):
    """Yield (pid, cumulative_required) mirroring sequential per-item
    checks inside one transaction."""
    running: dict[str, int] = {}
    for pid, q in items:
        running[pid] = running.get(pid, 0) + q
        yield pid, running[pid]


T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def to_raw(spark, orders):
    rows = [
        (cust, [(p, q) for p, q in items], T0 + dt.timedelta(seconds=i))
        for i, (cust, items) in enumerate(orders)
    ]
    return spark.createDataFrame(
        rows,
        "customer_id string, items array<struct<product_id:string,"
        "quantity:long>>, timestamp timestamp_ntz",
    )


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orders=stream_st)
def test_replay_global_matches_reference_simulator(sess, orders):
    raw = to_raw(sess, orders)
    _, res = P.run_checkout_batch(sess, raw, mode="replay_global")
    sim_statuses, sim_stock = simulate_reference(orders)

    got_orders = res.orders.collect()
    # one settled row per distinct payload
    assert len(got_orders) == len(sim_statuses)
    # compare outcomes by (customer, items) identity
    got = {}
    for r in got_orders:
        import json

        items = tuple(
            (i["product_id"], i["quantity"]) for i in json.loads(r["items"])
        )
        got[(r["customer_id"], items)] = r["status"]
    assert got == sim_statuses

    got_stock = {
        r["product_id"]: r["quantity_available"] for r in res.inventory.collect()
    }
    for pid in SEED_STOCK:
        assert got_stock[pid] == sim_stock[pid]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orders=stream_st)
@pytest.mark.parametrize("mode", ["optimistic", "replay_items"])
def test_inventory_invariants_all_modes(sess, orders, mode):
    raw = to_raw(sess, orders)
    _, res = P.run_checkout_batch(sess, raw, mode=mode)
    stock = {
        r["product_id"]: r["quantity_available"] for r in res.inventory.collect()
    }
    # never negative, never above seed
    for pid, q in stock.items():
        assert 0 <= q <= SEED_STOCK[pid], (pid, q)
    if mode == "optimistic":
        # conservation: PROCESSED orders' demand == inventory delta
        import json

        consumed: dict[str, int] = {}
        for r in res.orders.collect():
            if r["status"] == "PROCESSED":
                for i in json.loads(r["items"]):
                    consumed[i["product_id"]] = (
                        consumed.get(i["product_id"], 0) + i["quantity"]
                    )
        for pid in SEED_STOCK:
            assert SEED_STOCK[pid] - stock[pid] == consumed.get(pid, 0)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    items=st.lists(
        st.tuples(
            st.sampled_from(["p1", "p2", "p3"]),   # p3 has no stock row
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    batch=st.sampled_from([1, 3, 7]),
)
def test_stock_take_is_arrow_batch_size_invariant(sess, items, batch):
    """The per-product stock-take kernel produces identical output for
    ANY Arrow batch size — the batch is a memory bound, never a
    semantic one (the carry across batches is the full per-key state)
    — and equals a pure ``take_stock`` model."""
    from tests.conftest import ARROW_BATCH_ROWS, spark_confs

    stock = {"p1": 9, "p2": 4}
    df = sess.createDataFrame(
        [(pid, eid, qty) for eid, (pid, qty) in enumerate(items, start=1)],
        "product_id string, event_id long, quantity long",
    )
    stock_df = sess.createDataFrame(
        list(stock.items()), "product_id string, _stock long"
    )

    def run():
        return sorted(
            map(tuple, P.take_stock_in_order(df, stock_df, ["event_id"]).collect())
        )

    model = []
    for pid in ("p1", "p2", "p3"):
        qtys = [(eid, q) for eid, (p, q) in enumerate(items, start=1) if p == pid]
        oks, after = P.take_stock([q for _, q in qtys], stock.get(pid, -1))
        model += [
            (pid, eid, q, rn, ok, a)
            for rn, ((eid, q), ok, a) in enumerate(zip(qtys, oks, after), start=1)
        ]
    default = run()
    with spark_confs(sess, {ARROW_BATCH_ROWS: str(batch)}):
        assert run() == default == sorted(model)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    items=st.lists(
        st.tuples(
            st.sampled_from(["p1", "p2", "p3"]),   # p3 has no stock row
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_admission_equals_prefix_sum_model(sess, items):
    """The prefix-demand admission kernel equals a pure-Python model:
    an item is admitted iff its product's running demand in order, up
    to and including it (admitted or not), fits the product's stock; a
    product with no stock row admits nothing."""
    stock = {"p1": 9, "p2": 4}
    df = sess.createDataFrame(
        [(pid, eid, qty) for eid, (pid, qty) in enumerate(items, start=1)],
        "product_id string, event_id long, quantity long",
    )
    stock_df = sess.createDataFrame(
        list(stock.items()), "product_id string, _stock long"
    )
    got = P.admit_in_order(df, stock_df, ["event_id"]).select(
        "product_id", "event_id", "quantity", "running_demand", "_stock", "item_ok"
    )

    model, demand = [], {}
    for eid, (pid, q) in enumerate(items, start=1):
        demand[pid] = demand.get(pid, 0) + q
        have = stock.get(pid)
        model.append(
            (pid, eid, q, demand[pid], have, have is not None and demand[pid] <= have)
        )
    assert sorted(map(tuple, got.collect())) == sorted(model)


def test_replay_items_carries_stock_across_arrow_batches(sess):
    """``settle_replay_items`` at 2 rows per Arrow batch: each product's
    single-item orders span several batches, and the statuses and stock
    equal the default batch size's and, single-product orders being
    the case where the modes agree, the reference simulator's."""
    from tests.conftest import ARROW_BATCH_ROWS, spark_confs

    orders = [
        (cust, [(pid, q)])
        for q in (2, 4, 1, 3, 6)
        for cust, pid in (("cust-a", "prod-105"), ("cust-b", "prod-104"))
    ] + [("cust-c", [("prod-999", 1)])]

    def run():
        _, res = P.run_checkout_batch(
            sess, to_raw(sess, orders), mode="replay_items"
        )
        statuses = {
            (
                r["customer_id"],
                tuple(
                    (i["product_id"], i["quantity"]) for i in json.loads(r["items"])
                ),
            ): r["status"]
            for r in res.orders.collect()
        }
        stock = {
            r["product_id"]: r["quantity_available"]
            for r in res.inventory.collect()
        }
        return statuses, stock

    default = run()
    with spark_confs(sess, {ARROW_BATCH_ROWS: "2"}):
        assert run() == default
    sim_statuses, sim_stock = simulate_reference(orders)
    assert default == (sim_statuses, sim_stock)
