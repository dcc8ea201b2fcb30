"""The benchmark's own arithmetic and checks, without Spark.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import batch, run
from perfbench.measure import Tracer
from perfbench.stats import (
    check_stream,
    content_order_id,
    digest,
    drift,
    order_latencies,
    percentile,
    self_times,
)
from perfbench.traffic import MIXES, make_traffic, render

# -- percentiles ------------------------------------------------------------


def test_percentile_reports_value_and_sample_counts():
    p = percentile(range(1, 11), 90)
    assert p.value == pytest.approx(9.1)
    assert (p.n, p.beyond) == (10, 1)
    p50 = percentile([3.0, 1.0, 2.0], 50)
    assert (p50.value, p50.n, p50.beyond) == (2.0, 3, 1)


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    xs = [rng.expovariate(1.0) for _ in range(101)]
    for q in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, q).value == pytest.approx(np.percentile(xs, q))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


# -- latency attribution ------------------------------------------------------


def test_order_latency_is_batch_end_minus_due_inside_window():
    orders = [(3, 100.0), (3, 101.5), (4, 102.0), (2, 99.0), (4, 110.0), (9, 103.0)]
    ends = {2: 100.5, 3: 105.0, 4: 108.0}
    lat, unattributed = order_latencies(orders, ends, (100.0, 110.0))
    # (2, 99.0) is due before the window and (4, 110.0) at its open end.
    assert lat == [5.0, 3.5, 6.0]
    assert unattributed == 1  # batch 9 never recorded an end


# -- self time --------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(4.0) and st[4] == pytest.approx(0.5)


def test_drift_compares_last_and_first_quarters():
    assert drift([1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0]) == pytest.approx(3.0)
    assert drift([2.0, 4.0]) == pytest.approx(2.0)


# -- digests ----------------------------------------------------------------


def _frame():
    return pd.DataFrame({
        "k": np.array([3, 1, 2], dtype="int64"),
        "name": ["c", "a", None],
        "x": [0.5, 1.25, float("nan")],
        "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00", "2024-01-03 00:00:00"]),
    })


def test_digest_ignores_row_and_column_order_and_int_width():
    a = _frame()
    b = a.iloc[[2, 0, 1]][["ts", "x", "name", "k"]].astype({"k": "int32"})
    b["ts"] = b["ts"].astype("datetime64[us]")
    assert digest(a) == digest(b)


def test_digest_changes_with_any_value_or_column_name():
    a = _frame()
    changed = a.copy()
    changed.loc[0, "x"] = 0.5000001
    renamed = a.rename(columns={"x": "y"})
    assert len({digest(a), digest(changed), digest(renamed), digest(a.iloc[:2])}) == 4


def test_stored_digests_cover_every_benchmarked_key():
    stored = json.loads(batch.DIGESTS.read_text())
    assert sorted(stored) == sorted(batch.KEYS)


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _fake_run(outputs: dict):
    registry = {k: SimpleNamespace(fn=lambda spark, sf, k=k: _Frame(outputs[k]))
                for k in outputs}
    return SimpleNamespace(seed=1, seconds=1, sf_dir="", spark=None,
                           registry=registry, tracer=Tracer("test", traced=False))


def test_corrupted_digest_fails_the_run(monkeypatch, tmp_path):
    outputs = {k: pd.DataFrame({"v": [i]}) for i, k in enumerate(batch.KEYS)}
    good = {k: digest(v) for k, v in outputs.items()}
    stored = tmp_path / "digests.json"
    monkeypatch.setattr(batch, "DIGESTS", stored)
    stored.write_text(json.dumps(good))
    load = batch.IterativeBatch(_fake_run(outputs))
    load.warm_up(None)
    assert (load.attempted, load.failed) == (len(batch.KEYS), 0)

    stored.write_text(json.dumps({**good, batch.KEYS[0]: "0" * 64}))
    load = batch.IterativeBatch(_fake_run(outputs))
    load.warm_up(None)
    assert load.failed == 1
    assert run.exit_code(load.failed == 0, load.failed) == 1


# -- traffic ----------------------------------------------------------------


def test_traffic_is_a_function_of_the_seed():
    a = make_traffic(5, 4, 50, "load")
    assert a == make_traffic(5, 4, 50, "load")
    assert a != make_traffic(6, 4, 50, "load")


@pytest.mark.parametrize("mix", sorted(MIXES))
def test_traffic_mix_and_rendering(mix):
    files = make_traffic(1, 40, 250, "load", MIXES[mix])
    kinds = [k for f in files for k, _ in f]
    for kind, share in MIXES[mix]:
        assert kinds.count(kind) / len(kinds) == pytest.approx(share, abs=0.02)
    text = render(files[0], 1_700_000_000.25)
    for (kind, _), line in zip(files[0], text.splitlines()):
        if kind == "malformed":
            with pytest.raises(json.JSONDecodeError):
                json.loads(line)
        else:
            assert json.loads(line)["timestamp"] == "2023-11-14T22:13:20.250000"


# -- stream invariants ------------------------------------------------------

SEED_STOCK = {"prod-101": 50, "prod-102": 20, "prod-103": 35, "prod-104": 10, "prod-105": 5}


def _settled_state(lines):
    """The state a correct engine leaves after one batch of ``lines``:
    first-come orders PROCESSED while their items fit, the rest FAILED."""
    responses, orders, notified = [], [], []
    stock = dict(SEED_STOCK)
    seen = set()
    for kind, p in lines:
        if kind == "malformed":
            responses.append((400, None, "MALFORMED_JSON"))
            continue
        if kind == "reject":
            responses.append((400, None, "VALIDATION"))
            continue
        oid = content_order_id(p["customer_id"], p["items"])
        responses.append((202, oid, None))
        if oid in seen:
            continue
        seen.add(oid)
        fits = all(stock[i["product_id"]] >= i["quantity"] for i in p["items"])
        if fits:
            for i in p["items"]:
                stock[i["product_id"]] -= i["quantity"]
            notified.append(oid)
        orders.append((oid, json.dumps(p["items"]), "PROCESSED" if fits else "FAILED"))
    return (
        pd.DataFrame(responses, columns=["status_code", "order_id", "reason"]),
        pd.DataFrame(orders, columns=["order_id", "items", "status"]),
        [pd.DataFrame({"product_id": list(stock), "quantity_available": list(stock.values())})],
        pd.DataFrame({"order_id": notified}),
    )


def test_a_correct_stream_passes_every_invariant():
    lines = [r for f in make_traffic(3, 4, 60, "t") for r in f]
    assert check_stream(lines, *_settled_state(lines), SEED_STOCK) == {}


@pytest.mark.parametrize("breakage, invariant", [
    ("drop_response", "responses.total"),
    ("duplicate_order", "orders.duplicate_ids"),
    ("lost_order", "orders.outcomes"),
    ("negative_stock", "inventory.negative"),
    ("leaked_stock", "inventory.conservation"),
    ("extra_notification", "notifications"),
])
def test_a_broken_invariant_fails_the_run(breakage, invariant):
    lines = [r for f in make_traffic(3, 4, 60, "t") for r in f]
    responses, orders, inventory, notified = _settled_state(lines)
    if breakage == "drop_response":
        responses = responses.iloc[1:]
    elif breakage == "duplicate_order":
        orders = pd.concat([orders, orders.iloc[:1]])
    elif breakage == "lost_order":
        orders = orders.iloc[1:]
    elif breakage == "negative_stock":
        inventory = [inventory[0].assign(quantity_available=-1)] + inventory
    elif breakage == "leaked_stock":
        inventory = [inventory[0].assign(quantity_available=inventory[0]["quantity_available"] + 1)]
    else:
        notified = pd.concat([notified, notified.iloc[:1]])
    bad = check_stream(lines, responses, orders, inventory, notified, SEED_STOCK)
    assert bad.get(invariant, 0) > 0
    failed = sum(bad.values())
    assert run.exit_code(failed == 0, failed) == 1
