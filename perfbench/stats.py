"""Pure arithmetic of the benchmark: percentiles, latency attribution,
span self time, output digests and the checkout-stream invariants.

Nothing here touches Spark, so ``perfbench/tests`` can pin every number
the benchmark reports without starting a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import uuid
from collections import Counter
from collections.abc import Iterable, Mapping, Sequence
from typing import NamedTuple

import pandas as pd


class Pct(NamedTuple):
    """A percentile with the sample count behind it: ``n`` samples in
    all, ``beyond`` of them strictly above ``value``."""

    value: float
    n: int
    beyond: int


def percentile(values: Iterable[float], q: float) -> Pct:
    """Linear-interpolated ``q``-th percentile (0..100), as numpy's
    default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * q / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)
    return Pct(value, len(xs), sum(1 for x in xs if x > value))


def median(values: Iterable[float]) -> float:
    return percentile(values, 50).value


def order_latencies(
    orders: Iterable[tuple[int, float]],
    batch_end: Mapping[int, float],
    window: tuple[float, float],
) -> tuple[list[float], int]:
    """Settle latency of each order due inside ``window`` = [t0, t1):
    the end time of the micro-batch that committed it (looked up by the
    order's ``batch_id``) minus its due time.  ``orders`` yields
    (batch_id, due_epoch_s) pairs.  Returns the latencies and the number
    of in-window orders whose batch has no recorded end."""
    t0, t1 = window
    out: list[float] = []
    unattributed = 0
    for batch_id, due in orders:
        if not t0 <= due < t1:
            continue
        end = batch_end.get(batch_id)
        if end is None:
            unattributed += 1
        else:
            out.append(end - due)
    return out, unattributed


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of it that its
    child spans cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive sha256 of a result frame: the column names plus
    every row in the repository's shared engine-neutral canonical form
    (``tools.null_sweep.canon``), so a Spark frame and the DuckDB oracle
    frame of the same result hash alike."""
    from tools.null_sweep import canon

    c = canon(df)
    h = hashlib.sha256("|".join(c.columns).encode())
    if len(c):
        for row in c.astype(str).agg("|".join, axis=1):
            h.update(b"\n" + row.encode())
    return h.hexdigest()


def drift(durations: Sequence[float]) -> float:
    """Mean of the last quarter of ``durations`` over the mean of the
    first quarter (at least one sample each)."""
    k = max(1, len(durations) // 4)
    return (sum(durations[-k:]) / k) / (sum(durations[:k]) / k)


# -- checkout stream ----------------------------------------------------


def content_order_id(customer_id: str, items: list[dict]) -> str:
    """The order id the reference ingest assigns to a payload:
    UUID(md5(json.dumps({"c": customer, "i": items}, sort_keys=True)))."""
    body = json.dumps({"c": customer_id, "i": items}, sort_keys=True)
    return str(uuid.UUID(hashlib.md5(body.encode()).hexdigest()))


def _multiset_gap(expected: Counter, got: Counter) -> int:
    return sum(((expected - got) + (got - expected)).values())


def check_stream(
    lines: Sequence[tuple[str, dict | str]],
    responses: pd.DataFrame,
    orders: pd.DataFrame,
    inventory_versions: Sequence[pd.DataFrame],
    notifications: pd.DataFrame,
    seed_stock: Mapping[str, int],
) -> dict[str, int]:
    """Invariants of a finished checkout stream, as {name: violations}.

    ``lines`` are the offered input lines as (kind, payload) with kind
    one of single / multi / duplicate / reject / malformed.  Checks:
    every line has exactly one response of the right kind (202 lines by
    their content-addressed order id), the orders table holds each
    distinct valid order exactly once with a PROCESSED or FAILED status,
    seed stock minus final stock equals the quantities of PROCESSED
    orders with no product ever negative, and notifications are exactly
    the PROCESSED orders.  An empty result means every check held."""
    kinds = Counter(kind for kind, _ in lines)
    accepted = Counter(
        content_order_id(p["customer_id"], p["items"])
        for kind, p in lines
        if kind in ("single", "multi", "duplicate")
    )
    bad: dict[str, int] = {}

    def fail(name: str, n: int) -> None:
        if n:
            bad[name] = n

    reasons = Counter(responses["reason"].fillna("").tolist())
    fail("responses.total", abs(len(responses) - len(lines)))
    fail("responses.malformed", abs(reasons["MALFORMED_JSON"] - kinds["malformed"]))
    fail("responses.rejected", abs(reasons["VALIDATION"] - kinds["reject"]))
    ok = responses[responses["status_code"] == 202]
    fail("responses.accepted", _multiset_gap(accepted, Counter(ok["order_id"])))
    fail("responses.status", int((~responses["status_code"].isin([202, 400])).sum()))

    ids = Counter(orders["order_id"])
    fail("orders.duplicate_ids", sum(n - 1 for n in ids.values()))
    fail("orders.outcomes", len(set(accepted) ^ set(ids)))
    fail("orders.status", int((~orders["status"].isin(["PROCESSED", "FAILED"])).sum()))

    processed = orders[orders["status"] == "PROCESSED"]
    taken: Counter = Counter()
    for items in processed["items"]:
        for item in json.loads(items):
            taken[item["product_id"]] += int(item["quantity"])
    left = dict(seed_stock)
    if inventory_versions:
        final = inventory_versions[-1]
        left = dict(zip(final["product_id"], final["quantity_available"]))
    fail(
        "inventory.conservation",
        sum(seed_stock[p] - int(left.get(p, 0)) != taken[p] for p in seed_stock),
    )
    fail(
        "inventory.negative",
        sum(int((v["quantity_available"] < 0).sum()) for v in inventory_versions),
    )
    fail(
        "notifications",
        _multiset_gap(Counter(processed["order_id"]),
                      Counter(notifications.get("order_id", ()))),
    )
    return bad
