"""Seeded checkout traffic for the ``checkout_stream`` workload.

The engine sees only the JSON-lines files this produces.  Every record
is drawn from one ``random.Random(seed)``, so a seed fixes the whole
offered stream; only the ``timestamp`` field, the record's due time, is
filled in when its file is published.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timezone

# Offered traffic mix, as shares of input lines.  Valid orders name the
# five seed-inventory products; duplicates resubmit an earlier valid
# payload verbatim (same content-addressed order id).  The shares are
# assumed, not taken from observed traffic: neither the reference nor
# its tests give any.  EVEN_MIX, one fifth of each kind, is a clearly
# different mix that ``run.py --mix even`` offers instead, to check how
# far the end-to-end metrics depend on the choice.
MIX = (
    ("single", 0.55),     # one item, valid
    ("multi", 0.25),      # two or three distinct items, valid
    ("reject", 0.08),     # parses, fails validation (HTTP 400)
    ("malformed", 0.04),  # not JSON (HTTP 400, quarantined)
    ("duplicate", 0.08),  # resubmission of an earlier valid order
)
EVEN_MIX = tuple((kind, 0.2) for kind, _ in MIX)
MIXES = {"default": MIX, "even": EVEN_MIX}
PRODUCTS = ("prod-101", "prod-102", "prod-103", "prod-104", "prod-105")


def _items(rng: random.Random, n: int) -> list[dict]:
    return [
        {"product_id": p, "quantity": rng.randint(1, 3)}
        for p in rng.sample(PRODUCTS, n)
    ]


def _reject(rng: random.Random, customer: str) -> dict:
    """A payload that parses but breaks one validation rule."""
    rule = rng.randrange(4)
    if rule == 0:
        return {"customer_id": None, "items": _items(rng, 1)}
    if rule == 1:
        return {"customer_id": customer, "items": []}
    if rule == 2:
        return {"customer_id": customer,
                "items": [{"product_id": PRODUCTS[0], "quantity": -rng.randint(0, 2)}]}
    return {"customer_id": customer, "items": [{"quantity": 1}]}


def make_traffic(
    seed: int, files: int, per_file: int, tag: str, mix=MIX
) -> list[list[tuple[str, dict | str]]]:
    """``files`` lists of ``per_file`` (kind, payload) records drawn
    with the shares of ``mix``.  A payload is a dict without its
    timestamp, or the raw text of a malformed line.  ``tag`` keeps
    customer ids of separate traffic streams in one run apart."""
    rng = random.Random(f"{seed}-{tag}")
    kinds = [k for k, _ in mix]
    weights = [w for _, w in mix]
    valid: list[dict] = []
    out = []
    for f in range(files):
        records: list[tuple[str, dict | str]] = []
        for j in range(per_file):
            kind = rng.choices(kinds, weights)[0]
            customer = f"{tag}-{f}-{j}"
            if kind == "duplicate" and not valid:
                kind = "single"
            if kind == "single":
                payload: dict | str = {"customer_id": customer, "items": _items(rng, 1)}
                valid.append(payload)
            elif kind == "multi":
                payload = {"customer_id": customer, "items": _items(rng, rng.randint(2, 3))}
                valid.append(payload)
            elif kind == "duplicate":
                payload = dict(rng.choice(valid))
            elif kind == "reject":
                payload = _reject(rng, customer)
            else:
                payload = f'{{"customer_id": "{customer}", "items": [{{"product_id": '
            records.append((kind, payload))
        out.append(records)
    return out


def render(records: list[tuple[str, dict | str]], due: float) -> str:
    """JSON-lines text of one file, every valid payload stamped with
    ``due`` (epoch seconds) in the wire format's naive-UTC ISO form."""
    ts = datetime.fromtimestamp(due, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
    lines = [
        p if isinstance(p, str) else json.dumps({**p, "timestamp": ts})
        for _, p in records
    ]
    return "\n".join(lines) + "\n"
