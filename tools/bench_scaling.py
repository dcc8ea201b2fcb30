#!/usr/bin/env python
"""Scaling exponents between two scale factors, measured with bench.py's
``run_key``: every key runs at SMALL_DIR and at BIG_DIR (min over
cycles, noop sink, warm session), and its exponent

    log10(t_big / t_small) / log10(sf_big / sf_small)

lands in OUT_JSON.  0 = latency-bound, 1 = linear wall-clock growth per
data decade; anything >= 0.8 is flagged (superlinear work on fixed
cores would not survive 100 TB).  The scale factors come from the
directory names (``sf0.1``, ``ecs_sf10``; bigger replicas are built by
scripts/make_scaled_sf.py).

Usage: python tools/bench_scaling.py SMALL_DIR BIG_DIR OUT_JSON
                                     [--cycles N] [KEY ...]
       (defaults: cycles=2; every registry key outside bench.py's
       HEADLINE/EXTENDED/EXTRA suites)

Merge-into semantics: re-running with a KEY subset refreshes just those
rows of an existing OUT_JSON, so a long run can be split per key
without losing the rest of the file.  A key that raises at either
scale loses BOTH timings and its exponent and carries an ``error``
instead (ADVICE r14): keeping the other label's timing, from earlier in
this run or merged in from a prior file, would let a later run pair
timings from different code versions into one exponent.

BENCH_TAIL.json (sf0.1 -> sf1) and BENCH_THIRD_DECADE.json (sf10 ->
sf100) at the repo root are snapshots taken by this method's earlier
per-pair scripts.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    argv = sys.argv[1:]
    cycles = 2
    if "--cycles" in argv:
        i = argv.index("--cycles")
        cycles = int(argv[i + 1])
        del argv[i : i + 2]
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    small, big, out = argv[0], argv[1], Path(argv[2])

    import bench
    from event_stream_checkout_spark.registry import load_all
    from event_stream_checkout_spark.session import get_session

    sfs = {d: bench.scale_factor(d) for d in (small, big)}
    for d, sf in sfs.items():
        if not Path(d).is_dir() or sf <= 0:
            print(f"{d}: not a data directory named sfN", file=sys.stderr)
            return 2
    labels = {d: f"sf{sf:g}" for d, sf in sfs.items()}
    registry = load_all()
    suite = set(bench.HEADLINE) | set(bench.EXTENDED) | set(bench.EXTRA)
    keys = argv[3:] or [k for k in sorted(registry) if k not in suite]

    spark = get_session("ecs-bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    if out.exists():
        try:
            results = json.loads(out.read_text()).get("keys", {})
        except ValueError:
            results = {}
    errored: set[str] = set()
    for sf_dir in (small, big):
        label = labels[sf_dir]
        bench.warm(spark, sf_dir)
        for key in keys:
            if key in errored:
                continue  # both labels already cleared; keep the tag
            rec = results.setdefault(key, {})
            try:
                rec[label] = round(min(
                    bench.run_key(spark, key, registry[key].fn, sf_dir)["wall_s"]
                    for _ in range(cycles)
                ), 3)
                rec.pop("error", None)  # clear a stale merged-in error
            except Exception as e:  # noqa: BLE001 - record, continue
                for lab in labels.values():
                    rec[lab] = None
                rec.pop("exponent", None)
                rec["error"] = f"{type(e).__name__}: {e}"[:200]
                errored.add(key)
            print(f"[scaling] {label} {key}: {rec[label]}"
                  f"{' ERR ' + rec['error'] if key in errored else ''}",
                  file=sys.stderr, flush=True)

    decades = math.log10(sfs[big] / sfs[small])
    flagged = []
    for key, rec in results.items():
        a, b = rec.get(labels[small]), rec.get(labels[big])
        # `is not None`, not truthiness (ADVICE r14): a timing rounded
        # to 0.0 is a measurement, not a gap; floor both sides at 1 ms.
        if a is not None and b is not None:
            rec["exponent"] = round(math.log10(max(b, 1e-3) / max(a, 1e-3)) / decades, 3)
            if rec["exponent"] >= 0.8:
                flagged.append(key)
    payload = {
        "methodology": (
            f"bench.run_key, min over {cycles} cycles, noop sink, warm "
            f"session; exponent = log10(t_{labels[big]} / t_{labels[small]})"
            f" / log10({sfs[big]:g} / {sfs[small]:g})"
        ),
        "n_keys": len(results),
        "flagged_ge_0.8": sorted(flagged),
        "keys": dict(sorted(results.items())),
    }
    out.write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps({"n_keys": len(keys), "flagged": sorted(flagged)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
