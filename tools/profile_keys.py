#!/usr/bin/env python
"""Per-key profiling: wall time, Spark jobs and generated-code compiles
through the noop sink, measured by bench.py's ``run_key``.

Usage: python tools/profile_keys.py key [key ...]
       python tools/profile_keys.py --headline     # bench.py HEADLINE+EXTENDED
       python tools/profile_keys.py --all          # every registered key

Reads ``$SPARK_GRAFT_SF_DIR`` (default: bench.py's sf0.1 data) and
``$PROFILE_CYCLES`` (default 1).

A high job count on a sub-second query means the time is serial
action/launch overhead (boundary samples, collected scalars, staged
writes), not data-path compute — the guide §1 "where is the time going"
question answered without a UI.  Prints one line per key:
  key  wall_s  n_jobs  n_stages  compiles  build_jobs  exec_jobs
where wall_s is the fastest cycle and the job and stage counts are that
cycle's (stages that ran; skipped stages are not counted).  ``compiles``
is the number of Janino classes compiled during the key's run in each
cycle, e.g. ``64/0`` with PROFILE_CYCLES=2: a warm cycle that still
compiles means the generated-code cache (session.py) is smaller than
the working set.  ``build_jobs`` fired while the DataFrame was built,
``exec_jobs`` in its final write.  Two last lines sum compiles and wall
time per cycle.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import bench
    from event_stream_checkout_spark.registry import load_all
    from event_stream_checkout_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cycles = int(os.environ.get("PROFILE_CYCLES", "1"))
    spark = get_session("ecs-profile")
    registry = load_all()

    args = sys.argv[1:]
    if args and args[0] == "--headline":
        keys = bench.HEADLINE + bench.EXTENDED
    elif args and args[0] == "--all":
        keys = list(registry)
    else:
        keys = args

    bench.warm(spark, sf_dir)
    # Paired A/B runs on a drifting host divide by this constant to
    # separate code from host.
    calib = min(bench.calibrate(spark) for _ in range(3))
    print(f"# calibration\t{calib:.3f}", flush=True)

    runs: dict[str, list[dict]] = {key: [] for key in keys}
    for _ in range(cycles):
        for key in keys:
            runs[key].append(bench.run_key(spark, key, registry[key].fn, sf_dir))
    for key in keys:
        best = min(runs[key], key=lambda r: r["wall_s"])
        print(
            f"{key}\t{best['wall_s']:.3f}\t{best['jobs']}\t{best['stages']}\t"
            + "/".join(str(r["compiles"]) for r in runs[key])
            + f"\t{best['build_jobs']}\t{best['exec_jobs']}",
            flush=True,
        )
    compiles = [sum(runs[k][c]["compiles"] for k in keys) for c in range(cycles)]
    wall = [sum(runs[k][c]["wall_s"] for k in keys) for c in range(cycles)]
    print("# compiles per cycle\t" + "/".join(map(str, compiles)), flush=True)
    print("# wall_s per cycle\t" + "/".join(f"{w:.2f}" for w in wall), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
