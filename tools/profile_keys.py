#!/usr/bin/env python
"""Per-key profiling: wall time, Spark jobs and generated-code compiles
through the noop sink.

Usage: python tools/profile_keys.py key [key ...]
       python tools/profile_keys.py --headline     # bench.py HEADLINE+EXTENDED
       python tools/profile_keys.py --all          # every registered key

A high job count on a sub-second query means the time is serial
action/launch overhead (boundary samples, collected scalars, staged
writes), not data-path compute — the guide §1 "where is the time going"
question answered without a UI.  Prints one line per key:
  key  wall_s  n_jobs  n_stages  compiles
where ``compiles`` is the number of Janino classes compiled during the
key's run in each cycle, e.g. ``64/0`` with PROFILE_CYCLES=2: a warm
cycle that still compiles means the generated-code cache (session.py)
is smaller than the working set.  Two last lines sum compiles and wall
time per cycle.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from event_stream_checkout_spark.registry import load_all
    from event_stream_checkout_spark.session import get_session

    spark = get_session("ecs-profile")
    sc = spark.sparkContext
    registry = load_all()

    args = sys.argv[1:]
    if args and args[0] == "--headline":
        import bench

        keys = bench.HEADLINE + bench.EXTENDED
    elif args and args[0] == "--all":
        keys = list(registry)
    else:
        keys = args

    # warmup (bench.py stance)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    from pyspark.sql import functions as F

    (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # Host-speed calibration (bench.py's constant): paired A/B runs on
    # this drifting host divide by it to separate code from host.
    calib = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).select(
            F.sum(F.xxhash64("id") % 997)
        ).collect()
        calib = min(calib, time.perf_counter() - t0)
    print(f"# calibration\t{calib:.3f}", flush=True)

    cycles = int(os.environ.get("PROFILE_CYCLES", "1"))
    tracker = sc.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()  # one sample per compile
    compiles: dict[str, list[int]] = {key: [] for key in keys}
    cycle_wall: list[float] = []
    best: dict[str, float] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    for cyc in range(cycles):
        cycle_wall.append(0.0)
        for key in keys:
            group = f"{key}@{cyc}"
            sc.setJobGroup(group, group, False)
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            registry[key].fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t0
            compiles[key].append(compiled.getCount() - c0)
            cycle_wall[-1] += dt
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    n_stages += len(info.stageIds)
            if dt < best.get(key, float("inf")):
                best[key] = dt
                jobs[key] = len(job_ids)
                stages[key] = n_stages
            sc.setJobGroup("idle", "idle", False)
            import gc

            gc.collect()
    for key in keys:
        print(
            f"{key}\t{best[key]:.3f}\t{jobs[key]}\t{stages[key]}\t"
            + "/".join(map(str, compiles[key])),
            flush=True,
        )
    per_cycle = [sum(compiles[key][cyc] for key in keys) for cyc in range(cycles)]
    print("# compiles per cycle\t" + "/".join(map(str, per_cycle)), flush=True)
    print(
        "# wall_s per cycle\t" + "/".join(f"{w:.2f}" for w in cycle_wall),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
