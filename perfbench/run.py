#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload llm_iterative --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine is driven only through its
public calls: ``session.get_session``, ``registry.load_all()[key].fn``,
and ``CheckoutStream.process_batch`` behind the engine's file source.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with every ``end_to_end`` metric of ``BENCHMARK.json`` (``--trace 0``)
or every ``per_layer`` one (``--trace 1``, which also writes its spans
to ``.perfbench_out/``).  A human-readable copy goes to stderr.  The
exit code is 0 only when every operation succeeded and every output
check held.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.measure import Tracer, peak_rss_mb, retained_mb  # noqa: E402
from perfbench.stats import self_times  # noqa: E402
from perfbench.traffic import MIXES  # noqa: E402

SF_DIR = ROOT / "perfbench" / "data" / "sf0.01"
WORKLOADS = ("llm_iterative", "checkout_stream")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    work: Path
    tracer: Tracer
    mix: str = "default"
    sf_dir: str = str(SF_DIR)
    spark: object = None
    registry: dict | None = None
    jvm_pid: int = 0


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under the
    run's work dir, and let Python workers import the engine.  Must run
    before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", java_opts)  # spark-submit's own JVM
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait()


def _result(run: Run, load, setup_s: float, spark_counters: bool) -> tuple[dict, dict, dict]:
    e2e, layer, detail = load.metrics()
    e2e["setup_s"] = setup_s
    e2e["retained_mb"] = retained_mb(run.spark)
    by_name = {s["name"]: s for s in run.tracer.spans}
    layer["session.start_s"] = _dur(by_name["session.start"])
    layer["registry.load_s"] = _dur(by_name["registry.load"])
    layer["warmup_s"] = _dur(by_name["warmup"])
    layer["process.peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
    if spark_counters:
        layer["trace.overhead_s"] = run.tracer.overhead_s
    return e2e, layer, detail


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _metrics(spec: list[dict], values: dict, fill_zero: bool) -> dict:
    """Values of the metrics ``spec`` names, with their units.  A layer
    the workload never calls reads 0; a missing end-to-end metric is a
    bug."""
    out = {}
    for m in spec:
        if m["name"] not in values and not fill_zero:
            raise KeyError(f"workload produced no {m['name']}")
        out[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
    return out


def exit_code(correct: bool, failed: int) -> int:
    return 0 if correct and failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mix", choices=sorted(MIXES), default="default",
                    help="checkout_stream traffic mix (see perfbench/traffic.py)")
    args = ap.parse_args(argv)

    engine = ROOT / "event_stream_checkout_spark"
    if not engine.is_dir() or not (ROOT / "tools" / "null_sweep.py").is_file():
        print(f"[perfbench] no engine under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    run = Run(args.workload, args.seed, args.seconds, work, Tracer(run_id, bool(args.trace)),
              args.mix)
    _environment(work)
    try:
        from event_stream_checkout_spark.registry import load_all
        from event_stream_checkout_spark.session import get_session

        from perfbench.batch import IterativeBatch
        from perfbench.stream import CheckoutStreamLoad

        tr = run.tracer
        with tr.span("setup") as setup:
            with tr.span("session.start", setup):
                run.spark = get_session("perfbench")
            tr.sc = run.spark.sparkContext
            run.jvm_pid = int(tr.sc._jvm.ProcessHandle.current().pid())
            with tr.span("registry.load", setup):
                run.registry = load_all()
            load = (IterativeBatch if args.workload == "llm_iterative"
                    else CheckoutStreamLoad)(run)
            with tr.span("warmup", setup) as warm:
                load.warm_up(warm)
        # Start the measured phase from a collected heap.
        gc.collect()
        tr.sc._jvm.System.gc()
        with tr.span("measure") as measure:
            load.measure(measure)
        e2e, layer, detail = _result(run, load, _dur(setup), tr.traced)
        attempted, failed = load.attempted, load.failed
    except Exception:  # noqa: BLE001 - report, stop Spark, exit nonzero
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(ROOT / ".perfbench_work" / run_id, ignore_errors=True)

    correct = failed == 0
    if tr.traced:
        selfs = self_times(tr.spans)
        for s in tr.spans:
            s["self_s"] = selfs[s["id"]]
        out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"
        tr.dump(out, workload=args.workload, seed=args.seed, seconds=args.seconds,
                metrics={**e2e, **layer}, detail=detail)
        metrics = _metrics(spec["per_layer"], layer, fill_zero=True)
    else:
        metrics = _metrics(spec["end_to_end"], e2e, fill_zero=False)
    for name, m in metrics.items():
        print(f"[perfbench] {name:44s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(f"[perfbench] {json.dumps(detail)}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return exit_code(correct, failed)


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"[perfbench] exit {code} after {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
