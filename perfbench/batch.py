"""The ``llm_iterative`` workload: registry keys whose time goes into
building the DataFrame (training scans, fixpoint rounds, collects), run
as interleaved cycles in a seeded key order.

Each key run is split into **build** (the key's ``fn`` call, which
fires the build jobs) and **exec** (the final plan's noop write).  A
warm-up cycle collects every key's output instead, so the output is
checked against its oracle digest once per run, outside the timed
cycles.
"""

from __future__ import annotations

import gc
import json
import random
import sys
import traceback
from pathlib import Path

from .measure import SPARK_COUNTERS, cpu_seconds
from .stats import digest, median, percentile

# Few enough keys that a cold warm-up cycle plus two timed cycles fit a
# run of about a minute: the connected-components fixpoint, the BPE
# merge rounds, the k-means key with the largest unsettled regression,
# and the one key that reaches streaming.stateful.
KEYS = (
    "graph_copurchase_components",  # connected-components fixpoint
    "llm_phrase_merges",            # iterative pair-merge rounds
    "llm_similarity_ivf_kmeans",    # k-means training + IVF probe
    "state_inventory_replay",       # streaming.stateful fold
)
DIGESTS = Path(__file__).resolve().parent / "digests.json"
# Timed cycles per run: one per CYCLE_SECONDS of --seconds, at least
# one.  A count fixed by the arguments, not a time limit, keeps the
# number of cycles behind unit_s the same on a fast and a slow host; a
# warm cycle takes 8-11 s on a 4-vCPU host.
CYCLE_SECONDS = 7.5


class IterativeBatch:
    def __init__(self, run):
        self.run = run
        self.expected = json.loads(DIGESTS.read_text())
        self.rng = random.Random(run.seed)
        self.records: list[dict] = []  # one per timed key run
        self.attempted = 0
        self.failed = 0

    def _order(self) -> list[str]:
        return self.rng.sample(KEYS, len(KEYS))

    def _key(self, key: str, parent: dict, collect: bool):
        """Run one key under build/exec spans; the output frame when
        ``collect`` is set, else None after a noop write."""
        tr, spark = self.run.tracer, self.run.spark
        fn = self.run.registry[key].fn
        with tr.span("key", parent, key=key) as ks:
            with tr.span("build", ks, spark=True, key=key) as b:
                df = fn(spark, self.run.sf_dir)
            with tr.span("exec", ks, spark=True, key=key) as e:
                if collect:
                    out = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
                    out = None
        return out, b, e

    def _attempt(self, key: str, parent: dict, collect: bool):
        self.attempted += 1
        try:
            return self._key(key, parent, collect)
        except Exception:  # noqa: BLE001 - a key that raises is a failed op
            self.failed += 1
            print(f"[perfbench] {key} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            # Drop the key's frames outside every timed span, so the
            # ContextCleaner can free their pinned blocks.
            gc.collect()

    def warm_up(self, parent: dict) -> None:
        for key in self._order():
            got = self._attempt(key, parent, collect=True)
            if got is None:
                continue
            h = digest(got[0])
            if h != self.expected[key]:
                self.failed += 1
                print(f"[perfbench] {key}: output digest {h} != oracle "
                      f"{self.expected[key]}", file=sys.stderr)

    def measure(self, parent: dict) -> None:
        self.cpu0 = cpu_seconds(self.run.jvm_pid)
        for cycle in range(max(1, round(self.run.seconds / CYCLE_SECONDS))):
            with self.run.tracer.span("cycle", parent, cycle=cycle) as cs:
                for key in self._order():
                    got = self._attempt(key, cs, collect=False)
                    if got is not None:
                        _, b, e = got
                        self.records.append({"cycle": cycle, "key": key, "build": b, "exec": e})
        self.cpu1 = cpu_seconds(self.run.jvm_pid)

    def metrics(self) -> tuple[dict, dict, dict]:
        recs = self.records
        if not recs:
            raise RuntimeError("no key run completed")
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        walls = [dur(r["build"]) + dur(r["exec"]) for r in recs]
        cycles = sorted({r["cycle"] for r in recs})

        def per_cycle(value) -> float:
            """Median over cycles of a per-cycle sum."""
            return median(sum(value(r) for r in recs if r["cycle"] == c) for c in cycles)

        p50, p90 = percentile(walls, 50), percentile(walls, 90)
        e2e = {
            "unit_s": per_cycle(lambda r: dur(r["build"]) + dur(r["exec"])),
            "latency_p50_s": p50.value,
            "latency_p90_s": p90.value,
            "cpu_s_per_unit": (self.cpu1 - self.cpu0) / len(cycles),
        }
        build = per_cycle(lambda r: dur(r["build"]))
        layer = {
            "query.build_s": build,
            "query.exec_s": per_cycle(lambda r: dur(r["exec"])),
            "query.build_share": sum(dur(r["build"]) for r in recs) / sum(walls),
        }
        for key in KEYS:
            mine = [r for r in recs if r["key"] == key]
            if mine:
                layer[f"key.{key}.build_s"] = median(dur(r["build"]) for r in mine)
                layer[f"key.{key}.exec_s"] = median(dur(r["exec"]) for r in mine)
        if self.run.tracer.traced:
            layer["query.build_jobs"] = per_cycle(lambda r: r["build"]["jobs"])
            layer["query.exec_jobs"] = per_cycle(lambda r: r["exec"]["jobs"])
            for name in SPARK_COUNTERS:
                layer[f"spark.{name}"] = per_cycle(lambda r: r["build"][name] + r["exec"][name])
            slots = self.run.spark.sparkContext.defaultParallelism
            layer["spark.slot_busy_share"] = sum(
                r["build"]["executor_run_s"] + r["exec"]["executor_run_s"] for r in recs
            ) / (sum(walls) * slots)
            for key in KEYS:
                mine = [r for r in recs if r["key"] == key]
                if mine:
                    layer[f"key.{key}.jobs"] = median(
                        r["build"]["jobs"] + r["exec"]["jobs"] for r in mine)
        detail = {"key_runs": len(walls), "cycles": len(cycles),
                  "latency_p90_beyond": p90.beyond,
                  "key_s": [(r["key"], round(w, 3)) for r, w in zip(recs, walls)]}
        return e2e, layer, detail
