"""The ``checkout_stream`` workload: open-loop orders through the
engine's file source into ``CheckoutStream.process_batch``.

Set-up runs two warm-up micro-batches of their own traffic (the first
batch of a JVM takes about three times a warm one).  Then one
generator thread publishes a JSON-lines file every ``TICK`` seconds at
``RATE`` orders/s for ``--seconds`` seconds, by atomic rename into the
source directory, each payload stamped with its due time.  The engine
reads with ``order_stream_source(kind="file", max_files_per_trigger=None)``,
so a micro-batch takes every file that landed while the previous one
ran.  After the window the stream drains, stops, and the durable state
is read back with pyarrow (no Spark jobs) for the invariants and for
latency: an order's commit time is the end of the ``process_batch``
call whose ``batch_id`` the orders table records.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds

from .measure import SPARK_COUNTERS, cpu_seconds
from .stats import check_stream, drift, median, order_latencies, percentile
from .traffic import MIXES, make_traffic, render

RATE = 1000          # offered orders per second
TICK = 0.25          # seconds between published files
WARMUP_BATCHES = 2
WARMUP_ORDERS = 250  # per warm-up batch
# A tick that lands after the next one was due counts as failed.
LATE_LIMIT_S = TICK


def _read(path: Path) -> pd.DataFrame:
    """A parquet directory written by the engine, hive partitions as
    columns; '_' and '.' files (markers, checksums) are skipped."""
    if not path.is_dir():
        return pd.DataFrame()
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


class CheckoutStreamLoad:
    def __init__(self, run):
        from event_stream_checkout_spark.pipeline import INVENTORY_SEED
        from event_stream_checkout_spark.streaming.pipeline import CheckoutStream

        self.run = run
        self.inbox = run.work / "inbox"
        self.staging = run.work / "staging"
        self.inbox.mkdir()
        self.staging.mkdir()
        self.engine = CheckoutStream(run.spark, str(run.work / "state"))
        self.seed_stock = {p: q for p, _, q in INVENTORY_SEED}
        self.lines: list = []          # every offered (kind, payload)
        self.files = 0                 # files published so far
        self.taken = 0                 # files handed to micro-batches
        self.batches: list[dict] = []  # one span per process_batch call
        self.ticks: list[tuple[float, float]] = []  # (due, published)
        self.errors: list[str] = []
        self.phase: dict | None = None
        self.done = threading.Condition()

    # -- engine side ------------------------------------------------------

    def _on_batch(self, df, batch_id: int) -> None:
        tr = self.run.tracer
        attrs = {"batch_id": batch_id, "cpu0": cpu_seconds(self.run.jvm_pid)}
        if tr.traced:
            attrs["pending_files"] = self.files - self.taken
            self.taken += len(df.inputFiles())
        try:
            with tr.span("process_batch", self.phase, spark=True, **attrs) as s:
                self.engine.process_batch(df, batch_id)
        except Exception:
            self.errors.append(traceback.format_exc())
            raise
        finally:
            s["cpu_s"] = cpu_seconds(self.run.jvm_pid) - s["cpu0"]
            with self.done:
                self.batches.append(s)
                self.done.notify_all()

    def _wait_batches(self, n: int) -> None:
        with self.done:
            while len(self.batches) < n:
                if self.errors or not self.query.isActive:
                    raise RuntimeError("checkout stream stopped:\n" + "".join(self.errors))
                self.done.wait(0.5)

    # -- traffic side -----------------------------------------------------

    def _publish(self, i: int, records: list, due: float, parent: dict) -> None:
        with self.run.tracer.span("publish", parent, file=i):
            tmp = self.staging / f"orders-{i:06d}.json"
            tmp.write_text(render(records, due))
            os.replace(tmp, self.inbox / tmp.name)
        self.lines.extend(records)
        self.files += 1

    def _generate(self, traffic: list, t0: float, parent: dict) -> None:
        for i, records in enumerate(traffic):
            due = t0 + i * TICK
            if (delay := due - time.time()) > 0:
                time.sleep(delay)
            self._publish(WARMUP_BATCHES + i, records, due, parent)
            self.ticks.append((due, time.time()))

    # -- phases -----------------------------------------------------------

    def warm_up(self, parent: dict) -> None:
        from event_stream_checkout_spark.streaming.sources import order_stream_source

        self.phase = parent
        warm = make_traffic(self.run.seed, WARMUP_BATCHES, WARMUP_ORDERS, "warm")
        self._publish(0, warm[0], time.time(), parent)
        self.query = (
            order_stream_source(self.run.spark, "file", path=str(self.inbox),
                                max_files_per_trigger=None)
            .writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", str(self.run.work / "checkpoint"))
            .start()
        )
        for i in range(1, WARMUP_BATCHES):
            self._wait_batches(i)
            self._publish(i, warm[i], time.time(), parent)
        self._wait_batches(WARMUP_BATCHES)

    def measure(self, parent: dict) -> None:
        self.phase = parent
        n = int(self.run.seconds / TICK)
        traffic = make_traffic(self.run.seed, n, int(RATE * TICK), "load",
                               MIXES[self.run.mix])
        self.w0 = time.time()
        self.w1 = self.w0 + n * TICK
        with self.run.tracer.span("generator", parent) as g:
            gen = threading.Thread(target=self._generate, args=(traffic, self.w0, g))
            gen.start()
            gen.join()
        with self.run.tracer.span("drain", parent):
            if not self.errors:
                self.query.processAllAvailable()
        self.query.stop()
        self.query.awaitTermination()
        if self.errors:
            print("[perfbench] process_batch raised:\n" + "".join(self.errors), file=sys.stderr)

    # -- results ----------------------------------------------------------

    def metrics(self) -> tuple[dict, dict, dict]:
        eng = self.engine
        orders = _read(Path(eng.orders_dir))
        responses = _read(Path(eng.responses_dir))
        notifications = _read(Path(eng.notify_dir))
        # Committed inventory versions: v<batch_id> dirs with a _SUCCESS marker.
        versions = sorted(int(p.name[1:]) for p in Path(eng.inv_root).glob("v*")
                          if (p / "_SUCCESS").exists())
        inventory = [_read(Path(eng.inv_root) / f"v{v}") for v in versions]
        if orders.empty or responses.empty:
            raise RuntimeError("the stream committed no orders")

        self.violations = check_stream(self.lines, responses, orders, inventory,
                                       notifications, self.seed_stock)
        self.late = [pub - due for due, pub in self.ticks]
        late_lines = sum(int(RATE * TICK) for x in self.late if x > LATE_LIMIT_S)

        end = {s["batch_id"]: s["end"] for s in self.batches}
        due = (orders["created_at"] - pd.Timestamp(0)).dt.total_seconds()
        lat, unattributed = order_latencies(zip(orders["batch_id"], due), end, (self.w0, self.w1))
        if unattributed:
            self.violations["orders.unattributed"] = unattributed
        self.failed = sum(self.violations.values()) + late_lines
        self.attempted = len(self.lines)

        measured = [s for s in self.batches if s["start"] >= self.w0]
        dur = [s["end"] - s["start"] for s in measured]
        in_window = {s["batch_id"] for s in measured if s["end"] <= self.w1}
        p50, p90 = percentile(lat, 50), percentile(lat, 90)
        e2e = {
            "unit_s": median(dur),
            "latency_p50_s": p50.value,
            "latency_p90_s": p90.value,
            "cpu_s_per_unit": median(s["cpu_s"] for s in measured),
        }
        rows = responses.groupby("batch_id").size()
        gaps = [b["start"] - a["end"] for a, b in zip(measured, measured[1:])]
        reasons = responses["reason"].value_counts()
        status = orders["status"].value_counts()
        orders_files = [f for f in Path(eng.orders_dir).iterdir() if f.suffix == ".parquet"]
        layer = {
            "stream.batch_s.p50": median(dur),
            "stream.batch_s.p90": percentile(dur, 90).value,
            "stream.batch_s.drift": drift(dur),
            "stream.batch_rows": median(rows.get(s["batch_id"], 0) for s in measured),
            "stream.batches": len(measured),
            "stream.trigger_gap_s": median(gaps) if gaps else 0.0,
            "stream.settled_per_s": orders["batch_id"].isin(in_window).sum() / (self.w1 - self.w0),
            "generator.late_s": max(self.late),
            "state.orders_files": len(orders_files),
            "state.orders_bytes": sum(f.stat().st_size for f in orders_files),
            "state.inventory_versions": len(versions),
            "outcome.processed": int(status.get("PROCESSED", 0)),
            "outcome.failed": int(status.get("FAILED", 0)),
            "outcome.rejected": int(reasons.get("VALIDATION", 0)),
            "outcome.malformed": int(reasons.get("MALFORMED_JSON", 0)),
            "outcome.duplicate": int((responses["status_code"] == 202).sum()) - len(orders),
            "outcome.settled_share": len(orders) / len(self.lines),
        }
        if self.run.tracer.traced:
            layer["source.pending_files"] = median(s["pending_files"] for s in measured)
            for name in SPARK_COUNTERS:
                layer[f"spark.{name}"] = median(s[name] for s in measured)
            slots = self.run.spark.sparkContext.defaultParallelism
            layer["spark.slot_busy_share"] = sum(s["executor_run_s"] for s in measured) / (
                sum(dur) * slots)
        detail = {"orders_in_window": p50.n, "latency_p90_beyond": p90.beyond,
                  "batches_in_window": len(in_window), "violations": self.violations,
                  "late_ticks": sum(x > LATE_LIMIT_S for x in self.late),
                  "batch_jobs": [s.get("jobs") for s in self.batches]}
        return e2e, layer, detail
