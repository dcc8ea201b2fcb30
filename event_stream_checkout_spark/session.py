"""SparkSession factory + defensive per-session configuration.

The driver may hand us an already-built session, so every runtime conf
we rely on is (re)applied via :func:`configure`.  Static confs can only
be set when the session is built (:func:`get_session`); on a session
built elsewhere :func:`configure` reads them back and warns once for
each one that differs.

Scale notes (100 TB design):
- AQE on: runtime shuffle coalescing + skew-join splitting replace any
  hand-tuned partition counts when this runs on a real cluster.
- ``nanosAsLong`` lets us scan parquet TIMESTAMP(NANOS) columns (the
  driver's ``events`` table) without a driver-side rewrite; the loader
  converts ns→µs column-side (see tables.py) so the scan stays
  distributed and prunable.
- Session timezone pinned to UTC: the reference emits naive-UTC
  ISO-8601 timestamps (src/ingest_order/app.py:39); we standardize on
  TIMESTAMP_NTZ so results are independent of driver-session TZ.
- Generated-code cache (``spark.sql.codegen.cache.maxEntries``): Spark
  keeps Janino-compiled classes in one JVM-wide LRU cache, keyed by
  (class loader, source), so a class used on the driver thread and in
  a task takes two entries.  At Spark's default of 100 entries the
  engine's repeated units of work cycled through more classes than
  the cache holds, in the same order every time, so each class was
  evicted just before its next use and every micro-batch and key run
  compiled all of its classes again (and the JIT then compiled the
  fresh bytecode again).  Measured working sets, as compiles per unit
  at 100 entries on 4 CPUs (``tools/profile_keys.py`` prints the
  per-key ``compiles`` column): 101 for a cold checkout micro-batch,
  74-91 for a warm one; 157 per perfbench ``llm_iterative`` cycle
  (components 64, phrase merges 24, IVF k-means 39, inventory replay
  30); 324-329 per bench.py HEADLINE+EXTENDED cycle at sf0.01.  2000
  entries hold all of these at once (~600); a warm batch then compiles
  only the 4 classes that inline its ``batch_id`` literal, and a warm
  key cycle compiles none.  Driver metaspace does not grow: 165.0 MB
  after ten micro-batches, against 168.5 MB at 100 entries.
  The conf is static: the cache is built once per JVM, so the value
  goes into the builder and takes effect only when this module starts
  the JVM.  A session the driver provides keeps its own value; results
  are the same, every unit of work recompiles, and :func:`configure`
  warns once.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Static confs: fixed when the JVM's SQL context is created, so they go
# into the builder only (``spark.conf.set`` on them raises).
_STATIC_CONFS: dict[str, str] = {
    # Sized from the measured working sets in the module docstring.
    "spark.sql.codegen.cache.maxEntries": "2000",
}

# Runtime-settable confs applied to any session we touch.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local[32] guidance: match shuffle width to cores; on a real
    # cluster AQE coalesces this down/up as needed.
    "spark.sql.shuffle.partitions": "32",
    # AQE coalescing only ever MERGES post-shuffle partitions — it
    # never splits an oversized one — so the pre-coalesce width must
    # be provisioned for the largest corpus the session will see.  At
    # 32 the r14 third-decade bench (sf100) sorted ~8M-row partitions
    # per reducer and spilled (llm_containment_pairs 424 s → 287 s
    # just from this conf).  256 initial / AQE-coalesced costs the
    # sub-second sf0.1 keys nothing (measured in bench.py r14: the
    # coalescer folds them back to a handful of partitions) and is
    # the shape that survives a 1000-executor cluster, where the same
    # number would be thousands.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # NOTE: no global spark.sql.files.minPartitionNum.  Round 4 A/B
    # (SCALE.md, "Paired A/B of the global
    # `spark.sql.files.minPartitionNum=32`"; n=7 paired, sf0.1) showed
    # the global 32-way scan minimum taxed every sub-second query 10-17%
    # (32-task scheduling overhead on 0.3 s scans) while the queries
    # that NEED wide scans for compute-heavy scan-local expressions
    # already get them via tables.with_min_scan_parallelism at their
    # call sites — which is also the shape that survives 100 TB (a
    # runtime-checked no-op once split count exceeds parallelism).
    # 10 MB broadcast default is conservative; our dims (region/nation/
    # part slices, inventory) are tiny — AQE also converts to broadcast
    # at runtime when sizes allow.
}


# Runtime confs whose absence changes results, not just speed: the
# events loader needs nanosAsLong to scan TIMESTAMP(NANOS) at all, and
# every timestamp is naive UTC.
_REQUIRED_CONFS = frozenset(
    {"spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"}
)

# Confs already warned about in this process.
_warned: set[str] = set()


def _warn_once(key: str, message: str) -> None:
    if key not in _warned:
        _warned.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an existing session (driver-provided ok).

    Raises if a conf in ``_REQUIRED_CONFS`` cannot be set; warns once
    per conf for any other runtime conf that cannot be set and for a
    static conf whose value differs from the engine's."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            if key in _REQUIRED_CONFS:
                raise RuntimeError(
                    f"cannot set {key}={value} on this session; the engine "
                    "depends on it"
                ) from exc
            _warn_once(key, f"cannot set {key}={value} on this session: {exc}")
    for key, value in _STATIC_CONFS.items():
        actual = spark.conf.get(key)
        if actual != value:
            _warn_once(
                key,
                f"static conf {key} is {actual} on this session, not {value}; "
                "it can only be set when the session is built (get_session)",
            )
    return spark


def get_session(app_name: str = "event_stream_checkout_spark") -> SparkSession:
    """Build (or fetch) the canonical local session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in {**_STATIC_CONFS, **_RUNTIME_CONFS}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
