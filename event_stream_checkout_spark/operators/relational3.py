"""Relational surface, wave 3: order statistics, argmin/argmax,
distribution window functions, bitwise scalars, and closed-form
correlation — rounding out the analytics function surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import SCALE, dsum, quant, sql_dsum, sql_quant
from ..registry import register
from ..tables import load_table

from ..scratch import scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "agg_percentiles",
    oracle="SELECT o_orderstatus, "
    "round(quantile_cont(o_totalprice, 0.5), 4) AS p50, "
    "round(quantile_cont(o_totalprice, 0.9), 4) AS p90, "
    "round(quantile_cont(o_totalprice, 0.99), 4) AS p99 "
    "FROM orders GROUP BY o_orderstatus",
    doc="Exact interpolated percentiles (A4): both engines use linear "
    "interpolation between closest ranks; rounded at 1e-4 to absorb "
    "last-ulp interpolation differences. At 100 TB prefer "
    "approx_percentile (t-digest style sketch, mergeable).",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "agg_min_max_by",
    oracle="SELECT o_orderstatus, "
    "arg_max(o_orderkey, o_totalprice) AS priciest_order, "
    "arg_min(o_orderkey, o_totalprice) AS cheapest_order, "
    "max(o_totalprice) AS max_price, min(o_totalprice) AS min_price "
    "FROM orders GROUP BY o_orderstatus",
    doc="argmax/argmin aggregation (A4): the key of the extreme row "
    "without a self-join; single-pass, mergeable. Deterministic here "
    "because o_totalprice values are distinct doubles.",
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "agg_corr",
    oracle="SELECT "
    f"(CAST(count(*) AS DOUBLE) * (CAST(SUM({sql_quant('l_quantity * l_extendedprice')}) AS DOUBLE) / 10000.0) "
    f" - (CAST(SUM({sql_quant('l_quantity')}) AS DOUBLE) / 10000.0) "
    f" * (CAST(SUM({sql_quant('l_extendedprice')}) AS DOUBLE) / 10000.0)) / "
    f"(sqrt(CAST(count(*) AS DOUBLE) * (CAST(SUM({sql_quant('l_quantity * l_quantity')}) AS DOUBLE) / 10000.0) "
    f" - (CAST(SUM({sql_quant('l_quantity')}) AS DOUBLE) / 10000.0) "
    f" * (CAST(SUM({sql_quant('l_quantity')}) AS DOUBLE) / 10000.0)) * "
    f"sqrt(CAST(count(*) AS DOUBLE) * (CAST(SUM({sql_quant('l_extendedprice * l_extendedprice')}) AS DOUBLE) / 10000.0) "
    f" - (CAST(SUM({sql_quant('l_extendedprice')}) AS DOUBLE) / 10000.0) "
    f" * (CAST(SUM({sql_quant('l_extendedprice')}) AS DOUBLE) / 10000.0))) "
    "AS qty_price_corr, CAST(count(*) AS BIGINT) AS n FROM lineitem",
    doc="Pearson correlation via the closed form over exact quantized "
    "sums (A4): built-in corr() accumulates engine-specifically; this "
    "form is bit-stable and still single-pass/mergeable.",
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")

    def s(c):
        return F.sum(quant(c)).cast("double") / 10000.0

    n = F.count(F.lit(1)).cast("double")
    num = n * s(q * p) - s(q) * s(p)
    den = F.sqrt(n * s(q * q) - s(q) * s(q)) * F.sqrt(n * s(p * p) - s(p) * s(p))
    return l.agg(
        (num / den).alias("qty_price_corr"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "win_distribution",
    oracle="SELECT c_custkey, c_nationkey, c_acctbal, "
    "percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume "
    "FROM customer WINDOW w AS (PARTITION BY c_nationkey "
    "ORDER BY c_acctbal NULLS FIRST, c_custkey)",
    doc="Distribution window functions (W1): rational count-based "
    "values — engine-exact without rounding. NULL ordering is "
    "DECLARED (NULLS FIRST on both engines): Spark's ASC default is "
    "nulls-first, DuckDB's is nulls-last, so an implicit ordering "
    "diverges the ranks the moment the measure carries a NULL "
    "(null-sweep finding) — unknown sorts below every observed value.",
)
def q_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_first("c_acctbal"), "c_custkey"
    )
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "fn_bitwise",
    oracle="SELECT o_orderkey, "
    "CAST(o_orderkey & 255 AS BIGINT) AS low_byte, "
    "CAST(o_orderkey | 4096 AS BIGINT) AS with_flag, "
    "CAST(xor(o_orderkey, 21845) AS BIGINT) AS xored, "
    "CAST(o_orderkey << 2 AS BIGINT) AS shifted_l, "
    "CAST(o_orderkey >> 3 AS BIGINT) AS shifted_r, "
    "CAST(bit_count(o_orderkey) AS INTEGER) AS popcount "
    "FROM orders",
    doc="Bitwise scalar family (F9-adjacent): exact integer ops, used "
    "by the simhash/bucketing operators.",
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_l"),
        F.shiftright(k, 3).alias("shifted_r"),
        F.bit_count(k).alias("popcount"),
    )


@register(
    "agg_correlated_subquery",
    # Both engines decorrelate the scalar subquery into an aggregate
    # join; sum/count of integral doubles keeps the threshold exact.
    oracle="SELECT l.l_partkey, "
    "CAST(count(*) AS BIGINT) AS n_small_lines, "
    "CAST(sum(l.l_quantity) AS DOUBLE) AS small_qty "
    "FROM lineitem l "
    "WHERE l.l_quantity < (SELECT 0.5 * (sum(l2.l_quantity) / count(*)) "
    "  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) "
    "GROUP BY l.l_partkey",
    doc="Correlated scalar subquery (TPC-H Q17 shape): lines below "
    "half the part's average quantity. Written as a genuine correlated "
    "subquery on both sides — Catalyst decorrelates it into an "
    "aggregate + join (no per-row re-execution); verify via "
    "EXPLAIN: no more than two exchanges.",
)
def q_agg_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_corr")
    return spark.sql(
        "SELECT l.l_partkey, "
        "count(*) AS n_small_lines, "
        "CAST(sum(l.l_quantity) AS DOUBLE) AS small_qty "
        "FROM _li_corr l "
        "WHERE l.l_quantity < (SELECT 0.5 * (sum(l2.l_quantity) / count(*)) "
        "  FROM _li_corr l2 WHERE l2.l_partkey = l.l_partkey) "
        "GROUP BY l.l_partkey"
    )


# ---------------------------------------------------------------------------
# Wave 4: skew-safe aggregation, conditional ratios, argmax-of-count,
# EXCEPT ALL — scale patterns promoted to first-class registered queries.
# ---------------------------------------------------------------------------


@register(
    "agg_salted_skew",
    oracle="SELECT l_returnflag, "
    + sql_dsum("l_extendedprice")
    + " AS revenue, CAST(count(*) AS BIGINT) AS n_lines "
    "FROM lineitem GROUP BY l_returnflag",
    doc="Two-phase SALTED aggregation (the skew-mitigation pattern as a "
    "first-class operator): phase 1 aggregates by (key, salt) — 16-way "
    "deterministic salt spreads a hot key over 16 reducers — phase 2 "
    "merges the partials by key. Result provably identical to the "
    "direct group-by (the oracle IS the direct form). Use when one key "
    "owns a large share of a 100 TB shuffle; AQE skew-join handles "
    "joins, salting handles aggregations.",
)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Deterministic salt (no rand(): replays and retries must agree).
    salted = li.withColumn("_salt", (F.col("l_orderkey") % 16).cast("int"))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        # Partial: exact decimal sums (mergeable); the one division to
        # double happens after the final merge.
        F.sum(quant("l_extendedprice")).alias("_rev_scaled"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partial.groupBy("l_returnflag").agg(
        (F.sum("_rev_scaled").cast("double") / F.lit(SCALE)).alias("revenue"),
        F.sum("_n").alias("n_lines"),
    )


@register(
    "agg_promo_ratio",
    oracle="SELECT 100.0 * ("
    + sql_dsum("CASE WHEN p.p_type LIKE 'PROMO%' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")
    + ") / (" + sql_dsum("l.l_extendedprice * (1 - l.l_discount)") + ") "
    "AS promo_revenue_pct "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey",
    doc="Conditional-aggregate ratio (TPC-H Q14 shape): promo revenue "
    "share. One fact⋈dim join (AQE picks the strategy; part scales "
    "with data so no forced broadcast) + two conditional sums in a "
    "single aggregate pass — not two scans.",
)
def q_agg_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        (F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue_pct")
    )


@register(
    "agg_mode_per_group",
    oracle="WITH c AS (SELECT o_orderstatus, o_orderpriority, "
    "CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus "
    "ORDER BY n DESC, o_orderpriority) AS rnk FROM c) "
    "SELECT o_orderstatus, o_orderpriority AS mode_priority, n "
    "FROM r WHERE rnk = 1",
    doc="Mode (argmax-of-count) per group: count sub-aggregate + "
    "windowed argmax with a deterministic tiebreak. Two shuffles, both "
    "by low-cardinality keys; the window partitions never exceed the "
    "distinct priority count, so no skewed window state.",
)
def q_agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "setop_except_all",
    oracle="SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' "
    "EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'",
    doc="EXCEPT ALL (O4, multiset semantics): each occurrence on the "
    "right cancels ONE occurrence on the left — completes the set-op "
    "family (union/union all/intersect/except). Spark plans a "
    "single-shuffle hash-based left-anti-with-counts.",
)
def q_setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    right = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return left.exceptAll(right)


_S12_BUCKETS = 32


def bucketed_write(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """S12 write leg: persist lineitem and orders bucketBy(32, orderkey)
    + sortBy; returns the two table names.  32 buckets (r7, up from 8):
    bucket count sets the aligned write's task parallelism AND the
    co-located read's partition count — with 8, a 32-core host wrote
    and joined on a quarter of its cores; at sf1 the 32-bucket aligned
    write is 1.7× faster than the 8-bucket one and the read 1.4×.  Split from the read leg so
    the bench can price the pay-once shuffle-at-write separately from
    the recurring zero-exchange read (r4 verdict ask #5)."""
    import hashlib
    import os
    import tempfile

    # Per-process tag component: two concurrent runs against the same
    # sf_dir must not race on one overwrite-mode directory / metastore
    # table (r3 advisor finding).
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    root = scratch_dir("ecs_bucketed", tag)
    li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    for name, table, key in (
        (li_name, "lineitem", "l_orderkey"),
        (ord_name, "orders", "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, table)
            # Pre-partition on the bucket hash (r7): without it each
            # scan task writes into EVERY bucket — tasks×buckets small
            # files and a per-task multi-bucket sort in the writer.
            # Aligned, each task owns exactly one bucket: one file per
            # bucket and a single-run sort — measured ~2× faster on
            # BOTH legs at sf0.1 (write 3.4→1.5 s, co-located read
            # 0.50→0.26 s).  At 100 TB bucket count (not 8) sets write
            # parallelism, so the alignment costs nothing.
            .repartition(_S12_BUCKETS, F.col(key))
            .write.bucketBy(_S12_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", os.path.join(root, name))
            .saveAsTable(name)
        )
    return li_name, ord_name


def bucketed_read(
    spark: SparkSession, li_name: str, ord_name: str
) -> DataFrame:
    """S12 read leg: the co-located bucket-to-bucket join + aggregate
    over the tables bucketed_write persisted — plans with zero Exchange
    on the join keys."""
    li = spark.table(li_name)
    orders = spark.table(ord_name)
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "snk_bucketed",
    oracle="SELECT o_orderstatus, "
    f"{sql_dsum('l_quantity')} AS sum_qty, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderstatus",
    doc="Bucketed sink + co-located join (S10/J4 scale path): both "
    "fact tables are written bucketBy(32, orderkey) + sortBy, then "
    "joined bucket-to-bucket — the join stage plans with ZERO Exchange "
    "on the join keys (asserted by "
    "tests/test_scale_features.py::test_bucketed_join_eliminates_shuffle). "
    "This is THE strategy for a join that recurs on one key at 100 TB: "
    "pay the shuffle once at write time, never again at read time. "
    "The oracle is the same join on the raw parquet — bucketing must "
    "not change results, only the plan. Benched as separate write/read "
    "legs (bucketed_write / bucketed_read) so the pay-once cost and "
    "the recurring read are priced individually.",
    builds_store=True,
)
def q_snk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_name, ord_name = bucketed_write(spark, sf_dir)
    return bucketed_read(spark, li_name, ord_name)


def bucketed_register_existing(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Day-2 catalog registration of the day-1 bucketed layout (S12b):
    (re)create the two table entries FROM THE EXISTING FILES with
    ``CREATE TABLE ... CLUSTERED BY ... INTO 32 BUCKETS LOCATION`` —
    pure metadata DDL, no scan, no shuffle, no rewrite (file mtimes
    asserted unchanged by tests/test_scale_features.py::
    test_bucketed_reuse_cold_catalog).  This is how a second session —
    in production, any session sharing the warehouse catalog; here a
    catalog-cold restart — inherits the pay-once bucket layout: the
    bucket spec lives in the catalog entry, so the co-located join
    plans with zero Exchange again without anyone re-running the
    write.  Builds the day-1 files first if this process hasn't yet
    (the pay-once step; its cost is priced separately by the bench's
    write leg)."""
    import hashlib
    import os
    import tempfile

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    root = scratch_dir("ecs_bucketed", tag)
    li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    if not all(
        os.path.isdir(os.path.join(root, n)) for n in (li_name, ord_name)
    ):
        bucketed_write(spark, sf_dir)
    for name, base, key in (
        (li_name, "lineitem", "l_orderkey"),
        (ord_name, "orders", "o_orderkey"),
    ):
        path = os.path.join(root, name)
        # The bucketed table's schema IS the source table's schema —
        # declare it (metadata-only) instead of inferring from the
        # written files, which have no footers to read when the layout
        # was built over an empty input (empty-tables sweep).
        schema = load_table(spark, sf_dir, base).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {_S12_BUCKETS} BUCKETS LOCATION '{path}'"
        )
    return li_name, ord_name


@register(
    "snk_bucketed_reuse",
    oracle="SELECT o_orderstatus, "
    f"{sql_dsum('l_quantity')} AS sum_qty, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderstatus",
    doc="Bucketed-layout reuse across sessions (S12b — r6 verdict item "
    "8): the day-1 bucketBy(32) files are re-registered in a cold "
    "catalog with metadata-only DDL (CLUSTERED BY ... LOCATION — no "
    "scan, no shuffle, no rewrite), and the co-located join runs over "
    "the re-registered tables with zero Exchange on the join keys, "
    "proving the pay-once shuffle is paid once per LAYOUT, not once "
    "per session. Same oracle as snk_bucketed: catalog plumbing must "
    "not change results.",
    builds_store=True,
)
def q_snk_bucketed_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_name, ord_name = bucketed_register_existing(spark, sf_dir)
    return bucketed_read(spark, li_name, ord_name)


def partitioned_root(sf_dir: str) -> str:
    """The on-disk root q_snk_partitioned writes to. Single source of
    truth for the {md5}_{pid} tag so the query and its pruning-evidence
    test (tests/test_scale_features.py::test_snk_partitioned_prunes)
    can never disagree on the path; PID-scoped so concurrent sessions
    (driver + pytest) never clobber each other's layout."""
    import hashlib
    import os
    import tempfile

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    return scratch_dir("ecs_partitioned", tag)


@register(
    "snk_partitioned",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    f"{sql_dsum('value')} AS sum_value "
    "FROM events WHERE strftime(ts, '%Y-%m-%d') "
    "BETWEEN '2024-01-10' AND '2024-01-12' GROUP BY event_type",
    doc="Date-partitioned sink + partition-pruned read (S10 scale "
    "path, the complement of snk_bucketed): events are written "
    "partitionBy(event_date), and a date-range query reads back ONLY "
    "the 3 matching directories — the scan shows PartitionFilters and "
    "never opens the other 27 days (asserted by "
    "tests/test_scale_features.py::test_snk_partitioned_prunes). At "
    "100 TB this is the difference between scanning 3 days and "
    "scanning 10 years; time-range queries (tumbling/session windows, "
    "as-of joins) ride the same layout. The oracle computes the same "
    "aggregate from the unpartitioned table — layout must not change "
    "results.",
    builds_store=True,
)
def q_snk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = partitioned_root(sf_dir)
    e = _t(spark, sf_dir, "events")
    dated = e.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    dated.write.partitionBy("event_date").mode("overwrite").parquet(root)
    # Explicit schema: an all-empty input writes a partition root with
    # no data files, where inference has nothing to read — and at scale
    # declared schemas beat inference anyway (one less metadata pass).
    r = spark.read.schema(dated.schema).parquet(root).filter(
        F.col("event_date").cast("string").between("2024-01-10", "2024-01-12")
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
    )


def compact_roots(sf_dir: str) -> tuple[str, str]:
    """(raw, compacted) roots for the small-file compaction op —
    PID-scoped like partitioned_root so concurrent sessions never
    clobber each other."""
    import hashlib
    import os
    import tempfile

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    base = scratch_dir("ecs_compact", tag)
    return os.path.join(base, "raw"), os.path.join(base, "compacted")


def compact_partitions(spark: SparkSession, raw_schema, raw: str, out: str):
    """The compaction pass itself: one shuffle keyed on the partition
    column, so every partition's rows land in exactly ONE task and the
    rewrite emits exactly one file per partition directory.  Hash
    collisions between dates only co-locate two dates in one task —
    still one file per directory."""
    (
        spark.read.schema(raw_schema)
        .parquet(raw)
        .repartition(F.col("event_date"))
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(out)
    )


def partition_file_manifest(spark: SparkSession, root: str) -> DataFrame:
    """Data-file count per partition directory from a driver-side
    listing — O(#partitions) metadata work (the lakehouse-manifest op),
    never a data scan.  At 100 TB this listing comes from the table
    format's manifest files instead of the filesystem; the contract
    (count files without reading them) is the same."""
    import glob
    import os

    rows = []
    for d in sorted(glob.glob(os.path.join(root, "event_date=*"))):
        n_files = sum(
            1 for f in os.listdir(d) if f.endswith(".parquet")
        )
        rows.append((os.path.basename(d).split("=", 1)[1], n_files))
    return spark.createDataFrame(rows, "event_date string, n_files long")


@register(
    "snk_partitioned_compact",
    oracle="SELECT strftime(ts, '%Y-%m-%d') AS event_date, "
    "CAST(count(*) AS BIGINT) AS n, "
    f"{sql_dsum('value')} AS sum_value, "
    "CAST(1 AS BIGINT) AS n_files "
    "FROM events GROUP BY 1",
    doc="Small-file compaction for the date-partitioned sink (S13b): "
    "the maintenance op every partitioned 100 TB table needs — a day-1 "
    "write from W tasks leaves up to W files per date directory, and "
    "small files destroy scan throughput (per-file open cost, no "
    "row-group parallelism). The compactor rewrites each partition "
    "into exactly one file via a single shuffle keyed on the partition "
    "column (each date owned by one task — never a global coalesce, "
    "which would serialize the rewrite). The graded result joins the "
    "compacted table's per-date aggregate with a per-date data-file "
    "count from the manifest listing; the oracle derives the same "
    "aggregate from the raw events table with the contract n_files=1 — "
    "so BOTH content preservation and the one-file layout are "
    "hash-checked. Pruned reads still work post-compaction "
    "(tests/test_scale_features.py::test_compaction_reduces_files).",
    builds_store=True,
)
def q_snk_partitioned_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_root, out_root = compact_roots(sf_dir)
    e = _t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # Day-1 state: a task-fragmented partitioned write — 8 writer
    # tasks each touching every date ⇒ up to 8 files per date
    # directory (at test SF the source is one split, so the fan-out
    # must be explicit; on a real cluster it's the natural state of
    # any multi-task ingest).
    e.repartition(8).write.partitionBy("event_date").mode(
        "overwrite"
    ).parquet(raw_root)
    compact_partitions(spark, e.schema, raw_root, out_root)
    agg = (
        spark.read.schema(e.schema)
        .parquet(out_root)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )
    manifest = partition_file_manifest(spark, out_root)
    return agg.join(manifest, "event_date").select(
        "event_date", "n", "sum_value", "n_files"
    )


# Rank-bound table for the approx-percentile verdict: per target
# percentile p, the sketch estimate must lie between the exact order
# statistics at ranks (p-0.5%)·n and (p+0.5%)·n.  Rank arithmetic is
# pure integer math ((P·n) div 1000) so both engines compute identical
# ranks; the bound values are raw data selections — bit-exact across
# engines, unlike interpolated quantiles.
_AP_BOUNDS = (("p50", 495, 505), ("p90", 895, 905), ("p99", 985, 995))


@register(
    "agg_approx_percentile",
    # The sketch value is engine-internal, so (as with
    # agg_approx_distinct) the query emits the rank-error VERDICT:
    # exact order-statistic bounds at the ±0.5% neighboring ranks plus
    # a within-bound boolean per percentile.  accuracy=10000 bounds
    # rank error at 1/10000, far inside the ±0.5% band, so the boolean
    # is robustly TRUE unless the sketch regresses.  DuckDB computes
    # the identical integer ranks and bound values and asserts TRUE.
    oracle="WITH ranked AS (SELECT o_orderstatus, o_totalprice, "
    "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS rk, "
    "count(*) OVER (PARTITION BY o_orderstatus) AS n FROM orders "
    "WHERE o_totalprice IS NOT NULL) "
    "SELECT o_orderstatus, CAST(max(n) AS BIGINT) AS n_rows, "
    + ", ".join(
        f"max(CASE WHEN rk = greatest(1, ({plo}*n)//1000) "
        f"THEN o_totalprice END) AS {name}_lo, "
        f"max(CASE WHEN rk = least(n, ({phi}*n+999)//1000) "
        f"THEN o_totalprice END) AS {name}_hi, "
        f"TRUE AS {name}_ok"
        for name, plo, phi in _AP_BOUNDS
    )
    + " FROM ranked GROUP BY o_orderstatus",
    doc="approx_percentile (A4 sketch path): the 100 TB quantile "
    "strategy — constant-memory, mergeable across partitions, one "
    "pass — where exact quantiles need a full sort per group. The "
    "query also computes that full-sort exact side (order statistics "
    "at the ±0.5% neighboring ranks, integer rank math) and emits "
    "per-group within-bound verdicts, making the sketch "
    "driver-hash-checkable. Completes the approx family next to "
    "agg_approx_distinct (HLL++).",
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantiles are over OBSERVED prices: percentile_approx already
    # ignores NULLs, so the exact rank legs must too, or n counts null
    # rows and (worse) Spark ranks them NULLS FIRST while DuckDB ranks
    # them NULLS LAST — both exact bounds shift (null-sweep finding).
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())
    )
    by_status = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number()
        .over(by_status.orderBy("o_totalprice"))
        .alias("rk"),
        F.count(F.lit(1)).over(by_status).alias("n"),
    )

    def at_rank(rank_sql: str, alias: str):
        # Ties share a value, so "the value at rank k" is deterministic
        # even though row_number breaks ties arbitrarily.
        return F.max(
            F.when(F.col("rk") == F.expr(rank_sql), F.col("o_totalprice"))
        ).alias(alias)

    bounds = ranked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n_rows"),
        *[
            agg
            for name, plo, phi in _AP_BOUNDS
            for agg in (
                at_rank(f"greatest(1L, ({plo}L * n) div 1000)", f"{name}_lo"),
                at_rank(f"least(n, ({phi}L * n + 999) div 1000)", f"{name}_hi"),
            )
        ],
    )
    pct = F.expr(
        "percentile_approx(o_totalprice, array(0.5D, 0.9D, 0.99D), 10000)"
    )
    sketch = o.groupBy("o_orderstatus").agg(
        pct[0].alias("_ap50"), pct[1].alias("_ap90"), pct[2].alias("_ap99")
    )
    joined = bounds.join(F.broadcast(sketch), "o_orderstatus")
    return joined.select(
        "o_orderstatus",
        "n_rows",
        *[c for name, _, _ in _AP_BOUNDS for c in (f"{name}_lo", f"{name}_hi")],
        *[
            F.col(f"_ap{name[1:]}")
            .between(F.col(f"{name}_lo"), F.col(f"{name}_hi"))
            .alias(f"{name}_ok")
            for name, _, _ in _AP_BOUNDS
        ],
    )


# ---------------------------------------------------------------------------
# A31: exact weighted median (bucketed-rank, value-level)
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="WITH w AS (SELECT l_returnflag AS g, l_extendedprice AS v, "
    "CAST(floor(sum(l_quantity)) AS BIGINT) AS wt FROM lineitem "
    "WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2), "
    "tot AS (SELECT g, CAST(sum(wt) AS BIGINT) AS tw FROM w GROUP BY 1), "
    "r AS (SELECT g, v, wt, CAST(sum(wt) OVER (PARTITION BY g ORDER BY v "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM w) "
    "SELECT r.g AS l_returnflag, tot.tw AS total_weight, "
    "min(r.v) AS weighted_median "
    "FROM r JOIN tot ON r.g = tot.g WHERE 2 * r.cw >= tot.tw "
    "GROUP BY 1, 2 ORDER BY 1",
    doc="Exact weighted median (A31): per return flag, the smallest "
    "price v whose cumulative quantity-weight reaches half the "
    "group's total — the robust 'typical price weighted by volume' "
    "the unweighted median misrepresents when cheap items ship in "
    "bulk.  Tie-free by construction: weights collapse to VALUE "
    "level first (one map-side-combined groupBy), so the cumulative "
    "sum walks distinct prices and no row-order ambiguity exists for "
    "either engine.  Scale: the per-group cumulative weight is the "
    "two-pass bucketed prefix sum (sampled boundaries + per-bucket "
    "window + broadcast offsets — the E16/O1 machinery), so no "
    "single-partition sort ever sees the value domain; the pick is "
    "one integer-compare aggregate.  The oracle's plain window is "
    "the same arithmetic on DuckDB's side of the hash.",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_curate import _cumsum_from_buckets
    from .relational import quantile_bucketed

    li = load_table(spark, sf_dir, "lineitem")
    w = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_extendedprice").alias("v"),
        )
        # floor() EXPLICITLY on both sides before the BIGINT cast
        # (ADVICE r11 item 5: Spark's double→long cast truncates while
        # DuckDB's rounds half-up — integral l_quantity masked the
        # divergence; floor pins one semantic in both engines).
        .agg(F.floor(F.sum("l_quantity")).cast("long").alias("wt"))
    )
    # quantile_bucketed's _pid DESCENDS with the value (it serves the
    # top-k/desc rank family); this cumsum walks v ASCENDING, and the
    # helper requires bucket order to match key order — flip the id
    # (still a pure function of the value).
    bucketed = quantile_bucketed(w, "v", nb=32).withColumn(
        "_pid", F.lit(31) - F.col("_pid")
    )
    ranked = _cumsum_from_buckets(
        bucketed, ["g"], [F.col("v").asc()], F.col("wt"), "cw"
    )
    tot = w.groupBy("g").agg(F.sum("wt").cast("long").alias("tw"))
    return (
        ranked.join(F.broadcast(tot), "g")
        .filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("g").alias("l_returnflag"), F.col("tw").alias("total_weight"))
        .agg(F.min("v").alias("weighted_median"))
        .select("l_returnflag", "total_weight", "weighted_median")
        .orderBy("l_returnflag")
    )
