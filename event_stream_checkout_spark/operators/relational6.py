"""Relational surface, wave 7 (r8): the classic decision-support
shapes the inventory still lacked — Q13 (order-count distribution
with the zero bucket), Q17 (correlated small-quantity revenue), Q21
(the double-existential "only failing supplier"), Q18 (agg-driven
large-volume orders), Q22 (global-scalar + anti-join dormant
customers), Q11 (share of a global total), and Q15 (argmax against an
aggregate) — each DECORRELATED into set-oriented aggregates + joins
(the rewrite Catalyst cannot always do for you, and the one that
matters at 100 TB: a correlated per-row subquery is a join in
disguise — expressed as an explicit per-key aggregate it shuffles
once and broadcasts nothing).  Plus the robust-statistics and
storage-lifecycle members that round out the families: winsorized
means on exact rank percentiles (A17), the staleness-tolerance as-of
join (J12), the schema-evolution sink + mergeSchema read (S17), and
CSV ingest with a corrupt-record channel (S18).

These extend the reference's order-lifecycle analytics (the
check-the-orders-table verification loop,
/root/reference/src/order_processor/check_db.py:33-43) to the
fleet-level questions an operator asks of the same tables.

Cross-engine policy: counts are BIGINT; revenue sums go through the
dsum fixed-point policy; correlated thresholds (0.2 x per-part avg,
the global balance average, the value-share fraction) are the same
quantized expression trees on both engines; percentiles are exact
rank statistics, never sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg, dsum, sql_davg, sql_dsum
from ..registry import register
from ..tables import load_table

from ..scratch import scratch_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A13: per-customer order-count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------


@register(
    "agg_custdist",
    oracle="WITH per_cust AS (SELECT c.c_custkey, "
    "CAST(count(o.o_orderkey) AS BIGINT) AS c_count "
    "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
    "AND o.o_orderpriority <> '1-URGENT' GROUP BY 1) "
    "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist "
    "FROM per_cust GROUP BY 1 ORDER BY custdist DESC, c_count DESC",
    doc="Order-count distribution (A13, TPC-H Q13 shape): how many "
    "customers placed exactly N qualifying orders — INCLUDING the "
    "zero-order customers, which is why the join is LEFT OUTER with "
    "the priority predicate in the JOIN condition (in WHERE it would "
    "silently turn the join inner and drop the zero bucket — the "
    "classic Q13 trap). Two collapsing aggregates: per-customer "
    "count (uniform c_custkey shuffle), then the tiny distinct-count "
    "distribution; count(o_orderkey) counts non-null matches only. "
    "Deterministic total order by (custdist, c_count) both DESC.",
)
def q_agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    j = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left_outer",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# A14: small-quantity-order revenue (TPC-H Q17 shape, decorrelated)
# ---------------------------------------------------------------------------

_Q17_BRAND = "Brand#13"


@register(
    "agg_small_qty_revenue",
    oracle="WITH pa AS (SELECT l_partkey, "
    f"{sql_davg('l_quantity')} AS avg_qty "
    "FROM lineitem GROUP BY 1), "
    "hits AS (SELECT l.l_extendedprice FROM lineitem l "
    "JOIN part p ON l.l_partkey = p.p_partkey "
    f"AND p.p_brand = '{_Q17_BRAND}' "
    "JOIN pa ON l.l_partkey = pa.l_partkey "
    "WHERE l.l_quantity < 0.2 * pa.avg_qty) "
    f"SELECT round({sql_dsum('l_extendedprice')} / 7.0, 6) AS avg_yearly, "
    "CAST(count(*) AS BIGINT) AS n_small FROM hits",
    doc="Small-quantity-order revenue (A14, TPC-H Q17 shape): revenue "
    "locked in orders below 20% of a part's own average quantity — "
    "the canonical CORRELATED scalar subquery, implemented "
    "DECORRELATED: the per-part average is ONE explicit aggregate "
    "over lineitem (map-side partials on the uniform l_partkey), "
    "joined back instead of re-evaluated per probe row; the brand "
    "filter joins the dimension-sized part table (AQE picks the "
    "strategy — no forced broadcast, part scales with the catalog). "
    "The 0.2*avg threshold is the identical quantized-avg expression "
    "tree on both engines, so the float comparison agrees bitwise. "
    "At 100 TB this is two lineitem scans (avg leg column-pruned to "
    "(partkey, quantity)) — the decorrelation price, vs a per-row "
    "subquery that is quadratic or a rewrite you hope the optimizer "
    "finds.",
)
def q_agg_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == _Q17_BRAND
    ).select("p_partkey")
    pa = li.groupBy("l_partkey").agg(davg("l_quantity").alias("avg_qty"))
    hits = (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(p, li.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return hits.agg(
        F.round(dsum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


# ---------------------------------------------------------------------------
# J10: unique-bottleneck supplier (TPC-H Q21 shape, decorrelated)
# ---------------------------------------------------------------------------

_LATE_DAYS = 60
_Q21_TOPK = 20


@register(
    "join_waiting_supplier",
    oracle="WITH lo AS (SELECT l.l_orderkey, l.l_suppkey, "
    f"(l.l_shipdate > o.o_orderdate + INTERVAL {_LATE_DAYS} DAY) AS late "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), "
    "per_order AS (SELECT l_orderkey, "
    "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp, "
    "CAST(count(DISTINCT CASE WHEN late THEN l_suppkey END) AS BIGINT) "
    "AS n_late_supp FROM lo GROUP BY 1), "
    "blamed AS (SELECT DISTINCT lo.l_orderkey, lo.l_suppkey FROM lo "
    "JOIN per_order po ON lo.l_orderkey = po.l_orderkey "
    "WHERE lo.late AND po.n_supp > 1 AND po.n_late_supp = 1) "
    "SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait "
    "FROM blamed b JOIN supplier s ON b.l_suppkey = s.s_suppkey "
    f"GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT {_Q21_TOPK}",
    doc="Unique-bottleneck supplier (J10, TPC-H Q21 shape): suppliers "
    "who shipped late (> 60 days after the order date) on "
    "multi-supplier orders where NO OTHER supplier was late — Q21's "
    "EXISTS + NOT EXISTS pair, DECORRELATED into one per-order "
    "aggregate joined back: the double correlated existential "
    "becomes the predicate n_supp > 1 AND n_late_supp = 1 on a "
    "#orders-sized frame. Plan (r8 rework — the first cut claimed "
    "partition reuse it did not get: count_distinct's Expand plus a "
    "two-consumer diamond re-exchanged l_orderkey 7x in the executed "
    "plan): ONE explicit repartition on l_orderkey, a partition-"
    "local collapse to distinct (order, supplier, late) rows "
    "(hash(ok) satisfies the (ok, sk) clustering by the subset "
    "rule — no exchange), and the per-order counts as WINDOW "
    "aggregates over the same partitioning instead of a groupBy "
    "joined back — no second consumer, no diamond, no Expand: the "
    "whole existential evaluates on one orderkey exchange (plan "
    "contract pins exactly that). Window groups are per-order "
    "distinct-supplier sets — bounded by order fan-out, never by "
    "history. Supplier name join is dimension-sized; final ranking "
    "is a TakeOrdered heap. The '+60 days' lateness stands in for "
    "TPC-H's receipt-vs-commit dates, which this corpus does not "
    "carry.",
)
def q_join_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.date_add(F.col("o_orderdate"), _LATE_DAYS)
            ).alias("late"),
        )
        .repartition(F.col("l_orderkey"))
    )
    # Partition-local collapse: hash(l_orderkey) satisfies the
    # (l_orderkey, l_suppkey) clustering (subset rule) — no exchange.
    los = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    # Per-order existentials as WINDOW aggregates on the SAME
    # partitioning — no groupBy-and-join-back diamond.
    wo = Window.partitionBy("l_orderkey")
    blamed = (
        los.withColumn("n_supp", F.count(F.lit(1)).over(wo))
        .withColumn(
            "n_late_supp",
            F.count(F.when(F.col("late"), 1)).over(wo),
        )
        .filter(
            F.col("late")
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(_Q21_TOPK)
    )


# ---------------------------------------------------------------------------
# A15: large-volume orders (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

_Q18_QTY = 250
_Q18_TOPK = 20


@register(
    "agg_large_volume_orders",
    oracle="WITH big AS (SELECT l_orderkey, "
    f"{sql_dsum('l_quantity')} AS total_qty FROM lineitem GROUP BY 1 "
    f"HAVING {sql_dsum('l_quantity')} > {_Q18_QTY}) "
    "SELECT c.c_custkey, o.o_orderkey, o.o_totalprice, b.total_qty "
    "FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    f"ORDER BY b.total_qty DESC, o.o_orderkey LIMIT {_Q18_TOPK}",
    doc="Large-volume orders (A15, TPC-H Q18 shape): orders whose "
    "total lineitem quantity exceeds 250, joined out to their "
    "customers, top-20 by volume — the classic grouped-HAVING-"
    "feeding-IN-subquery, decorrelated the only scalable way: the "
    "HAVING aggregate IS the driving table (ordkey-collapsed, "
    "~2% selectivity here) so the orders/customer joins touch only "
    "qualifying keys, never the reverse. Stable-sum quantities make "
    "the HAVING cut and the ranking engine-exact; TakeOrdered heap, "
    "no global sort. At 100 TB the agg shuffles lineitem once on its "
    "natural key and everything downstream is qualifying-keys-sized.",
)
def q_agg_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(_Q18_TOPK)
    )


# ---------------------------------------------------------------------------
# A16: dormant high-balance customers (TPC-H Q22 shape)
# ---------------------------------------------------------------------------


@register(
    "agg_dormant_customers",
    oracle="WITH avg_bal AS (SELECT "
    f"{sql_davg('CASE WHEN c_acctbal > 0 THEN c_acctbal END')} AS ab "
    "FROM customer) "
    "SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_cust, "
    f"{sql_dsum('c.c_acctbal')} AS total_bal "
    "FROM customer c, avg_bal a "
    "WHERE c.c_acctbal > a.ab AND NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderpriority = '1-URGENT') "
    "GROUP BY 1 ORDER BY 1",
    doc="Dormant high-balance customers (A16, TPC-H Q22 shape): "
    "customers holding above-average positive balances who never "
    "placed an urgent order, grouped by nation — the NOT EXISTS + "
    "global-scalar-subquery pair. Decorrelated: the average balance "
    "is ONE conditional aggregate broadcast as a scalar (the "
    "correlated form re-evaluates it per row); the NOT EXISTS is a "
    "LEFT ANTI join against the column-pruned filtered orders leg "
    "(hash anti-join, AQE-owned strategy — at 100 TB the filtered "
    "leg is priority-pruned before the exchange). Stable avg/sum "
    "policy makes the threshold and totals engine-exact. (TPC-H's "
    "original no-orders-at-all predicate is degenerate on this "
    "corpus — every customer has orders — so the anti leg filters "
    "to urgent orders, same shape, non-empty answer.)",
)
def q_agg_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    avg_bal = c.agg(
        davg(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))).alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# A17: winsorized robust statistics per group (exact rank percentiles)
# ---------------------------------------------------------------------------

_WINS_LO_PCT = 5
_WINS_HI_PCT = 95


@register(
    "agg_winsorized_stats",
    oracle="WITH r AS (SELECT c_nationkey, c_custkey, c_acctbal, "
    "CAST(row_number() OVER (PARTITION BY c_nationkey "
    "ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rn, "
    "CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n "
    "FROM customer WHERE c_acctbal IS NOT NULL), "
    "lo AS (SELECT c_nationkey, c_acctbal AS lo FROM r "
    f"WHERE rn = greatest(1, ({_WINS_LO_PCT} * n + 99) // 100)), "
    "hi AS (SELECT c_nationkey, c_acctbal AS hi FROM r "
    f"WHERE rn = greatest(1, ({_WINS_HI_PCT} * n + 99) // 100)) "
    "SELECT r.c_nationkey, CAST(max(r.n) AS BIGINT) AS n, "
    "max(lo.lo) AS p05, max(hi.hi) AS p95, "
    + sql_davg("greatest(lo.lo, least(hi.hi, r.c_acctbal))")
    + " AS wins_mean "
    "FROM r JOIN lo ON r.c_nationkey = lo.c_nationkey "
    "JOIN hi ON r.c_nationkey = hi.c_nationkey GROUP BY 1",
    doc="Winsorized robust statistics per group (A17): per-nation "
    "account-balance mean with both tails clipped at the EXACT 5th/"
    "95th percentiles — robust location estimation, the outlier-"
    "resistant sibling of agg_stats (a handful of extreme balances "
    "move a plain mean arbitrarily; the winsorized mean is bounded). "
    "Percentiles are EXACT rank statistics, not sketches: the value "
    "at ceil(p·n/100) in (value, custkey) order — integer rank "
    "arithmetic, so both engines pick the identical row and the "
    "whole result hash-matches (approx sketches like "
    "percentile_approx differ across engines by design, which is "
    "why agg_approx_percentile grades error BOUNDS instead). Shape: "
    "one rank window PARTITIONED by nation (parallel across groups; "
    "a giant group upgrades to the grouped bucketed prefix-sum, "
    "llm_curate._cumsum_from_buckets with part_cols, same "
    "contract), boundary rows join back dimension-sized, clipping "
    "and the stable mean are scan-local.",
)
def q_agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rank statistics are over OBSERVED balances: NULLs are excluded
    # up front (unguarded they rank NULLS FIRST on Spark vs NULLS LAST
    # on DuckDB, shifting every percentile row — the null-sweep
    # divergence class).
    c = (
        _t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .filter(F.col("c_acctbal").isNotNull())
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_nationkey")
    r = c.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(wn).cast("long")
    )

    def at_pct(pct: int, name: str) -> DataFrame:
        target = F.greatest(
            F.lit(1).cast("long"),
            ((F.lit(pct) * F.col("n") + 99) / 100).cast("long"),
        )
        return r.filter(F.col("rn") == target).select(
            "c_nationkey", F.col("c_acctbal").alias(name)
        )

    lo = at_pct(_WINS_LO_PCT, "lo")
    hi = at_pct(_WINS_HI_PCT, "hi")
    j = r.join(F.broadcast(lo), "c_nationkey").join(
        F.broadcast(hi), "c_nationkey"
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("c_acctbal")))
    return j.groupBy("c_nationkey").agg(
        F.max("n").alias("n"),
        F.max("lo").alias("p05"),
        F.max("hi").alias("p95"),
        davg(clipped).alias("wins_mean"),
    )


# ---------------------------------------------------------------------------
# A18: important-value parts (TPC-H Q11 shape)
# ---------------------------------------------------------------------------

_Q11_FRACTION = 0.0007


@register(
    "agg_important_parts",
    oracle="WITH pv AS (SELECT l_partkey, "
    f"{sql_dsum('l_extendedprice')} AS v FROM lineitem GROUP BY 1), "
    f"t AS (SELECT {sql_dsum('v')} AS g FROM pv) "
    "SELECT pv.l_partkey, pv.v AS part_value "
    f"FROM pv, t WHERE pv.v > {_Q11_FRACTION} * t.g "
    "ORDER BY pv.v DESC, pv.l_partkey",
    doc="Important-value parts (A18, TPC-H Q11 shape): parts whose "
    "total lineitem value exceeds a fixed fraction of the GLOBAL "
    "total — the HAVING-against-a-global-scalar-subquery pattern "
    "(Q11's partsupp value share, expressed over lineitem since this "
    "corpus carries no partsupp). Decorrelated: the global total is "
    "ONE aggregate over the per-part frame (not a rescan of "
    "lineitem) broadcast as a scalar; the share comparison is "
    "scan-local on the #parts-sized frame. Both sums ride the "
    "fixed-point policy and the threshold multiply is the identical "
    "tree on both engines. Output ordered by (value DESC, partkey) — "
    "a total deterministic order on a dimension-sized result (plain "
    "sort, not TakeOrdered: Q11 returns ALL qualifying parts).",
)
def q_agg_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pv = li.groupBy("l_partkey").agg(dsum("l_extendedprice").alias("v"))
    t = pv.agg(dsum("v").alias("g"))
    return (
        pv.crossJoin(F.broadcast(t))
        .filter(F.col("v") > _Q11_FRACTION * F.col("g"))
        .select("l_partkey", F.col("v").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# ---------------------------------------------------------------------------
# J11: top-revenue supplier (TPC-H Q15 shape)
# ---------------------------------------------------------------------------

_Q15_START = "DATE '1996-01-01'"
_Q15_END = "DATE '1996-04-01'"


@register(
    "join_top_supplier",
    oracle="WITH sr AS (SELECT l_suppkey, "
    + sql_dsum("l_extendedprice * (1 - l_discount)")
    + " AS total_revenue FROM lineitem "
    f"WHERE l_shipdate >= {_Q15_START} AND l_shipdate < {_Q15_END} "
    "GROUP BY 1), "
    "mx AS (SELECT max(total_revenue) AS m FROM sr) "
    "SELECT s.s_suppkey, s.s_name, sr.total_revenue "
    "FROM sr JOIN supplier s ON sr.l_suppkey = s.s_suppkey, mx "
    "WHERE sr.total_revenue = mx.m ORDER BY s.s_suppkey",
    doc="Top-revenue supplier (J11, TPC-H Q15 shape): the supplier(s) "
    "whose quarterly revenue equals the maximum — Q15's revenue VIEW "
    "joined against its own MAX, the argmax-against-an-aggregate "
    "pattern. The quarter predicate pushes to the lineitem scan "
    "(date pushdown); the revenue rollup shuffles once on the "
    "uniform supplier key; the max is a 1-row broadcast scalar and "
    "the equality filter runs scan-local — no window, no sort of the "
    "revenue frame. Revenue goes through the fixed-point policy, so "
    "the max-equality comparison (notoriously float-fragile in Q15) "
    "is engine-exact by construction; ties ALL surface, ordered by "
    "supplier key, exactly as the TPC-H spec requires.",
)
def q_join_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr(_Q15_START))
        & (F.col("l_shipdate") < F.expr(_Q15_END))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sr = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = sr.agg(F.max("total_revenue").alias("m"))
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("m"))
        .join(s, sr.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# J12: as-of join with staleness tolerance
# ---------------------------------------------------------------------------

_ASOF_TOLERANCE_DAYS = 7


@register(
    "join_asof_tolerance",
    oracle="WITH tagged AS ("
    "  SELECT user_id, ts, event_type, value, "
    "    CASE WHEN event_type = 'signup' THEN ts END AS signup_ts "
    "  FROM events WHERE event_type IN ('signup', 'purchase')), "
    "enriched AS ("
    "  SELECT user_id, ts, event_type, value, "
    "    max(signup_ts) OVER (PARTITION BY user_id ORDER BY ts, event_type "
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts"
    "  FROM tagged) "
    "SELECT user_id, ts, value, "
    "CASE WHEN last_signup_ts IS NOT NULL AND "
    f"ts <= last_signup_ts + INTERVAL {_ASOF_TOLERANCE_DAYS} DAY "
    "THEN last_signup_ts END AS signup_within_tolerance "
    "FROM enriched WHERE event_type = 'purchase'",
    doc="As-of join with staleness tolerance (J12, the pandas "
    "merge_asof(tolerance=...) semantic): each purchase gets its "
    "latest preceding signup ONLY if that signup is at most 7 days "
    "old — stale matches become NULL instead of silently joining "
    "(feature-store correctness: a feature older than its freshness "
    "SLA must not enrich the event; the plain as-of join, J7, would "
    "happily attach a year-old value). Same scalable plan as J7 — "
    "union + running-max over ONE per-key shuffle, no per-row range "
    "probing — with the tolerance applied as a scan-local predicate "
    "AFTER the carry (the match must first be the latest-preceding "
    "one; filtering signups by age beforehand would wrongly promote "
    "an even older signup into range... there is none older in "
    "range, but the two-step form also keeps the carried column "
    "available for freshness auditing). Timestamps exact, interval "
    "arithmetic integer — hash-stable.",
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias(
            "signup_ts"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tol = F.expr(f"INTERVAL {_ASOF_TOLERANCE_DAYS} DAYS")
    return (
        tagged.withColumn("last_signup_ts", F.max("signup_ts").over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "value",
            F.when(
                F.col("last_signup_ts").isNotNull()
                & (F.col("ts") <= F.col("last_signup_ts") + tol),
                F.col("last_signup_ts"),
            ).alias("signup_within_tolerance"),
        )
    )


# ---------------------------------------------------------------------------
# S17: schema-evolution sink + merged read
# ---------------------------------------------------------------------------

_EVO_CUTOFF = "DATE '2001-06-01'"


@register(
    "snk_schema_evolution",
    oracle="WITH d1 AS (SELECT o_orderkey, o_totalprice, "
    "CAST(NULL AS VARCHAR) AS o_channel FROM orders "
    f"WHERE o_orderdate < {_EVO_CUTOFF}), "
    "d2 AS (SELECT o_orderkey, o_totalprice, "
    "CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END AS o_channel "
    f"FROM orders WHERE o_orderdate >= {_EVO_CUTOFF}), "
    "u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2) "
    "SELECT coalesce(o_channel, '(pre-evolution)') AS channel, "
    "CAST(count(*) AS BIGINT) AS n, "
    f"{sql_dsum('o_totalprice')} AS revenue FROM u GROUP BY 1",
    doc="Schema-evolution sink + merged read (S17): day-1 writes "
    "orders WITHOUT the o_channel column, day-2's batch arrives WITH "
    "it (the additive-column evolution every long-lived dataset "
    "hits), and the read-back uses mergeSchema so day-1 rows surface "
    "the new column as NULL instead of failing or silently dropping "
    "it — parquet's append-only answer to ALTER TABLE ADD COLUMN. "
    "The graded aggregate rolls revenue up by channel with the "
    "pre-evolution rows in an explicit '(pre-evolution)' bucket, so "
    "the hash proves BOTH that old rows survive the merge with NULLs "
    "and that new rows carry their values. Scale note: mergeSchema "
    "reconciles footers at planning time (cost scales with #files, "
    "not bytes — a production lake pins the merged schema in a "
    "catalog instead of re-deriving it per query, which is what "
    "snk_bucketed_reuse's metadata-only re-registration models); "
    "the data path is an ordinary pruned scan.",
    builds_store=True,
)
def q_snk_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    root = scratch_dir("ecs_evo", tag)
    shutil.rmtree(root, ignore_errors=True)

    o = _t(spark, sf_dir, "orders")
    pre = F.expr(f"o_orderdate < {_EVO_CUTOFF}")
    d1 = o.filter(pre).select("o_orderkey", "o_totalprice")
    d2 = o.filter(~pre).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("web"))
        .otherwise(F.lit("store"))
        .alias("o_channel"),
    )
    d1.write.mode("overwrite").parquet(root)
    d2.write.mode("append").parquet(root)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy(
        F.coalesce(F.col("o_channel"), F.lit("(pre-evolution)")).alias(
            "channel"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# S18: CSV ingest with explicit schema + corrupt-record channel
# ---------------------------------------------------------------------------

_CSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "src_csv_events",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    f"{sql_dsum('value')} AS sum_value, "
    "CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us, "
    "CAST(0 AS BIGINT) AS n_corrupt "
    "FROM events GROUP BY 1",
    doc="CSV ingest with explicit schema and corrupt-record channel "
    "(S18): the events table round-trips through CSV — written with "
    "an explicit microsecond timestamp format and proper quoting "
    "(the props column holds JSON with commas: the quote/escape "
    "handling IS the test), read back with a DECLARED schema (never "
    "inferSchema: a 100 TB inference pass reads everything twice and "
    "types by luck), PERMISSIVE mode, and a _corrupt_record column "
    "so malformed lines land in an auditable channel instead of "
    "killing the job (the reference's malformed-payload branch, "
    "src/ingest_order/app.py:64-68, as a source-format concern). "
    "Graded as per-type counts + stable value sums + max event-time "
    "micros + the corrupt count (zero on a clean round-trip): the "
    "hash proves values, timestamps to the microsecond, and "
    "row-counts all survive serialization. Scale: CSV is the "
    "interchange format of last resort — unsplittable only when "
    "compressed, schema-on-read, no pushdown — which is exactly why "
    "the op exists: land CSV once, validate, convert to parquet "
    "(every other operator in this engine).",
)
def q_src_csv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    root = scratch_dir("ecs_csv", tag)
    shutil.rmtree(root, ignore_errors=True)

    e = _t(spark, sf_dir, "events")
    (
        e.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", _CSV_TS_FMT)
        .csv(root)
    )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string, "
        "_corrupt_record string"
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampNTZFormat", _CSV_TS_FMT)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(root)
    )
    us = (
        F.unix_date(F.col("ts").cast("date")).cast("long") * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
    ) * 1_000_000 + (
        F.expr("extract(second from ts)") * 1_000_000
    ).cast("long")
    agg = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
        F.max(us).alias("max_ts_us"),
        F.count("_corrupt_record").alias("n_corrupt"),
    )
    # Pin the per-type rollup (a handful of rows) in executor storage so
    # the corpus-sized CSV staging dir can be removed NOW instead of
    # leaking one copy per run (same fix as src_jsonl_documents,
    # ADVICE r9) — the returned frame no longer references the files.
    agg = agg.localCheckpoint()
    shutil.rmtree(root, ignore_errors=True)
    return agg


# ---------------------------------------------------------------------------
# A19: market-basket co-purchase pairs with lift
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 3
_MB_TOPK = 25


@register(
    "agg_copurchase_lift",
    oracle="WITH li AS (SELECT DISTINCT l_orderkey, l_partkey "
    "FROM lineitem), "
    "n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders "
    "FROM li), "
    "sup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM li "
    "GROUP BY 1), "
    "pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
    "CAST(count(*) AS BIGINT) AS support FROM li a JOIN li b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    f"GROUP BY 1, 2 HAVING count(*) >= {_MB_MIN_SUPPORT}) "
    "SELECT p.part_a, p.part_b, p.support, "
    "round(CAST(p.support AS DOUBLE) * n.n_orders / "
    "(sa.s * CAST(sb.s AS DOUBLE)), 6) AS lift "
    "FROM pairs p JOIN sup sa ON p.part_a = sa.l_partkey "
    "JOIN sup sb ON p.part_b = sb.l_partkey CROSS JOIN n "
    f"ORDER BY lift DESC, part_a, part_b LIMIT {_MB_TOPK}",
    doc="Market-basket co-purchase pairs with lift (A19): part pairs "
    "appearing in the same order, scored by lift = P(a,b)/(P(a)·"
    "P(b)) — association-rule mining's core statistic (lift > 1 = "
    "bought together more than chance; the 'customers also bought' "
    "analytic). Pair generation is the per-GROUP expansion shape: "
    "the self-join keys on l_orderkey, so pair output is bounded by "
    "basket size squared PER ORDER (baskets are human-scale, ≤13 "
    "here — the same bounded-by-group-fan-out stance as session "
    "paths), never corpus²; the distinct pre-collapse kills "
    "duplicate-lineitem inflation first. Min-support 3 prunes the "
    "long tail BEFORE the support joins (HAVING on the aggregate); "
    "per-part supports and the order count are collapsing "
    "aggregates, the 1-row n broadcast; lift is one double "
    "multiply/divide tree identical on both engines, rounded 1e-6, "
    "TakeOrdered ranking with full tiebreak.",
)
def q_agg_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    # The distinct (order, part) frame feeds FOUR consumers (order
    # count, per-part supports, both pair-join legs) — unpinned, each
    # re-scans lineitem (8 scans observed in the executed plan), and
    # the frame is FACT-scale, so executor-storage pinning is the
    # wrong tool: stage it to scratch parquet once (the BPE-rounds
    # trade) and serve all consumers from the slim 2-column files.
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    root = scratch_dir("ecs_basket", tag)
    shutil.rmtree(root, ignore_errors=True)
    (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .write.mode("overwrite")
        .parquet(root)
    )
    li = spark.read.parquet(root)
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    sup = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _MB_MIN_SUPPORT)
    )
    sa = sup.select(
        F.col("l_partkey").alias("part_a"), F.col("s").alias("sa")
    )
    sb = sup.select(
        F.col("l_partkey").alias("part_b"), F.col("s").alias("sb")
    )
    lift = (
        F.col("support").cast("double")
        * F.col("n_orders")
        / (F.col("sa") * F.col("sb").cast("double"))
    )
    out = (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_MB_TOPK)
    )
    # Pin the 25-row ranking in executor storage so the fact-scale
    # staged frame can be removed NOW (the repo-wide r10 staging-leak
    # sweep) instead of waiting for the atexit backstop.
    out = out.localCheckpoint()
    shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# A20: ABC (Pareto) classification by cumulative value share
# ---------------------------------------------------------------------------

_ABC_A_PCT = 70
_ABC_B_PCT = 90


@register(
    "agg_abc_classes",
    oracle="WITH pv AS (SELECT l_partkey, "
    "CAST(SUM(CAST(floor(l_extendedprice * 10000.0 + 0.5) "
    "AS DECIMAL(25,0))) AS BIGINT) AS units FROM lineitem GROUP BY 1), "
    "tot AS (SELECT CAST(sum(units) AS BIGINT) AS g FROM pv), "
    "c AS (SELECT l_partkey, units, "
    "CAST(sum(units) OVER (ORDER BY units DESC, l_partkey) AS BIGINT) "
    "AS cum FROM pv), "
    "cls AS (SELECT l_partkey, units, "
    f"CASE WHEN cum * 100 <= {_ABC_A_PCT} * t.g THEN 'A' "
    f"WHEN cum * 100 <= {_ABC_B_PCT} * t.g THEN 'B' ELSE 'C' END AS abc "
    "FROM c, tot t) "
    "SELECT abc, CAST(count(*) AS BIGINT) AS n_parts, "
    "round(CAST(sum(units) AS DOUBLE) / 10000.0, 4) AS class_value "
    "FROM cls GROUP BY 1 ORDER BY 1",
    doc="ABC / Pareto classification (A20): parts ranked by total "
    "value, classed A while the cumulative share stays under 70% of "
    "the global total, B to 90%, C beyond — the inventory-management "
    "standard (the few A-parts get tight control, the C long tail "
    "gets bulk policies). Engine-exactness end to end: per-part "
    "values are EXACT integer ten-thousandths (no float "
    "accumulation), the cumulative is an integer prefix, and the "
    "class cut is integer cross-multiplication (cum·100 ≤ pct·total) "
    "— no float share ever computed, so the boundary part classes "
    "identically on any engine. Scale: the cumulative runs through "
    "the TWO-PASS bucketed prefix-sum over the #parts frame "
    "(quantile-seeded buckets; the only partition-less window is the "
    "O(#buckets) offsets — the sort_orders contract), the global "
    "total is a broadcast scalar, and the class rollup is a 3-key "
    "aggregate.",
)
def q_agg_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_curate import _cumsum_from_buckets
    from .relational import quantile_bucketed

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pv = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 10000.0 + 0.5).cast(
                "decimal(25,0)"
            )
        )
        .cast("long")
        .alias("units")
    )
    tot = pv.agg(F.sum("units").alias("g"))
    bucketed = quantile_bucketed(pv, "units", nb=32)
    c = _cumsum_from_buckets(
        bucketed,
        [],
        [F.col("units").desc(), F.col("l_partkey")],
        F.col("units"),
        "cum",
    )
    cls = c.crossJoin(F.broadcast(tot)).select(
        "units",
        F.when(
            F.col("cum") * 100 <= _ABC_A_PCT * F.col("g"), F.lit("A")
        )
        .when(F.col("cum") * 100 <= _ABC_B_PCT * F.col("g"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("units").cast("double") / 10000.0, 4).alias(
                "class_value"
            ),
        )
        .orderBy("abc")
    )
