"""Relational surface, wave 6: equi-width histogram, Z-order
multi-dimensional clustering, and the salted skew-safe JOIN (the join
counterpart of ``agg_salted_skew``).

Cross-engine policy: every binning/interleaving computation here is
INTEGER arithmetic end-to-end (cents, scaled ranks, bit interleaves) —
no float boundary can disagree between engines, so the oracle hash is
exact by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

# ---------------------------------------------------------------------------
# A12: equi-width histogram
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 20


@register(
    "agg_histogram",
    oracle="WITH q AS (SELECT o_orderkey, o_totalprice, "
    "CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders), "
    "rng AS (SELECT min(cents) AS lo, max(cents) AS hi FROM q) "
    "SELECT CAST(least(((q.cents - r.lo) * "
    f"{_HIST_BUCKETS}) // (r.hi - r.lo + 1), {_HIST_BUCKETS - 1}) AS BIGINT) "
    "AS bucket, CAST(count(*) AS BIGINT) AS n_orders, "
    "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price "
    "FROM q, rng r GROUP BY 1",
    doc="Equi-width histogram (A12): 20 buckets over o_totalprice — "
    "the one-pass distribution profile planners and skew diagnostics "
    "start from. Bucketing is integer arithmetic on cents against "
    "broadcast (lo, hi) scalars — bit-exact on any engine — and the "
    "whole query is one scan + one broadcast + one groupBy on ≤20 "
    "keys with map-side partial aggregation: at 100 TB the shuffle "
    "carries #partitions × 20 rows.",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    rng = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    # `div` (integer division) — NOT `/` — so the bucket id is exact
    # integer arithmetic, matching DuckDB's `//` bit-for-bit.
    bucket = F.expr(
        f"CAST(least(((cents - lo) * {_HIST_BUCKETS}) div (hi - lo + 1), "
        f"{_HIST_BUCKETS - 1}) AS BIGINT)"
    )
    return (
        o.crossJoin(F.broadcast(rng))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# S16: Z-order (Morton) multi-dimensional clustering
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension → 16-bit z-values


def _scale_to_byte(col: str, lo: str, hi: str) -> Column:
    """Integer-exact scaling of ``col`` into [0, 255] (`div`, not `/`,
    so no float quotient can disagree with DuckDB's `//`)."""
    return F.expr(
        f"CAST((({col} - {lo}) * {1 << _Z_BITS}) div ({hi} - {lo} + 1) "
        "AS BIGINT)"
    )


def _interleave(qx: Column, qy: Column) -> Column:
    """16-bit Morton interleave: x bits at even positions, y at odd."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(qx, i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftright(qy, i).bitwiseAND(1), 2 * i + 1)
        )
    return z


def _sql_interleave(qx: str, qy: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "snk_zorder",
    oracle="WITH q AS (SELECT o_orderkey, o_custkey, "
    "CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders), "
    "rng AS (SELECT min(o_custkey) AS clo, max(o_custkey) AS chi, "
    "min(cents) AS plo, max(cents) AS phi FROM q), "
    "scaled AS (SELECT q.o_orderkey, "
    f"CAST((q.o_custkey - r.clo) * {1 << _Z_BITS} // (r.chi - r.clo + 1) "
    "AS BIGINT) AS qx, "
    f"CAST((q.cents - r.plo) * {1 << _Z_BITS} // (r.phi - r.plo + 1) "
    "AS BIGINT) AS qy FROM q, rng r), "
    f"zed AS (SELECT *, {_sql_interleave('qx', 'qy')} AS z FROM scaled) "
    "SELECT CAST(z >> 8 AS BIGINT) AS zbucket, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(min(qx) AS BIGINT) AS min_x, CAST(max(qx) AS BIGINT) AS max_x, "
    "CAST(min(qy) AS BIGINT) AS min_y, CAST(max(qy) AS BIGINT) AS max_y "
    "FROM zed GROUP BY 1",
    doc="Z-order clustering (S16): orders keyed by the 16-bit Morton "
    "interleave of (o_custkey, o_totalprice) — the multi-dimensional "
    "sort that makes file-level min/max statistics selective for BOTH "
    "dimensions at once (sort by one column and the other's per-file "
    "spans cover the full range; sort by Z and every file covers a "
    "small rectangle). The graded frame is the locality evidence: "
    "per 256-z-value bucket, the min/max span of each dimension — "
    "bounded rectangles, asserted quantitatively in "
    "tests/test_lakehouse.py against a one-dimensional sort. Scaling "
    "and interleaving are integer-only (bit-exact across engines), "
    "scan-local against a broadcast (lo, hi) scalar row; at 100 TB "
    "the write path is repartitionByRange(z) + sortWithinPartitions — "
    "one range exchange, then pure data skipping forever after.",
    builds_store=True,
)
def q_snk_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = zorder_keys(load_table(spark, sf_dir, "orders"))
    return z.groupBy(F.shiftright(F.col("z"), 8).alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("qx").alias("min_x"),
        F.max("qx").alias("max_x"),
        F.min("qy").alias("min_y"),
        F.max("qy").alias("max_y"),
    )


def zorder_keys(o: DataFrame) -> DataFrame:
    """(o_orderkey, qx, qy, z) Morton frame over orders — factored out
    so tests can compare z-sort locality against single-column sort."""
    q = o.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    rng = q.agg(
        F.min("o_custkey").alias("clo"),
        F.max("o_custkey").alias("chi"),
        F.min("cents").alias("plo"),
        F.max("cents").alias("phi"),
    )
    scaled = q.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        _scale_to_byte("o_custkey", "clo", "chi").alias("qx"),
        _scale_to_byte("cents", "plo", "phi").alias("qy"),
    )
    return scaled.select(
        "o_orderkey", "qx", "qy", _interleave(F.col("qx"), F.col("qy")).alias("z")
    )


# ---------------------------------------------------------------------------
# J9: salted skew-safe join
# ---------------------------------------------------------------------------

_SALTS = 8


@register(
    "join_skew_salted",
    oracle="WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) "
    "AS type_count FROM events GROUP BY 1) "
    "SELECT e.event_type, d.type_count, "
    "CAST(count(*) AS BIGINT) AS n_joined, "
    "CAST(sum(e.user_id) AS BIGINT) AS user_id_sum "
    "FROM events e JOIN dim d ON e.event_type = d.event_type "
    "GROUP BY 1, 2",
    doc="Salted skew-safe join (J9, the join counterpart of "
    "agg_salted_skew): the fact side's join key has only a handful of "
    "distinct values (event_type — the classic hot-key shape), so a "
    "plain shuffle join funnels each key's entire volume through one "
    "reducer. The engine appends a deterministic salt "
    "pmod(xxhash64(event_id), 8) to the fact key and replicates each "
    "dim row ×8 via explode(sequence(...)), joining on (key, salt) — "
    "every hot key now spreads over 8 reducers, at the cost of an "
    "8× copy of the TINY side only. The join is hint-pinned to "
    "shuffle (modeling dims above the broadcast threshold); results "
    "are salt-invariant, so the oracle is the plain unsalted join. "
    "AQE's skew-split handles moderate skew adaptively; explicit "
    "salting is the deterministic fallback when one key exceeds what "
    "a single split can absorb.",
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dim = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_count"))
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    )
    fact = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).cast("int").alias("salt"),
    )
    joined = fact.join(dim_rep.hint("merge"), ["event_type", "salt"])
    return joined.groupBy("event_type", "type_count").agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.sum("user_id").alias("user_id_sum"),
    )


# ---------------------------------------------------------------------------
# A5d: mergeable HLL sketches with union (DataSketches)
# ---------------------------------------------------------------------------

_HLL_REL_ERR = 0.05  # lgConfigK=12 ⇒ ~1.6% stderr; 5% is a >3σ bound


@register(
    "agg_hll_union",
    # Verdict pattern (as agg_approx_distinct / agg_freq_items): the
    # sketch internals are engine-specific; what the algorithm
    # guarantees — estimates within the configured error of the exact
    # distinct, and sketch UNION ≡ distinct-of-union — is what the
    # query grades, against the exact side DuckDB recomputes.
    oracle="SELECT event_type AS scope, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, TRUE AS in_bound "
    "FROM events GROUP BY 1 "
    "UNION ALL SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE "
    "FROM events",
    doc="Mergeable HLL distinct sketches with union (A5d, Apache "
    "DataSketches via hll_sketch_agg/hll_union_agg): per-event-type "
    "user sketches PLUS their union re-estimated as the global "
    "distinct — the property that makes sketches THE 100 TB distinct "
    "strategy (per-partition/per-day sketches persist once, any "
    "rollup is a cheap union — no re-scan, unlike exact distinct "
    "whose partials don't merge). Graded on the guarantee: every "
    "estimate within 5% (>3σ at lgK=12) of the exact count, exact "
    "side recomputed by the oracle; union estimate ≡ "
    "distinct-of-union within the same bound. Completes the sketch "
    "family next to HLL++ (agg_approx_distinct), approx-percentile, "
    "and frequent-items.",
)
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    per_type = sk.select(
        F.col("event_type").alias("scope"),
        "n_exact",
        F.hll_sketch_estimate("sk").alias("est"),
    )
    glob = (
        sk.agg(
            F.hll_union_agg("sk").alias("u"),
        )
        .crossJoin(
            F.broadcast(e.agg(F.count_distinct("user_id").alias("n_exact")))
        )
        .select(
            F.lit("ALL").alias("scope"),
            "n_exact",
            F.hll_sketch_estimate("u").alias("est"),
        )
    )
    bound = (
        F.abs(F.col("est") - F.col("n_exact"))
        <= F.col("n_exact") * _HLL_REL_ERR
    )
    return per_type.unionByName(glob).select(
        "scope", "n_exact", bound.alias("in_bound")
    )


# ---------------------------------------------------------------------------
# A35: HLL sketch intersection via inclusion-exclusion (r12)
# ---------------------------------------------------------------------------

_HLL_IX_PAIRS = (("view", "purchase"), ("click", "error"))
# Inclusion-exclusion compounds three sketch errors, and the ABSOLUTE
# error scales with the UNION, not the intersection — the documented
# weakness of |A∩B| = |A|+|B|−|A∪B| (small intersections under big
# unions need theta sketches instead; Apache DataSketches docs).  The
# bound is therefore 3·rel·|A∪B|.
_HLL_IX_BOUND = 3 * _HLL_REL_ERR


@register(
    "agg_hll_intersect",
    oracle="WITH pairs(type_a, type_b) AS (VALUES "
    + ", ".join(f"('{a}', '{b}')" for a, b in _HLL_IX_PAIRS)
    + "), "
    "m AS (SELECT p.type_a, p.type_b, "
    "CAST((SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = p.type_a) AS BIGINT) AS n_a, "
    "CAST((SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = p.type_b) AS BIGINT) AS n_b, "
    "CAST((SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type IN (p.type_a, p.type_b)) AS BIGINT) AS n_union, "
    "CAST((SELECT count(DISTINCT e1.user_id) FROM events e1 "
    "WHERE e1.event_type = p.type_a AND EXISTS (SELECT 1 FROM events "
    "e2 WHERE e2.user_id = e1.user_id AND e2.event_type = p.type_b)) "
    "AS BIGINT) AS n_both_exact FROM pairs p) "
    "SELECT type_a, type_b, n_a, n_b, n_union, n_both_exact, "
    "TRUE AS in_bound FROM m ORDER BY type_a, type_b",
    doc="HLL sketch intersection via inclusion-exclusion (A35, r12): "
    "distinct users who did BOTH event types, estimated from the "
    "SAME stored per-type sketches A5d persists — "
    "est(A∩B) = est(A) + est(B) − est(A∪B), where the union is one "
    "cheap sketch merge — so the audience-overlap question costs "
    "zero corpus bytes once the per-type sketches exist.  Graded on "
    "the guarantee (the A5d verdict pattern): the estimate within "
    "3·rel·|A∪B| of the exact overlap the oracle recomputes — the "
    "bound is deliberately stated against the UNION because "
    "inclusion-exclusion's absolute error compounds three sketch "
    "errors and does NOT shrink with the intersection (the "
    "documented regime where theta sketches replace HLL; this "
    "operator carries that caveat as its bound).  Scale: two "
    "scan-local sketch aggregates + per-pair merges over ≤ "
    "#types·4 KB sketch rows.",
)
def q_agg_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    types = sorted({t for pair in _HLL_IX_PAIRS for t in pair})
    sk = (
        e.filter(F.col("event_type").isin(types))
        .groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("n_exact"),
        )
        .localCheckpoint()  # ≤ #types rows; feeds every pair twice
    )
    legs = []
    for ta, tb in _HLL_IX_PAIRS:
        a = sk.filter(F.col("event_type") == ta).select(
            F.col("sk").alias("sk_a"), F.col("n_exact").alias("n_a")
        )
        b = sk.filter(F.col("event_type") == tb).select(
            F.col("sk").alias("sk_b"), F.col("n_exact").alias("n_b")
        )
        u = (
            e.filter(F.col("event_type").isin([ta, tb]))
            .agg(F.count_distinct("user_id").alias("n_union"))
        )
        both = (
            e.filter(F.col("event_type") == ta)
            .select("user_id")
            .distinct()
            .join(
                e.filter(F.col("event_type") == tb)
                .select("user_id")
                .distinct(),
                "user_id",
                "semi",
            )
            .agg(F.count(F.lit(1)).alias("n_both_exact"))
        )
        merged = (
            a.crossJoin(b)
            .select(
                F.lit(ta).alias("type_a"),
                F.lit(tb).alias("type_b"),
                "n_a",
                "n_b",
                (
                    F.hll_sketch_estimate("sk_a")
                    + F.hll_sketch_estimate("sk_b")
                    - F.hll_sketch_estimate(
                        F.hll_union("sk_a", "sk_b")
                    )
                ).alias("est_both"),
            )
            .crossJoin(F.broadcast(u))
            .crossJoin(F.broadcast(both))
        )
        legs.append(
            merged.select(
                "type_a",
                "type_b",
                "n_a",
                "n_b",
                "n_union",
                "n_both_exact",
                (
                    F.abs(F.col("est_both") - F.col("n_both_exact"))
                    <= F.col("n_union") * _HLL_IX_BOUND
                ).alias("in_bound"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# A37: theta-sketch (KMV) intersection + difference (r13)
# ---------------------------------------------------------------------------

_THETA_K = 64
_THETA_PAIRS = _HLL_IX_PAIRS  # same audience-overlap question as A35
_THETA_SALTS = 32
# KMV estimator: keep the k smallest uniform hashes per set; theta = the
# k-th smallest (1.0 when |set| < k, i.e. the sketch is exact).  Every
# retained hash BELOW theta is an iid Bernoulli(theta) sample of the
# distinct universe, so for any set expression the estimate is
# |S|/theta where S is computed ON THE RETAINED HASHES — the property
# inclusion-exclusion lacks (A35's documented weakness: its absolute
# error scales with the UNION).  Here the binomial sd is
# sqrt(N*theta*(1-theta))/theta <= sqrt(N/theta), so the graded bound
# scales with the INTERSECTION (resp. difference) itself.
_THETA_SIGMAS = 4.0


def _theta_sketches(e: DataFrame, types: list[str]) -> DataFrame:
    """Per-type KMV sketch rows (event_type, h, frac) — the _THETA_K
    smallest xxhash64 fractions per type, plus (event_type, theta,
    n_kept) metadata joined on.  k-smallest is TWO-PHASE so no single
    reducer ever sees a type's full distinct-user set: a salted partial
    top-k (32-way) bounds every window partition, then the final top-k
    reads <= 32*k pre-filtered rows per type."""
    from pyspark.sql.window import Window

    hashed = (
        e.filter(F.col("event_type").isin(types))
        .select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.xxhash64("user_id").alias("h"),
            # signed 64-bit -> uniform fraction in [0, 1)
            (
                F.xxhash64("user_id").cast("double") / F.lit(float(2**64))
                + F.lit(0.5)
            ).alias("frac"),
            F.pmod(F.xxhash64("user_id", F.lit(17)), F.lit(_THETA_SALTS))
            .alias("salt"),
        )
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("frac", "h")
    partial = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _THETA_K)
        .drop("salt", "rn")
    )
    w2 = Window.partitionBy("event_type").orderBy("frac", "h")
    kept = (
        partial.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _THETA_K)
    )
    meta = kept.groupBy("event_type").agg(
        F.max("frac").alias("kth"), F.count(F.lit(1)).alias("n_kept")
    )
    return kept.join(meta, "event_type").select(
        "event_type",
        "h",
        "frac",
        F.when(F.col("n_kept") < _THETA_K, F.lit(1.0))
        .otherwise(F.col("kth"))
        .alias("theta"),
    )


@register(
    "agg_theta_intersect",
    oracle="WITH pairs(type_a, type_b) AS (VALUES "
    + ", ".join(f"('{a}', '{b}')" for a, b in _THETA_PAIRS)
    + "), "
    "m AS (SELECT p.type_a, p.type_b, "
    "CAST((SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = p.type_a) AS BIGINT) AS n_a, "
    "CAST((SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type = p.type_b) AS BIGINT) AS n_b, "
    "CAST((SELECT count(DISTINCT e1.user_id) FROM events e1 "
    "WHERE e1.event_type = p.type_a AND EXISTS (SELECT 1 FROM events "
    "e2 WHERE e2.user_id = e1.user_id AND e2.event_type = p.type_b)) "
    "AS BIGINT) AS n_both_exact, "
    "CAST((SELECT count(DISTINCT e1.user_id) FROM events e1 "
    "WHERE e1.event_type = p.type_a AND NOT EXISTS (SELECT 1 FROM "
    "events e2 WHERE e2.user_id = e1.user_id AND e2.event_type = "
    "p.type_b)) AS BIGINT) AS n_only_a_exact FROM pairs p) "
    "SELECT type_a, type_b, n_a, n_b, n_both_exact, n_only_a_exact, "
    "TRUE AS both_in_bound, TRUE AS diff_in_bound FROM m "
    "ORDER BY type_a, type_b",
    doc="Theta-sketch (KMV) set intersection AND difference (A37, "
    "r13): the companion A35's own docstring asks for — "
    "inclusion-exclusion's absolute error scales with the UNION, so "
    "small overlaps under big unions need a sketch whose retained "
    "sample supports set EXPRESSIONS directly (Apache DataSketches "
    "theta).  Per type, keep the k smallest xxhash64 fractions of "
    "user_id (two-phase salted top-k — no reducer sees a full "
    "distinct set); for a pair, theta = min(theta_a, theta_b), and "
    "every retained hash below theta is a Bernoulli(theta) sample of "
    "the universe, complete on BOTH sides — so est(A∩B) = "
    "|S_A ∩ S_B|/theta and est(A\\\\B) = |S_A \\\\ S_B|/theta, with "
    "binomial error ~ sqrt(N/theta) scaling with the INTERSECTION "
    "(resp. difference), not the union.  Graded on the guarantee "
    "(A5d/A35 verdict pattern): both estimates within "
    "4*sqrt(max(exact,1)/theta) + 2 of the exact answers the oracle "
    "recomputes.  Scale: sketch build is a distinct + bounded "
    "windows; pair math runs over <= 2k retained rows per pair.",
)
def q_agg_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL members are excluded from every set (declared both engines):
    # the oracle's count(DISTINCT user_id) skips NULLs anyway, but the
    # engine's distinct → anti-join legs would have KEPT a NULL row
    # (NULL never matches a semi/anti key, so it lands in "only_a"),
    # and xxhash64(NULL) degenerates to the seed — one phantom member
    # injected identically into BOTH sides' sketches.  Latent on the
    # pristine corpus and under the NULL sweep (user_id stays intact
    # there), fixed at entry before it can grade (r13 code-review
    # find).
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
    )
    types = sorted({t for pair in _THETA_PAIRS for t in pair})
    sk = _theta_sketches(e, types).localCheckpoint()  # <= k rows per type
    exact = (
        e.filter(F.col("event_type").isin(types))
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_exact"))
        .localCheckpoint()  # <= #types rows
    )
    legs = []
    for ta, tb in _THETA_PAIRS:
        a = sk.filter(F.col("event_type") == ta).select(
            F.col("h").alias("h_a"),
            F.col("frac").alias("frac_a"),
            F.col("theta").alias("theta_a"),
        )
        b = sk.filter(F.col("event_type") == tb).select(
            F.col("h").alias("h_b"), F.col("theta").alias("theta_b")
        )
        # theta = min(theta_a, theta_b); S_A = retained A-hashes BELOW
        # theta (strict: the k-th value itself is the boundary, not a
        # sample); membership of an S_A hash in B's sketch decides
        # A∩B vs A\B exactly, because B's sketch is complete below
        # theta_b >= theta.  theta is a standalone 1-row frame (not an
        # aggregate of the filtered rows) so an EMPTY S_A still yields
        # a defined bound with est = 0.
        theta_f = (
            a.agg(F.min("theta_a").alias("ta_"))
            .crossJoin(b.agg(F.min("theta_b").alias("tb_")))
            .select(F.least("ta_", "tb_").alias("theta"))
        )
        paired = (
            a.crossJoin(F.broadcast(theta_f))
            .filter(F.col("frac_a") < F.col("theta"))
            .join(b.select("h_b"), F.col("h_a") == F.col("h_b"), "left")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("h_b").isNotNull(), F.lit(1)).otherwise(
                            F.lit(0)
                        )
                    ),
                    F.lit(0),
                ).alias("s_both"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("h_b").isNull(), F.lit(1)).otherwise(
                            F.lit(0)
                        )
                    ),
                    F.lit(0),
                ).alias("s_only_a"),
            )
            .crossJoin(F.broadcast(theta_f))
        )
        n_a = exact.filter(F.col("event_type") == ta).select(
            F.col("n_exact").alias("n_a")
        )
        n_b = exact.filter(F.col("event_type") == tb).select(
            F.col("n_exact").alias("n_b")
        )
        both = (
            e.filter(F.col("event_type") == ta)
            .select("user_id")
            .distinct()
            .join(
                e.filter(F.col("event_type") == tb)
                .select("user_id")
                .distinct(),
                "user_id",
                "semi",
            )
            .agg(F.count(F.lit(1)).alias("n_both_exact"))
        )
        only_a = (
            e.filter(F.col("event_type") == ta)
            .select("user_id")
            .distinct()
            .join(
                e.filter(F.col("event_type") == tb)
                .select("user_id")
                .distinct(),
                "user_id",
                "anti",
            )
            .agg(F.count(F.lit(1)).alias("n_only_a_exact"))
        )
        bound = lambda exact_col, est_col: (  # noqa: E731
            F.abs(est_col - exact_col)
            <= _THETA_SIGMAS
            * F.sqrt(F.greatest(exact_col, F.lit(1)) / F.col("theta"))
            + F.lit(2.0)
        )
        legs.append(
            paired.crossJoin(F.broadcast(n_a))
            .crossJoin(F.broadcast(n_b))
            .crossJoin(F.broadcast(both))
            .crossJoin(F.broadcast(only_a))
            .select(
                F.lit(ta).alias("type_a"),
                F.lit(tb).alias("type_b"),
                "n_a",
                "n_b",
                "n_both_exact",
                "n_only_a_exact",
                bound(
                    F.col("n_both_exact"),
                    F.col("s_both") / F.col("theta"),
                ).alias("both_in_bound"),
                bound(
                    F.col("n_only_a_exact"),
                    F.col("s_only_a") / F.col("theta"),
                ).alias("diff_in_bound"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# A37b: PERSISTED theta-sketch store + zero-corpus-scan probe (r14)
# ---------------------------------------------------------------------------

# The persisted variant swaps A37's xxhash64 for a 32-bit md5-prefix
# hash (the llm_weighted_sample / llm_sample_hash mapping): the store
# is probed with NO corpus access, so the graded output must be the
# sketch protocol's own numbers — and md5 is the one hash both engines
# evaluate identically, letting DuckDB replay the full protocol
# (build + probe) from the raw events while the engine answers from
# the stored tables alone.  Integer end-to-end: hashes are 32-bit
# ints, theta is the k-th smallest (2^32 when the sketch is exact),
# estimates use integer floor division — no IEEE boundary exists.
_THETA_P_K = _THETA_K
_THETA_P_DOMAIN = 4294967296  # 2^32: md5-prefix hash domain size


def _theta_store_tag(sf_dir: str) -> str:
    """Staleness tag for the theta store (shared discipline:
    scratch.store_tag — one definition for every pay-once store)."""
    from ..scratch import store_tag

    return store_tag(sf_dir, "events.parquet")


def theta_sketch_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-1 pay-once build of the per-type theta-sketch store: one
    KMV sketch (the k smallest distinct 32-bit md5-prefix hashes of
    user_id) per event type in the pair catalog, plus per-type
    metadata (theta = the k-th smallest hash, 2^32 when |type| < k).
    ONE corpus scan builds both tables; any later set-expression
    question over any type combination — intersection, difference,
    arbitrary boolean algebra — is answered from these <= k-row
    sketches alone, which is THE reason theta sketches exist at
    100 TB (r13 verdict item 4: A37 rebuilt its sketches from the
    corpus on every query).  Build is the A37 two-phase salted top-k:
    no reducer ever sees a type's full distinct-user set."""
    from pyspark.sql.window import Window

    from ..scratch import scratch_dir
    from ..tables import with_min_scan_parallelism

    tag = _theta_store_tag(sf_dir)
    sk_t = f"ecs_theta_sk_{tag}"
    meta_t = f"ecs_theta_meta_{tag}"
    if spark.catalog.tableExists(sk_t) and spark.catalog.tableExists(meta_t):
        return sk_t, meta_t

    types = sorted({t for pair in _THETA_PAIRS for t in pair})
    e = with_min_scan_parallelism(spark, load_table(spark, sf_dir, "events"))
    # distinct on (type, hnum), not (type, user): md5-prefix collisions
    # collapse to one sketch member on BOTH engines (oracle's DISTINCT
    # runs on hnum too), keeping the protocols byte-identical.
    hashed = (
        e.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type").isin(types))
        .select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("hnum"),
        )
        .distinct()
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("hnum", F.lit(31)), F.lit(_THETA_SALTS)),
        )
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("hnum")
    partial = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _THETA_P_K)
        .drop("salt", "rn")
    )
    w2 = Window.partitionBy("event_type").orderBy("hnum")
    kept = (
        partial.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _THETA_P_K)
        .drop("rn")
    )
    meta = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.when(
            F.count(F.lit(1)) < _THETA_P_K, F.lit(_THETA_P_DOMAIN)
        )
        .otherwise(F.max("hnum"))
        .cast("long")
        .alias("theta_num"),
    )
    spark.sql(f"DROP TABLE IF EXISTS {sk_t}")
    (
        kept.write.mode("overwrite")
        .option("path", scratch_dir("ecs_theta_sk", tag))
        .saveAsTable(sk_t)
    )
    spark.sql(f"DROP TABLE IF EXISTS {meta_t}")
    (
        meta.write.mode("overwrite")
        .option("path", scratch_dir("ecs_theta_meta", tag))
        .saveAsTable(meta_t)
    )
    return sk_t, meta_t


@register(
    "agg_theta_intersect_persisted",
    oracle="WITH pairs(type_a, type_b) AS (VALUES "
    + ", ".join(f"('{a}', '{b}')" for a, b in _THETA_PAIRS)
    + "), "
    "tys AS (SELECT type_a AS t FROM pairs "
    "UNION SELECT type_b FROM pairs), "
    "u AS (SELECT DISTINCT e.event_type, "
    "CAST(concat('0x', substring(md5(CAST(e.user_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) AS hnum FROM events e JOIN tys ON e.event_type = tys.t "
    "WHERE e.user_id IS NOT NULL), "
    "rk AS (SELECT event_type, hnum, "
    "row_number() OVER (PARTITION BY event_type ORDER BY hnum) AS rn "
    "FROM u), "
    f"kept AS (SELECT event_type, hnum FROM rk WHERE rn <= {_THETA_P_K}), "
    f"th AS (SELECT event_type, CAST(CASE WHEN count(*) < {_THETA_P_K} "
    f"THEN {_THETA_P_DOMAIN} ELSE max(hnum) END AS BIGINT) AS theta_num "
    "FROM kept GROUP BY 1), "
    "m AS (SELECT p.type_a, p.type_b, "
    "CAST(least(ta.theta_num, tb.theta_num) AS BIGINT) AS theta_num "
    "FROM pairs p JOIN th ta ON ta.event_type = p.type_a "
    "JOIN th tb ON tb.event_type = p.type_b), "
    "sa AS (SELECT m.type_a, m.type_b, m.theta_num, "
    "ka.hnum AS h_a, kb.hnum AS h_b FROM m "
    "LEFT JOIN kept ka ON ka.event_type = m.type_a "
    "AND ka.hnum < m.theta_num "
    "LEFT JOIN kept kb ON kb.event_type = m.type_b "
    "AND kb.hnum = ka.hnum) "
    "SELECT type_a, type_b, theta_num, "
    "CAST(coalesce(sum(CASE WHEN h_a IS NOT NULL AND h_b IS NOT NULL "
    "THEN 1 ELSE 0 END), 0) AS BIGINT) AS s_both, "
    "CAST(coalesce(sum(CASE WHEN h_a IS NOT NULL AND h_b IS NULL "
    "THEN 1 ELSE 0 END), 0) AS BIGINT) AS s_only_a, "
    "CAST(coalesce(sum(CASE WHEN h_a IS NOT NULL AND h_b IS NOT NULL "
    f"THEN 1 ELSE 0 END), 0) * {_THETA_P_DOMAIN} // theta_num AS BIGINT) "
    "AS est_both, "
    "CAST(coalesce(sum(CASE WHEN h_a IS NOT NULL AND h_b IS NULL "
    f"THEN 1 ELSE 0 END), 0) * {_THETA_P_DOMAIN} // theta_num AS BIGINT) "
    "AS est_only_a "
    "FROM sa GROUP BY 1, 2, 3 ORDER BY type_a, type_b",
    doc="Persisted theta-sketch store + zero-corpus-scan probe (A37b, "
    "r14 — the r13 verdict's item 4): A37 proved the KMV set algebra "
    "but rebuilt its sketches from the events corpus on every query; "
    "this key persists the per-type sketches ONCE "
    "(theta_sketch_tables — the A5d/X62 sketch-persistence stance) "
    "and the graded probe answers the pair intersection/difference "
    "question from the stored <= k-row tables alone: theta = "
    "min(theta_a, theta_b); every stored A-hash below theta is a "
    "complete Bernoulli(theta) sample of A's universe, membership in "
    "B's sketch splits it into A∩B vs A\\\\B exactly, and est = "
    "s * 2^32 DIV theta_num in pure BIGINT arithmetic.  The hash is "
    "the 32-bit md5 prefix (not A37's xxhash64) so DuckDB replays "
    "the identical protocol from the raw events while the engine "
    "plan contains ZERO events scans (plan contract "
    "test_theta_persisted_probe_reads_store_only).  Scale: the probe "
    "touches <= #types*k stored rows, broadcast end-to-end — at "
    "100 TB any set-expression dashboard over the store costs "
    "kilobytes regardless of corpus size.",
    builds_store=True,
)
def q_agg_theta_intersect_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sk_t, meta_t = theta_sketch_tables(spark, sf_dir)
    kept = spark.table(sk_t)
    meta = spark.table(meta_t)
    pairs = spark.createDataFrame(
        list(_THETA_PAIRS), "type_a string, type_b string"
    )
    m = (
        pairs.join(
            F.broadcast(
                meta.select(
                    F.col("event_type").alias("type_a"),
                    F.col("theta_num").alias("tn_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                meta.select(
                    F.col("event_type").alias("type_b"),
                    F.col("theta_num").alias("tn_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.least("tn_a", "tn_b").cast("long").alias("theta_num"),
        )
    )
    ka = kept.select(
        F.col("event_type").alias("et_a"), F.col("hnum").alias("h_a")
    )
    kb = kept.select(
        F.col("event_type").alias("et_b"), F.col("hnum").alias("h_b")
    )
    sa = m.join(
        F.broadcast(ka),
        (F.col("et_a") == F.col("type_a"))
        & (F.col("h_a") < F.col("theta_num")),
        "left",
    ).join(
        F.broadcast(kb),
        (F.col("et_b") == F.col("type_b")) & (F.col("h_b") == F.col("h_a")),
        "left",
    )
    s_both = F.coalesce(
        F.sum(
            F.when(
                F.col("h_a").isNotNull() & F.col("h_b").isNotNull(), F.lit(1)
            ).otherwise(F.lit(0))
        ),
        F.lit(0),
    ).cast("long")
    s_only_a = F.coalesce(
        F.sum(
            F.when(
                F.col("h_a").isNotNull() & F.col("h_b").isNull(), F.lit(1)
            ).otherwise(F.lit(0))
        ),
        F.lit(0),
    ).cast("long")
    return (
        sa.groupBy("type_a", "type_b", "theta_num")
        .agg(s_both.alias("s_both"), s_only_a.alias("s_only_a"))
        .select(
            "type_a",
            "type_b",
            "theta_num",
            "s_both",
            "s_only_a",
            F.expr(
                f"CAST(s_both * {_THETA_P_DOMAIN} DIV theta_num AS BIGINT)"
            ).alias("est_both"),
            F.expr(
                f"CAST(s_only_a * {_THETA_P_DOMAIN} DIV theta_num AS BIGINT)"
            ).alias("est_only_a"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# A39: mergeable KMV-sample quantile sketch (r13)
# ---------------------------------------------------------------------------

# k = 1000, NOT 1024: Spark's InferWindowGroupLimit only pushes a
# rank filter into the shuffle when the limit is <= spark.sql.
# optimizer.windowGroupLimitThreshold (default 1000) — at 1024 the
# rule silently disengages and every partition sorts its full row set
# before the filter.  Caught by the plan contract
# (test_kmv_quantiles_two_phase_topk_plan) before the key shipped.
_KMVQ_K = 1000
_KMVQ_SALTS = 32
_KMVQ_PS = (0.5, 0.9)
# DKW inequality: P(sup_x |F_sample(x) - F(x)| > eps) <= 2 exp(-2 k eps^2)
# ≈ 5.5e-6 at k=1000, eps=0.08 — the same graded-guarantee stance as
# the HLL (A5d) and theta (A37) keys.  Sampling WITHOUT replacement
# (the k smallest hashes are a uniform simple random sample of rows)
# only tightens the bound (negative association).
_KMVQ_EPS = 0.08


def _kmv_row_sample(e: DataFrame, k: int) -> DataFrame:
    """Deterministic uniform row sample per event_type: the k rows
    with the smallest xxhash64(event_id) fractions — a simple random
    sample (event_id is row-unique) that is MERGEABLE like the A37
    theta sketch: union two groups' samples and re-take the k
    smallest, and you hold exactly the sample of the union.  Two-phase
    salted top-k (the A37 shape): the salted partial bounds every
    window sort at k; the final per-type pass reads <= salts*k
    pre-filtered rows."""
    from pyspark.sql.window import Window

    hashed = e.select(
        "event_type",
        "event_id",
        "value",
        (
            F.xxhash64("event_id").cast("double") / F.lit(float(2**64))
            + F.lit(0.5)
        ).alias("frac"),
        F.pmod(F.xxhash64("event_id", F.lit(23)), F.lit(_KMVQ_SALTS)).alias(
            "salt"
        ),
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("frac", "event_id")
    partial = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("salt", "rn")
    )
    w2 = Window.partitionBy("event_type").orderBy("frac", "event_id")
    return (
        partial.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn", "frac")
    )


@register(
    "agg_kmv_quantiles",
    oracle="WITH n AS (SELECT event_type, "
    "CAST(count(value) AS BIGINT) AS n_exact FROM events "
    "GROUP BY 1 HAVING count(value) > 0) "
    "SELECT event_type AS scope, CAST(p AS DOUBLE) AS p, n_exact, "
    "TRUE AS in_bound FROM n "
    "CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p) ps "
    "ORDER BY scope NULLS FIRST, p",
    doc="Mergeable KMV-sample quantile sketch (A39, r13): per event "
    "type, p50/p90 of `value` estimated from the k smallest-hash "
    f"rows (k={_KMVQ_K}) — completing the mergeable-sketch family "
    "(HLL = distinct, Count-Min = frequency, theta = set algebra, "
    "THIS = quantiles) with the same persist-once/merge-cheap "
    "stance: the k-smallest-hash sample of a union is the re-top-k "
    "of the per-part samples, so per-day/per-partition samples roll "
    "up without re-scanning (what approx_percentile's opaque "
    "KLL internals do, here in an engine-portable, "
    "deterministically-reproducible form).  Graded on the DKW "
    f"guarantee: the exact CDF at each sample quantile within ±"
    f"{_KMVQ_EPS} of p (failure probability 2·exp(−2kε²) ≈ 4e-6, "
    "the A5d/A37 graded-bound stance), audited with tie-robust rank "
    "brackets: count(< q̂)/n ≤ p+ε AND count(≤ q̂)/n ≥ p−ε.  "
    "Quantiles are over NON-NULL values (declared both engines).  "
    "Scale: the sketch is one scan + two salted bounded windows (no "
    "reducer ever sorts a type's full row set); the estimates are a "
    "≤2·#types-row frame; the exact-CDF audit leg is the GRADING "
    "harness (one extra conditional-aggregate scan) — at 100 TB you "
    "ship the estimates and audit on sampled slices, the "
    "llm_ann_recall stance.",
)
def q_agg_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    samp = _kmv_row_sample(e, _KMVQ_K)
    ws = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = samp.withColumn("r", F.row_number().over(ws))
    ns = samp.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_samp"))
    ps = F.explode(
        F.array(*[F.lit(float(p)) for p in _KMVQ_PS])
    ).alias("p")
    # Null-SAFE joins on the group key (r13 code-review find): the
    # oracle's GROUP BY keeps a NULL event_type group (and the output
    # ordering even declares NULLS FIRST for it), but a plain
    # null-rejecting equi-join here would silently drop that group on
    # the engine side — a row-count divergence the moment any corpus
    # carries NULL types.
    ns2 = ns.withColumnRenamed("event_type", "_et")
    est = (
        ranked.join(ns2, F.col("event_type").eqNullSafe(F.col("_et")))
        .select("event_type", "value", "r", "n_samp", ps)
        .filter(
            F.col("r")
            == F.greatest(
                F.lit(1), F.ceil(F.col("p") * F.col("n_samp"))
            )
        )
        .select("event_type", "p", F.col("value").alias("qhat"))
    )
    est2 = est.withColumnRenamed("event_type", "_et")
    audit = (
        e.join(
            F.broadcast(est2), F.col("event_type").eqNullSafe(F.col("_et"))
        )
        .drop("_et")
        .groupBy("event_type", "p")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.when(F.col("value") < F.col("qhat"), 1).otherwise(0))
            .alias("cnt_lt"),
            F.sum(F.when(F.col("value") <= F.col("qhat"), 1).otherwise(0))
            .alias("cnt_le"),
        )
    )
    in_bound = (
        F.col("cnt_le").cast("double")
        >= (F.col("p") - _KMVQ_EPS) * F.col("n_exact")
    ) & (
        F.col("cnt_lt").cast("double")
        <= (F.col("p") + _KMVQ_EPS) * F.col("n_exact")
    )
    return audit.select(
        F.col("event_type").alias("scope"),
        "p",
        "n_exact",
        in_bound.alias("in_bound"),
    ).orderBy(F.col("scope").asc_nulls_first(), "p")
