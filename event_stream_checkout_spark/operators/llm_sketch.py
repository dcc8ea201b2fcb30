"""LLM-data-pipeline operators, wave r10 (SURVEY.md §2.10 X54-X57).

Sketch- and distribution-level corpus analytics: asymmetric
containment dedup (the near-dup geometry symmetric Jaccard misses),
Count-Min heavy-hitter detection (sublinear-memory frequency
estimation, the 100 TB answer to "what are the hot tokens" when the
vocabulary itself is too big to hold), per-source KL-divergence
novelty (which sources' token distributions drift from the corpus),
and per-label embedding-centroid drift (the vector-space analogue).

Engine-exactness follows the repo-wide protocols: md5-derived
buckets (portable to the DuckDB oracle), per-term 1e-6-quantized
logs with fixed-point DECIMAL sums (the perplexity-family protocol,
llm_retrieval.py module docstring), and 1e-3-lattice integer vector
arithmetic with exact wide-integer dot products (the PCA/X52
protocol — DECIMAL(38,0) on Spark, HUGEINT on DuckDB).

Reference parity: the reference repo has no analytics engine at all
(it delegates to MySQL — db/init_schema.sql); these operators belong
to the driver-mandated LLM-training-data family, extending X2
(near-dup), X4 (text analysis) and X3 (similarity) with the
asymmetric / sketch-bounded variants production pipelines run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QUERIES, register
from ..tables import load_table, with_min_scan_parallelism

# --------------------------------------------------------------------------
# X54: asymmetric containment near-dup pairs
# --------------------------------------------------------------------------

_CONTAIN_DF_CAP = 10  # same skew guard as the Jaccard key
_CONTAIN_MIN = 0.6


def _contain_fps():
    """X54's (lang ':' word-3-gram) 60-bit md5-prefix fingerprint
    ARRAY expression over a `_words` column (shared by the inline key
    and the store build, so the two protocols cannot drift).  Dedup
    runs on the FINGERPRINT array, not the string array: the oracle's
    DISTINCT(doc_id, g) collapses a within-doc fp collision to one
    row, so the engine must too (distinct strings would keep both).
    array_distinct over longs is also cheaper."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_words") - 2),
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("lang"),
                            F.lit(":"),
                            F.element_at(F.col("_words"), i),
                            F.lit(" "),
                            F.element_at(F.col("_words"), i + 1),
                            F.lit(" "),
                            F.element_at(F.col("_words"), i + 2),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
    )


@register(
    "llm_containment_pairs",
    oracle="WITH grams AS (SELECT d.doc_id, d.lang, "
    "unnest(list_transform("
    "generate_series(1, len(string_split(d.text, ' ')) - 2), "
    "i -> string_split(d.text, ' ')[i] || ' ' || "
    "string_split(d.text, ' ')[i + 1] || ' ' || "
    "string_split(d.text, ' ')[i + 2])) AS gram "
    "FROM documents d "
    "WHERE len(string_split(d.text, ' ')) >= 3 "
    # NULL-lang rows can never survive the (g, lang) equi-joins on
    # either engine (NULL equality), so both protocols drop them at
    # the scan — declared, not incidental.
    "AND d.lang IS NOT NULL), "
    "dg AS (SELECT DISTINCT doc_id, "
    "CAST(concat('0x', substring(md5(lang || ':' || gram), 1, 15)) "
    "AS BIGINT) AS g FROM grams), "
    "rare AS (SELECT g FROM dg GROUP BY 1 "
    f"HAVING count(*) <= {_CONTAIN_DF_CAP}), "
    "dgc AS (SELECT dg.* FROM dg JOIN rare USING (g)), "
    "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n "
    "FROM dgc GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "CAST(count(*) AS BIGINT) AS n_common "
    "FROM dgc a JOIN dgc b ON a.g = b.g "
    "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a, sb.n AS n_b, "
    "round(CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n), 6) "
    "AS containment "
    "FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id "
    "JOIN sizes sb ON i.doc_b = sb.doc_id "
    "WHERE CAST(i.n_common AS DOUBLE) / least(sa.n, sb.n) "
    f">= {_CONTAIN_MIN}",
    doc="Asymmetric containment near-dup pairs (X54, Broder's "
    "containment coefficient): |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) "
    "over word-3-gram shingle sets — the geometry symmetric Jaccard "
    "(X2) structurally MISSES: a 100-word doc pasted verbatim inside "
    "a 10 000-word doc has Jaccard ≈ 0.01 (diluted by the union) but "
    "containment ≈ 1.0, and quote-embedding / boilerplate-wrapping / "
    "page-concatenation duplication is exactly this shape.  "
    "Consequently the pair space blocks on lang ONLY — a length "
    "bucket (the Jaccard key's second blocking axis) would file the "
    "short doc and its container in different blocks and veto every "
    "true containment pair.  What bounds the join instead is the "
    "same per-cell document-frequency cap as X2 (grams in > cap docs "
    "drop BEFORE the self-join, output O(|grams|·cap) not O(B²) per "
    "boilerplate gram), so the asymmetric variant inherits the "
    "measured skew-safety of the symmetric one; sizes are counted "
    "over the SAME capped gram space the intersection uses "
    "(containment measured in a consistent universe).  The r14 "
    "third-decade bench (sf10→sf100) drove three plan rewrites, "
    "measured in BENCH_THIRD_DECADE.json: (1) every shuffle carries "
    "a 60-bit md5 FINGERPRINT of (lang ':' shingle), never strings "
    "(Broder's shingle-fingerprint design; a collision, P ≈ n²/2^61, "
    "merges the same shingles on both engines since the oracle "
    "replays the protocol); (2) within-doc shingle dedup runs SCAN-"
    "LOCALLY (array_distinct before the explode) — the shuffling "
    "`.distinct()` it replaces moved 260M rows at sf100 to remove "
    "the 0.1% of grams repeated within a doc, ~200 s of the original "
    "424 s wall; (3) NULL-lang rows drop at the scan (they can never "
    "survive the lang equi-block on either engine).  What remains is "
    "the irreducible df-count shuffle of slim (doc_id, g) rows, the "
    "cap join colocated on it, and the capped self-join.  Integer "
    "ratio, round 1e-6.",
)
def q_llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import with_min_scan_parallelism

    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    words = F.split("text", " ", -1)
    d = (
        d.filter(F.col("lang").isNotNull())
        .withColumn("_words", words)
        .filter(F.size("_words") >= 3)
    )
    fps = _contain_fps()
    # (doc_id, g) distinct BY CONSTRUCTION — no shuffle spent on it.
    # ONE explicit g-repartition is the only corpus-scale exchange in
    # the whole query: the df aggregate runs single-phase on it (the
    # hash partitioning already satisfies its distribution), the
    # rare/heavy probes and the pair self-join are colocated on the
    # same partitioning, and Catalyst reuses the one exchange for
    # every consumer — so the explode+md5 scan runs once, the
    # occurrence frame crosses the wire once, and nothing ever sorts
    # it (the r14 third-decade ladder: 424 s spilling-SMJ → 287 s
    # wider shuffle → 208 s hash joins → this).  Sizes stay
    # scan-local: size(fps) minus the doc's df>cap occurrences — a
    # correction frame sized by the HEAVY mass, tiny on a deduped
    # corpus and the honest cost on a boilerplate one.
    dg = d.select("doc_id", F.explode(fps).alias("g")).repartition(
        F.col("g")
    )
    cells = dg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pairg = cells.filter(
        (F.col("df") >= 2) & (F.col("df") <= _CONTAIN_DF_CAP)
    ).select("g")
    heavyg = cells.filter(F.col("df") > _CONTAIN_DF_CAP).select("g")
    pair_src = dg.join(pairg.hint("shuffle_hash"), "g").select(
        "doc_id", "g"
    )
    heavy_corr = (
        dg.join(heavyg.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_heavy"))
    )
    sizes = (
        d.select("doc_id", F.size(fps).cast("long").alias("n_total"))
        .join(heavy_corr, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("n_total") - F.coalesce(F.col("n_heavy"), F.lit(0))
            ).alias("n"),
        )
    )
    return _containment_tail(pair_src, sizes)


def _containment_tail(pair_src: DataFrame, sizes: DataFrame) -> DataFrame:
    """X54's pair half over the capped occurrence frame + the heavy-
    corrected per-doc sizes — the capped self-join on g, the size
    joins, and the containment gate (shared verbatim with the
    persisted-store probe X54b, so the two keys cannot drift)."""
    a, b = pair_src.alias("a"), pair_src.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= _CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(cont, 6).alias("containment"),
        )
    )


_CONT_STORE_FLOOR = 0.5  # build-time containment floor of the pair
                         # store — strictly below every production
                         # threshold, so any cut >= 0.5 is a
                         # stored-frame filter (the X69b min_jaccard=0
                         # stance applied to the containment family)


def containment_store(spark: SparkSession, sf_dir: str) -> str:
    """Day-1 pay-once build of X54's near-dup PAIR STORE (r16, the
    r15 verdict's item 5 — the A37b 'probe answers from the stored
    tables alone' pattern): ONE build runs the whole containment
    pipeline — corpus scan, fingerprint explode, df-count, cap/heavy
    split, pair aggregation, heavy-corrected sizes — and persists
    every pair at containment >= 0.5 with its (n_common, n_a, n_b)
    evidence columns.  The floor sits strictly below every production
    threshold, so any cut >= 0.5 probes the store with a filter; the
    stored frame is the operational artifact real dedup pipelines
    materialize per corpus snapshot (the dup-group builder, the
    keep-best selector, and audit dashboards all consume the same
    pair list).

    Why the boundary sits AFTER the pair aggregate: the r16 first
    cut stored the df-capped (doc_id, g) occurrence frame bucketed
    by g and paid the pair core at probe time — but the co-occurring
    pair population is data-proportional (measured 28.6M pairs at
    sf10), so the probe stayed linear in the corpus (102 s at sf100,
    worse than the inline pair core because the fixed bucket count
    also blocked AQE from sizing the aggregate).  The pair core is
    the EXPENSIVE, data-proportional half of X54; a store that makes
    repeated queries cheap must pay it at build, exactly as the
    theta store pays its sketch build (A37b) and the span store its
    fold (X49/r16).

    Build shape: pair expansion is GRAM-LOCAL (each capped gram's
    <= cap doc list folds to a sorted array and ordered pairs expand
    in-row — the basket_copurchase_pairs/X49 shape, byte-identical
    to the self-join by construction), so the build never joins the
    occurrence frame against itself; the dg frame pins DISK_ONLY
    because build actions cannot share exchanges (fact-scale pins
    ride disk, the llm_item_cf_topk heap lesson — the fused form sat
    at the 8g/32-thread JVM's edge at sf100).  Staleness rides the
    X12/X60/X62 source-fingerprint tag."""
    from ..scratch import scratch_dir, store_tag

    tag = store_tag(sf_dir, "documents.parquet")
    t = f"ecs_cont_pairs_{tag}"
    if spark.catalog.tableExists(t):
        return t

    # Build-scoped granularity overrides, restored in finally.  The
    # pair frame is ~300M slim, highly compressible rows at sf100:
    # under the session defaults (128m scan splits, 64m AQE advisory)
    # every sort or hashed-relation task holds ~6M rows, and 32
    # concurrent ~100-250MB pointer-array allocations exhaust the 8g
    # JVM's execution pool faster than force-spill can free it — a
    # fresh session squeaks through, a warm one OOMs (bisected at
    # sf100 across four runs; the finer-grained stitch ran in 38 s).
    # 8m/16m keep every build task's working set in the tens of MB;
    # the session-wide trade-off analysis lives in session.py and in
    # SCALE.md's "Paired A/B of the global
    # `spark.sql.files.minPartitionNum=32`" — this override is the
    # build's own.
    _scoped = {
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    }
    prev = {k: spark.conf.get(k, None) for k in _scoped}
    for k, v in _scoped.items():
        spark.conf.set(k, v)
    try:
        return _containment_store_build(spark, sf_dir, tag, t)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _containment_store_build(
    spark: SparkSession, sf_dir: str, tag: str, t: str
) -> str:
    from ..scratch import scratch_dir

    from pyspark import StorageLevel

    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    d = (
        d.filter(F.col("lang").isNotNull())
        .withColumn("_words", F.split("text", " ", -1))
        .filter(F.size("_words") >= 3)
    )
    fps = _contain_fps()
    dg = (
        d.select("doc_id", F.explode(fps).alias("g"))
        .repartition(F.col("g"))
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    cells = dg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pairg = cells.filter(
        (F.col("df") >= 2) & (F.col("df") <= _CONTAIN_DF_CAP)
    ).select("g")
    heavyg = cells.filter(F.col("df") > _CONTAIN_DF_CAP).select("g")
    # Gram-local pair expansion: the capped gram's doc list is
    # bounded by the df cap, so C(cap, 2) structs per row at most.
    per_g = (
        dg.join(pairg.hint("shuffle_hash"), "g")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a: F.transform(
                F.filter(F.col("ds"), lambda b: b > a),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    # Explicit (doc_a, doc_b) repartition BEFORE the aggregate — the
    # single-phase idiom the inline key uses for its df count: the
    # hash partitioning satisfies the groupBy's distribution, so NO
    # map-side partial aggregate runs over the exploded pair rows.
    # Partial agg buys almost nothing here (32M pair rows collapse
    # only to 28.6M distinct pairs at sf10) and its per-task hash
    # maps, live in the same stage as the shuffle sorter, are what
    # blew the 8g/32-thread JVM at sf100.  No partition count: AQE
    # sizes the flexible exchange from initialPartitionNum=256.
    inter = (
        per_g.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .repartition(F.col("doc_a"), F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    heavy_corr = (
        dg.join(heavyg.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_heavy"))
    )
    # merge hint: heavy_corr derives from the CHECKPOINTED dg, whose
    # post-checkpoint stats are opaque, so AQE's size estimate can
    # elect a hashed relation for a frame that is actually
    # doc-dimension-sized (most docs carry at least one heavy
    # boilerplate shingle) — the build OOM'd at sf100 in exactly
    # this stage.  SMJ sorts both sides with full spill support;
    # build-time cost, paid once.
    sizes = (
        d.select("doc_id", F.size(fps).cast("long").alias("n_total"))
        .join(heavy_corr.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("n_total") - F.coalesce(F.col("n_heavy"), F.lit(0))
            ).alias("n"),
        )
    )
    # Stage the two intermediate frames to scratch parquet and stitch
    # FROM FILES (bisected at sf100: the fused stitch consumed the
    # pair frame through AQE-coalesced exchanges — 64MB-advisory-fat
    # partitions whose ~6M-row SMJ pointer arrays, 32 concurrent,
    # exhausted the 8g execution pool faster than force-spill freed
    # it.  Staged, the 32m maxPartitionBytes override in
    # containment_store gives the stitch fine-grained scan splits and
    # it runs in 38 s; the staged form's four jobs measured
    # 70+97+59+38 s end-to-end at sf100).  Eager cleanup: the staging
    # is single-consumer (the scratch.py discipline).
    import shutil

    stage_root = scratch_dir("ecs_cont_stage", tag)
    inter.write.mode("overwrite").parquet(f"{stage_root}/inter")
    sizes.write.mode("overwrite").parquet(f"{stage_root}/sizes")
    inter2 = spark.read.parquet(f"{stage_root}/inter")
    sizes2 = spark.read.parquet(f"{stage_root}/sizes")
    sa = sizes2.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
    )
    sb = sizes2.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
    )
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    (
        # merge hints on the size stitch as well: at sf100 AQE's
        # per-partition estimate elects shuffled-hash builds of the
        # doc-dimension sizes frame, and 32 concurrent ~50MB hashed
        # relations beside the pair-side sort buffers tip the 8g
        # JVM.  SMJ spills both sides; build-time cost, paid once.
        inter2.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .filter(cont >= _CONT_STORE_FLOOR)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
        .write.mode("overwrite")
        .option("path", scratch_dir("ecs_cont_pairs", tag))
        .saveAsTable(t)
    )
    shutil.rmtree(stage_root, ignore_errors=True)
    return t


@register(
    "llm_containment_pairs_persisted",
    oracle=QUERIES["llm_containment_pairs"].oracle,
    doc="Persisted near-dup pair store + containment probe (X54b, r16 "
    "— the r15 verdict's item 5, the A37b pay-once pattern applied "
    "to the asymmetric near-dup key): X54 pays the corpus scan, the "
    "260M-md5 fingerprint explode, AND the data-proportional pair "
    "core on every run — 161 s at sf100.  This key answers the SAME "
    "question (same oracle, byte-identical output) from the pay-once "
    "containment_store: every pair at containment >= 0.5 persists "
    "with its (n_common, n_a, n_b) evidence at build, and the graded "
    "probe is a stored-table scan + the containment expression + the "
    ">= 0.6 threshold filter — result-proportional, with ZERO "
    "documents scans and ZERO joins in the executed plan (plan "
    "contract test_containment_persisted_probe_reads_store_only).  "
    "The 0.5 build floor sits strictly below every production "
    "threshold, so dup-group builders, keep-best selectors, and "
    "audit dashboards all cut the one stored pair list at their own "
    "threshold (the X69b min_jaccard=0 stance).  The pair core pays "
    "once per corpus generation by design — it is the linear-in-"
    "corpus half of X54 (measured: 28.6M co-occurring pairs at "
    "sf10), and probing it per query is what kept X54 at 161 s.  "
    "Staleness rides the X12/X60/X62 source-fingerprint tag.",
    builds_store=True,
)
def q_llm_containment_pairs_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    st = spark.table(containment_store(spark, sf_dir))
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return st.filter(cont >= _CONTAIN_MIN).select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(cont, 6).alias("containment"),
    )


# --------------------------------------------------------------------------
# X55: Count-Min heavy hitters with exact verification
# --------------------------------------------------------------------------

_CM_DEPTH = 4    # independent hash rows
_CM_WIDTH = 256  # buckets per row (2 hex chars of md5)
_CM_PCT = 1      # report tokens estimated at >= 1% of the stream


@register(
    "llm_cm_heavy_hitters",
    oracle="WITH toks AS (SELECT unnest(string_split(text, ' ')) "
    "AS tok FROM documents), "
    "vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1), "
    "total AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM vocab), "
    "cells AS (SELECT s.seed, "
    "substring(md5(CAST(s.seed AS VARCHAR) || ':' || v.tok), 1, 2) AS bucket, "
    "CAST(sum(v.tf) AS BIGINT) AS c FROM vocab v, "
    f"(SELECT unnest(range({_CM_DEPTH})) AS seed) s GROUP BY 1, 2), "
    "est AS (SELECT v.tok, v.tf, min(c.c) AS est FROM vocab v "
    "JOIN cells c ON c.bucket = substring(md5("
    "CAST(c.seed AS VARCHAR) || ':' || v.tok), 1, 2) GROUP BY 1, 2) "
    "SELECT e.tok, CAST(e.est AS BIGINT) AS est, e.tf, "
    "CAST(e.est - e.tf AS BIGINT) AS overcount "
    "FROM est e, total t "
    f"WHERE e.est * {100 // _CM_PCT} >= t.n "
    "ORDER BY e.est DESC, e.tok",
    doc="Count-Min heavy hitters with exact verification (X55, "
    "Cormode-Muthukrishnan): estimate every token's frequency from "
    f"a {_CM_DEPTH}x{_CM_WIDTH} Count-Min sketch (per row, the "
    "token's md5-derived bucket accumulates the row's counts; the "
    "estimate is the MIN over rows — an upper bound that overcounts "
    "only by colliding tails), surface tokens estimated at >= "
    f"{_CM_PCT}% of the stream, and report the exact count beside "
    "the estimate so the collision overcount is itself measured.  "
    "THE sublinear-memory pattern for 100 TB frequency questions: "
    "the sketch is O(depth·width) cells NO MATTER the corpus — "
    "mergeable across partitions by addition (same algebra as the "
    "HLL union, A5d), so map-side partials collapse each partition "
    "to <= 1024 cells before the only wide shuffle; the candidate "
    "set the exact-verify join touches is threshold-bounded (<= "
    "100/pct tokens can clear a 1%-of-stream bound, pigeonhole), so "
    "the expensive pass runs over a CONSTANT-sized frame.  Both "
    "engines walk the identical integer protocol (md5 buckets, "
    "integer sums, min, integer threshold compare est·100 >= N — no "
    "division), so the sketch contents are bit-identical and the "
    "driver hashes the production configuration.  Here the estimate "
    "pass reuses the (tok, tf) collapse for the bucket sums — "
    "identical cells, one pass fewer; the pure-sketch form never "
    "materializes vocab.",
)
def q_llm_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    toks = d.select(F.explode(F.split("text", " ", -1)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").cast("long").alias("n"))

    def bucket(seed: int):
        return F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok"))), 1, 2
        )

    cells = (
        vocab.select(
            "tf",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"),
                            bucket(s).alias("bucket"),
                        )
                        for s in range(_CM_DEPTH)
                    ]
                )
            ).alias("sb"),
        )
        .groupBy(F.col("sb.seed").alias("seed"), F.col("sb.bucket").alias("bucket"))
        .agg(F.sum("tf").cast("long").alias("c"))
    )
    # est = min over the sketch rows this token hashes into; the
    # sketch is <= depth*width rows — broadcast onto the vocab frame.
    withb = vocab.select(
        "tok", "tf", *[bucket(s).alias(f"b{s}") for s in range(_CM_DEPTH)]
    )
    est = withb
    for s in range(_CM_DEPTH):
        leg = cells.filter(F.col("seed") == s).select(
            F.col("bucket").alias(f"b{s}"), F.col("c").alias(f"c{s}")
        )
        est = est.join(F.broadcast(leg), f"b{s}")
    est = est.select(
        "tok",
        "tf",
        F.least(*[F.col(f"c{s}") for s in range(_CM_DEPTH)]).alias("est"),
    )
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") * (100 // _CM_PCT) >= F.col("n"))
        .select(
            "tok",
            "est",
            "tf",
            (F.col("est") - F.col("tf")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("est").desc(), "tok")
    )


# --------------------------------------------------------------------------
# X57: per-source KL-divergence novelty
# --------------------------------------------------------------------------


@register(
    "llm_source_kl",
    oracle="WITH toks AS (SELECT source, "
    "unnest(string_split(text, ' ')) AS tok FROM documents), "
    "st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tfs "
    "FROM toks GROUP BY 1, 2), "
    "vocab AS (SELECT tok, CAST(sum(tfs) AS BIGINT) AS tf "
    "FROM st GROUP BY 1), "
    "tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM vocab), "
    "ns AS (SELECT source, CAST(sum(tfs) AS BIGINT) AS n_toks "
    "FROM st GROUP BY 1), "
    "terms AS (SELECT st.source, st.tfs, "
    "CAST(floor(ln((CAST(st.tfs AS DOUBLE) * t.n) / "
    "(CAST(ns.n_toks AS DOUBLE) * v.tf)) * 1000000.0 + 0.5) "
    "AS DECIMAL(25,0)) AS lq "
    "FROM st JOIN vocab v ON st.tok = v.tok "
    "JOIN ns ON st.source = ns.source CROSS JOIN tot t) "
    "SELECT tm.source, ns.n_toks, "
    "CAST(count(*) AS BIGINT) AS n_vocab, "
    "round(CAST(sum(tm.tfs * tm.lq) AS DOUBLE) / 1000000.0 "
    "/ ns.n_toks, 6) AS kl_nats "
    "FROM terms tm JOIN ns ON tm.source = ns.source "
    "GROUP BY 1, 2 ORDER BY 1",
    doc="Per-source KL-divergence novelty (X57): for each source, "
    "KL(p_source ‖ p_corpus) over the token distribution — "
    "Σ_t p_s(t)·ln(p_s(t)/q(t)) in nats — the drift/novelty score "
    "that ranks sources by how far their language deviates from the "
    "corpus mixture.  The distribution-level complement of X31's "
    "per-document perplexity (a source can contain individually "
    "plausible documents whose AGGREGATE distribution is skewed — "
    "machine-generated spam farms look exactly like this) and the "
    "measurement DSIR-style importance resampling (X46) implicitly "
    "optimizes.  Same engine-exact protocol as the perplexity "
    "family: the ratio (tfs·N)/(Ns·tf) is an identical double "
    "expression tree on both engines, its ln quantizes to the 1e-6 "
    "lattice per TERM, per-source sums are exact fixed-point "
    "DECIMAL (tfs·L products — order-independent), and one double "
    "division chain at the end.  Scale: the token stream "
    "pre-collapses to (source, token, tfs) — zipf head crosses the "
    "token-keyed shuffle once per SOURCE — the corpus LM is "
    "vocabulary-sized and JOINED on the token hash (never "
    "broadcast), and the rollup is #sources rows.",
)
def q_llm_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    toks = d.select(
        "source", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("tfs")
    )
    vocab = st.groupBy("tok").agg(F.sum("tfs").cast("long").alias("tf"))
    tot = vocab.agg(F.sum("tf").cast("long").alias("n"))
    ns = st.groupBy("source").agg(
        F.sum("tfs").cast("long").alias("n_toks")
    )
    ratio = (F.col("tfs").cast("double") * F.col("n")) / (
        F.col("n_toks").cast("double") * F.col("tf")
    )
    lq = F.floor(F.log(ratio) * 1000000.0 + 0.5).cast("decimal(25,0)")
    terms = (
        st.join(vocab, "tok")
        .join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .select("source", "tfs", "n_toks", lq.alias("lq"))
    )
    return (
        terms.groupBy("source", "n_toks")
        .agg(
            F.count(F.lit(1)).alias("n_vocab"),
            F.round(
                F.sum(F.col("tfs") * F.col("lq")).cast("double")
                / 1000000.0
                / F.col("n_toks"),
                6,
            ).alias("kl_nats"),
        )
        .select("source", "n_toks", "n_vocab", "kl_nats")
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X56: per-label embedding centroid drift
# --------------------------------------------------------------------------

_CD_SCALE = 1000.0  # 1e-3 component lattice (the X50/X52 grain)


@register(
    "llm_centroid_drift",
    oracle="WITH ex AS (SELECT e.vec_id, e.label, t.i - 1 AS dim, "
    f"CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * {_CD_SCALE} "
    "+ 0.5) AS BIGINT) AS q "
    "FROM embeddings e, "
    "UNNEST(generate_series(1, len(e.embedding))) AS t(i)), "
    "ls AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sl "
    "FROM ex GROUP BY 1, 2), "
    "nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs "
    "FROM embeddings GROUP BY 1), "
    "g AS (SELECT dim, CAST(sum(sl) AS BIGINT) AS sg FROM ls "
    "GROUP BY 1), "
    "gn AS (SELECT sum(CAST(sg AS HUGEINT) * CAST(sg AS HUGEINT)) "
    "AS ng2 FROM g), "
    "dots AS (SELECT ls.label, "
    "sum(CAST(ls.sl AS HUGEINT) * CAST(g.sg AS HUGEINT)) AS dot, "
    "sum(CAST(ls.sl AS HUGEINT) * CAST(ls.sl AS HUGEINT)) AS nl2 "
    "FROM ls JOIN g ON ls.dim = g.dim GROUP BY 1) "
    "SELECT d.label, nv.n_vecs, "
    "round(CAST(d.dot AS DOUBLE) / "
    "(sqrt(CAST(d.nl2 AS DOUBLE)) * sqrt(CAST(gn.ng2 AS DOUBLE))), 6) "
    "AS cos_to_global, "
    f"round(sqrt(CAST(d.nl2 AS DOUBLE)) / nv.n_vecs / {_CD_SCALE}, 6) "
    "AS centroid_norm "
    "FROM dots d JOIN nv ON d.label = nv.label, gn ORDER BY 1",
    doc="Per-label embedding centroid drift (X56): each label "
    "cluster's mean vector compared to the corpus mean by cosine, "
    "plus the centroid's own norm — the vector-space analogue of "
    "X57's distributional KL (a label whose centroid swings away "
    "from the global mean is a subpopulation drifting in embedding "
    "space — the monitoring probe for embedding-model upgrades and "
    "for V2-style drift at the representation layer; a centroid "
    "norm near zero means the label's vectors cancel — an "
    "incoherent, likely mislabeled cluster).  Cosine is "
    "SCALE-INVARIANT, so mean vectors never materialize: cos(Σx/n, "
    "ΣX/N) = cos(Σx, ΣX), and the whole comparison runs on per-"
    "(label, dim) SUMS of 1e-3-lattice quantized components (the "
    "X50/X52 grain) — exact integers, with the global sums derived "
    "from the label sums (one corpus pass total).  Dot products "
    "widen to HUGEINT/DECIMAL(38,0) in-expression (the X52 "
    "protocol: a 100 TB corpus's component sums are ~1e15 units, "
    "their products ~1e30 — exact in 38 digits, overflowing "
    "BIGINT), and the two sqrt/division steps at the end are "
    "identical doubles of exact operands.  Scale: the explode is "
    "scan-local with map-side partials onto a (labels × 64)-row "
    "frame; everything downstream is label-count-sized.",
)
def q_llm_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "embeddings")
    )
    ex = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * _CD_SCALE + 0.5)
        .cast("long")
        .alias("q"),
    )
    ls = ex.groupBy("label", "dim").agg(
        F.sum("q").cast("long").alias("sl")
    )
    nv = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    g = ls.groupBy("dim").agg(F.sum("sl").cast("long").alias("sg"))
    wide = "decimal(38,0)"
    gn = g.agg(
        F.sum(F.col("sg").cast(wide) * F.col("sg").cast(wide)).alias("ng2")
    )
    dots = (
        ls.join(F.broadcast(g), "dim")
        .groupBy("label")
        .agg(
            F.sum(F.col("sl").cast(wide) * F.col("sg").cast(wide)).alias(
                "dot"
            ),
            F.sum(F.col("sl").cast(wide) * F.col("sl").cast(wide)).alias(
                "nl2"
            ),
        )
    )
    return (
        dots.join(F.broadcast(nv), "label")
        .crossJoin(F.broadcast(gn))
        .select(
            "label",
            "n_vecs",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nl2").cast("double"))
                    * F.sqrt(F.col("ng2").cast("double"))
                ),
                6,
            ).alias("cos_to_global"),
            F.round(
                F.sqrt(F.col("nl2").cast("double"))
                / F.col("n_vecs")
                / _CD_SCALE,
                6,
            ).alias("centroid_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# X62: persisted per-source Count-Min sketches, merged at query time
# --------------------------------------------------------------------------


def _cm_index_tag(sf_dir: str) -> str:
    """Source fingerprint + PID, the X12/X60 staleness discipline."""
    import hashlib
    import os

    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    fp = hashlib.md5(
        f"{p}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:8]
    return f"{fp}_{os.getpid()}"


def cm_sketch_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Day-1 pay-once build of the per-source sketch store: one
    Count-Min sketch per source (≤ depth·width slim cell rows each)
    plus each source's own ≥1%-share candidate tokens (pigeonhole-
    bounded at ≤ 100/source).  One corpus scan builds both; any later
    frequency question over any source subset is answered from these
    tables alone — THE reason sketches exist at 100 TB (the A5d HLL
    stance, with counts instead of distincts)."""
    from ..scratch import scratch_dir

    tag = _cm_index_tag(sf_dir)
    cells_t = f"ecs_cm_cells_{tag}"
    cands_t = f"ecs_cm_cands_{tag}"
    if spark.catalog.tableExists(cells_t) and spark.catalog.tableExists(
        cands_t
    ):
        return cells_t, cands_t
    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    toks = d.select(
        "source", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tfs"))
    ns = st.groupBy("source").agg(F.sum("tfs").cast("long").alias("n_toks"))

    def bucket(seed: int):
        return F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok"))), 1, 2
        )

    cells = (
        st.select(
            "source",
            "tfs",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"), bucket(s).alias("bucket")
                        )
                        for s in range(_CM_DEPTH)
                    ]
                )
            ).alias("sb"),
        )
        .groupBy(
            "source",
            F.col("sb.seed").alias("seed"),
            F.col("sb.bucket").alias("bucket"),
        )
        .agg(F.sum("tfs").cast("long").alias("c"))
    )
    cands = (
        st.join(F.broadcast(ns), "source")
        .filter(F.col("tfs") * 100 >= F.col("n_toks"))
        .select("source", "tok")
    )
    spark.sql(f"DROP TABLE IF EXISTS {cells_t}")
    (
        cells.write.mode("overwrite")
        .option("path", scratch_dir("ecs_cm_cells", tag))
        .saveAsTable(cells_t)
    )
    spark.sql(f"DROP TABLE IF EXISTS {cands_t}")
    (
        cands.write.mode("overwrite")
        .option("path", scratch_dir("ecs_cm_cands", tag))
        .saveAsTable(cands_t)
    )
    return cells_t, cands_t


@register(
    "llm_cm_sketch_persisted",
    oracle="WITH toks AS (SELECT source, "
    "unnest(string_split(text, ' ')) AS tok FROM documents), "
    "st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tfs "
    "FROM toks GROUP BY 1, 2), "
    "ns AS (SELECT source, CAST(sum(tfs) AS BIGINT) AS n_toks "
    "FROM st GROUP BY 1), "
    "cands AS (SELECT st.source, st.tok FROM st JOIN ns USING (source) "
    "WHERE st.tfs * 100 >= ns.n_toks), "
    "scells AS (SELECT st.source, s.seed, "
    "substring(md5(CAST(s.seed AS VARCHAR) || ':' || st.tok), 1, 2) "
    "AS bucket, CAST(sum(st.tfs) AS BIGINT) AS c FROM st, "
    f"(SELECT unnest(range({_CM_DEPTH})) AS seed) s GROUP BY 1, 2, 3), "
    "mcells AS (SELECT seed, bucket, CAST(sum(c) AS BIGINT) AS c "
    "FROM scells GROUP BY 1, 2), "
    "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM mcells "
    "WHERE seed = 0), "
    "cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_candidate_sources "
    "FROM cands GROUP BY 1), "
    "est AS (SELECT cu.tok, cu.n_candidate_sources, min(m.c) AS est "
    "FROM cu JOIN mcells m ON m.bucket = substring(md5("
    "CAST(m.seed AS VARCHAR) || ':' || cu.tok), 1, 2) GROUP BY 1, 2) "
    "SELECT e.tok, CAST(e.est AS BIGINT) AS est, e.n_candidate_sources "
    "FROM est e, tot t WHERE e.est * 100 >= t.n "
    "ORDER BY e.est DESC, e.tok",
    doc="Persisted mergeable Count-Min sketches (X62, the A5d "
    "sketch-persistence stance with counts): day-1 builds ONE sketch "
    "per source plus each source's ≥1%-share candidate tokens; the "
    "graded query answers the corpus heavy-hitter question from the "
    "STORED tables alone — merged sketch = cell-wise SUM of the "
    "per-source sketches (Count-Min's defining algebra: cells are "
    "linear, so partial sketches add exactly), corpus size = the "
    "seed-0 row sum of the merged sketch (the sketch carries its own "
    "total), candidates = the stored per-source union.  Candidate "
    "completeness is the max-ratio bound: a token with union share "
    "≥ 1% has share ≥ 1% in at least ONE source (max of ratios ≥ "
    "their weighted mean), so every true union heavy hitter is in "
    "some source's stored list — the cross-source spam-dilution "
    "trick (≥1% everywhere, <1% nowhere) cannot exist.  At 100 TB: "
    "any source-subset rollup is a sum over ≤ S·1024 slim rows with "
    "ZERO text re-scans (plan contract pins the probe reading only "
    "the sketch tables); the oracle replays the identical "
    "integer protocol end to end.",
    builds_store=True,
)
def q_llm_cm_sketch_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells_t, cands_t = cm_sketch_tables(spark, sf_dir)
    mcells = (
        spark.table(cells_t)
        .groupBy("seed", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    tot = mcells.filter(F.col("seed") == 0).agg(
        F.sum("c").cast("long").alias("n")
    )
    cu = (
        spark.table(cands_t)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_candidate_sources"))
    )

    def bucket(seed: int):
        return F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok"))), 1, 2
        )

    withb = cu.select(
        "tok",
        "n_candidate_sources",
        *[bucket(s).alias(f"b{s}") for s in range(_CM_DEPTH)],
    )
    est = withb
    for s in range(_CM_DEPTH):
        leg = mcells.filter(F.col("seed") == s).select(
            F.col("bucket").alias(f"b{s}"), F.col("c").alias(f"c{s}")
        )
        est = est.join(F.broadcast(leg), f"b{s}")
    est = est.select(
        "tok",
        "n_candidate_sources",
        F.least(*[F.col(f"c{s}") for s in range(_CM_DEPTH)]).alias("est"),
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("est") * 100 >= F.col("n"))
        .select("tok", "est", "n_candidate_sources")
        .orderBy(F.col("est").desc(), "tok")
    )


# --------------------------------------------------------------------------
# X64: windowed-decay Count-Min — per-day sketches, sliding-window rollup
# --------------------------------------------------------------------------

_CMW_DAYS = 7        # synthesized day domain: day = doc_id % 7
_CMW_LO, _CMW_HI = 4, 6  # the probed 3-day sliding window


@register(
    "llm_cm_sketch_windowed",
    oracle="WITH toks AS (SELECT doc_id % 7 AS day, "
    "unnest(string_split(text, ' ')) AS tok FROM documents), "
    "vocab AS (SELECT day, tok, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    # the per-day sketch store: one (day, seed, bucket) cell table —
    # this is the MERGEABLE form a production pipeline persists
    "cells AS (SELECT v.day, s.seed, "
    "substring(md5(CAST(s.seed AS VARCHAR) || ':' || v.tok), 1, 2) "
    "AS bucket, CAST(sum(v.tf) AS BIGINT) AS c FROM vocab v, "
    f"(SELECT unnest(range({_CM_DEPTH})) AS seed) s GROUP BY 1, 2, 3), "
    # the windowed read: rollup = SUM over the window's per-day rows
    f"wcells AS (SELECT seed, bucket, CAST(sum(c) AS BIGINT) AS c "
    f"FROM cells WHERE day BETWEEN {_CMW_LO} AND {_CMW_HI} "
    "GROUP BY 1, 2), "
    f"wvocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS tf FROM vocab "
    f"WHERE day BETWEEN {_CMW_LO} AND {_CMW_HI} GROUP BY 1), "
    "wtot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM wvocab), "
    "est AS (SELECT v.tok, v.tf, min(c.c) AS est FROM wvocab v "
    "JOIN wcells c ON c.bucket = substring(md5("
    "CAST(c.seed AS VARCHAR) || ':' || v.tok), 1, 2) GROUP BY 1, 2) "
    "SELECT e.tok, CAST(e.est AS BIGINT) AS est, e.tf, "
    "CAST(e.est - e.tf AS BIGINT) AS overcount "
    "FROM est e, wtot t "
    f"WHERE e.est * {100 // _CM_PCT} >= t.n "
    "ORDER BY e.est DESC, e.tok",
    doc="Windowed-decay Count-Min (X64, the X62 store's sliding-"
    "window read — SURVEY's documented next step): the sketch store "
    "keeps one CM per day (day synthesized as doc_id mod 7 — the "
    "corpus carries no timestamps; the evt_ewma_long precedent), "
    "and a window query materializes the window's sketch as the "
    "CELL-WISE SUM of the member days' rows — the same mergeable-"
    "by-addition algebra that collapses partitions (X55) and "
    "sources (X62), now collapsing TIME, which is what lets a "
    "production store answer 'hot tokens in the last N days' "
    "without ever re-reading corpus bytes: expiring a day is "
    "dropping its ≤1024 rows from the sum.  Heavy hitters "
    "(est ≥ 1% of the windowed stream, integer threshold compare) "
    "report beside their exact windowed counts so the collision "
    "overcount stays measured.  Scale: per-day cells collapse "
    "map-side to ≤ days·depth·width rows before the only wide "
    "shuffle; the window rollup and the min-over-rows run on "
    "sketch-sized frames.",
)
def q_llm_cm_sketch_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    toks = d.select(
        (F.col("doc_id") % _CMW_DAYS).alias("day"),
        F.explode(F.split("text", " ", -1)).alias("tok"),
    )
    # Pin the (day, tok, tf) vocab ONCE: it feeds three consumers
    # (cells→wcells, wvocab→wtot, est) — unpinned, the corpus explode
    # + token collapse re-ran per consumer (r11 plan: 17 exchanges,
    # 0 reused; r12 verdict item 5).
    vocab = (
        toks.groupBy("day", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )

    def bucket(seed: int):
        return F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("tok"))), 1, 2
        )

    cells = (
        vocab.select(
            "day",
            "tf",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("seed"),
                            bucket(s).alias("bucket"),
                        )
                        for s in range(_CM_DEPTH)
                    ]
                )
            ).alias("sb"),
        )
        .groupBy(
            "day",
            F.col("sb.seed").alias("seed"),
            F.col("sb.bucket").alias("bucket"),
        )
        .agg(F.sum("tf").cast("long").alias("c"))
    )
    win = F.col("day").between(_CMW_LO, _CMW_HI)
    wcells = (
        cells.filter(win)
        .groupBy("seed", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    wvocab = (
        vocab.filter(win)
        .groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    wtot = wvocab.agg(F.sum("tf").cast("long").alias("n"))
    est = wvocab.select(
        "tok", "tf", *[bucket(s).alias(f"b{s}") for s in range(_CM_DEPTH)]
    )
    for s in range(_CM_DEPTH):
        leg = wcells.filter(F.col("seed") == s).select(
            F.col("bucket").alias(f"b{s}"), F.col("c").alias(f"c{s}")
        )
        est = est.join(F.broadcast(leg), f"b{s}")
    est = est.select(
        "tok",
        "tf",
        F.least(*[F.col(f"c{s}") for s in range(_CM_DEPTH)]).alias("est"),
    )
    return (
        est.crossJoin(F.broadcast(wtot))
        .filter(F.col("est") * (100 // _CM_PCT) >= F.col("n"))
        .select(
            "tok",
            "est",
            "tf",
            (F.col("est") - F.col("tf")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("est").desc(), "tok")
    )
