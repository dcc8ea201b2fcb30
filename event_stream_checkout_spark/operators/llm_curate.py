"""Corpus-curation wave 4 (SURVEY.md §2.10 extensions, X18-X22):
PII scrubbing, stratified quality gates, token-budget selection,
LSH-verified exact Jaccard, and a fixed-point PageRank over the
near-duplicate graph.

These extend the training-data-pipeline family beyond the reference's
surface (the reference's closest analogue is the payload-validation
predicate, src/ingest_order/app.py:34-43 — a per-record gate; these are
the corpus-scale gates a 100 TB pretraining pipeline runs after it).

Scale stances, shared across the module:
- Everything per-row is a scan-local expression (regex, token counts,
  quality components) — zero shuffles until a reduction needs one.
- Anything that looks like a "global ORDER BY + running total" is a
  TWO-PASS bucketed prefix-sum (``_cumsum_from_buckets``): deterministic
  value-derived bucket ids, per-bucket windows in parallel, and a
  broadcast O(#buckets) offset table — the same shape as
  relational.rank_from_buckets, never a single-partition window over
  data.
- Pairwise work (exact Jaccard, PageRank edges) is defined over the
  LSH candidate set from llm_advanced — bounded by the banding
  collision structure and its degenerate-bucket cap, never all-pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, quant, sql_dsum, sql_quant
from ..registry import register
from ..tables import load_table, with_min_scan_parallelism
from .llm_advanced import (
    _N_HASHES,
    _SQL_BANDS,
    _SQL_CAPPED,
    _SQL_SIGS,
    _STOPWORDS,
    SQL_GRAMS,
    _expand_pairs,
    _minhash_sigs,
    _pairs_from_sigs,
    distinct_grams_df,
    grams_df,
    quality_frame,
)

# --------------------------------------------------------------------------
# Shared oracle CTE: the quality heuristic (mirror of
# llm_advanced.quality_frame — one definition per side).
# --------------------------------------------------------------------------

_SQL_QUALITY = (
    "qraw AS (SELECT doc_id, lang, source, "
    "  len(string_split(text, ' ')) AS n_tokens, "
    "  len(list_filter(string_split(text, ' '), "
    f"    w -> list_contains({_STOPWORDS!r}, w))) AS n_stop "
    "  FROM documents), "
    "qs AS (SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens, "
    "  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio, "
    "  (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END + "
    "   CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 THEN 1 ELSE 0 END)"
    "  AS quality FROM qraw)"
)


# --------------------------------------------------------------------------
# X18: PII scrubbing
# --------------------------------------------------------------------------

# Patterns restricted to the regex subset where Java (Spark) and RE2
# (DuckDB) agree exactly — character classes, bounded repetition, \b —
# verified on adversarial strings by tests/test_curation.py.  No
# alternation whose leftmost-first vs leftmost-longest semantics could
# diverge.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_LONGNUM = r"\d{7,}"
# Replacement order matters (an email contains dots and digits): email
# first, then IPv4, then bare long digit runs — applied identically in
# the oracle.
_PII_RULES = [
    (_PII_EMAIL, "<EMAIL>", "n_emails"),
    (_PII_IPV4, "<IP>", "n_ipv4"),
    (_PII_LONGNUM, "<NUM>", "n_longnums"),
]


def _sql_quote(pat: str) -> str:
    return pat.replace("'", "''")


@register(
    "llm_pii_scrub",
    oracle="SELECT doc_id, "
    + ", ".join(
        f"CAST(len(regexp_extract_all(text, '{_sql_quote(p)}')) AS BIGINT) "
        f"AS {alias}"
        for p, _, alias in _PII_RULES
    )
    + ", md5("
    + "".join("regexp_replace(" for _ in _PII_RULES)
    + "text"
    + "".join(
        f", '{_sql_quote(p)}', '{repl}', 'g')" for p, repl, _ in _PII_RULES
    )
    + ") AS scrubbed_hash FROM documents",
    doc="PII scrubbing (X18): mask emails, IPv4 addresses and long "
    "digit runs with typed placeholder tokens, and count what was "
    "masked per document — the redaction pass a pretraining pipeline "
    "runs before anything else sees the text. Pure scan-local "
    "regexp_replace/regexp_extract_all expressions (JVM codegen, zero "
    "shuffles, zero UDFs); the masked text is emitted as its md5 so "
    "the result stays slim and hash-checkable. Patterns live in the "
    "Java∩RE2 regex subset so engine and oracle match byte-for-byte "
    "(adversarial-string parity pinned by tests/test_curation.py).",
)
def q_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(load_table(spark, sf_dir, "documents"))


def pii_scrub(d: DataFrame) -> DataFrame:
    """The scrub plan over any frame with (doc_id, text) — factored out
    so tests can drive it with adversarial PII strings (the driver
    corpora are word-salad and exercise mostly the no-match path)."""
    scrubbed = F.col("text")
    counts = []
    for pat, repl, alias in _PII_RULES:
        counts.append(
            F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(alias)
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return d.select("doc_id", *counts, F.md5(scrubbed).alias("scrubbed_hash"))


# --------------------------------------------------------------------------
# Two-pass bucketed prefix-sum (the distributed form of "running total
# over a global order", shared by X19/X20)
# --------------------------------------------------------------------------


def _cumsum_from_buckets(
    bucketed: DataFrame,
    part_cols: list[str],
    keys: list,
    val_col,
    out_col: str,
) -> DataFrame:
    """Distributed running sum of ``val_col`` over ``keys`` within each
    ``part_cols`` group — the prefix-sum analogue of
    relational.rank_from_buckets (rank == running sum of 1).

    ``bucketed`` must be PINNED (it feeds a window branch and a totals
    branch) and carry a ``_pid`` bucket id that is a pure function of
    the sort-key VALUE with bucket order matching key order.  Pass 1
    runs the window per (group, bucket) in parallel; pass 2 adds the
    broadcast per-(group, bucket) prefix offsets — O(#groups·#buckets)
    rows, never O(data), so no single-partition stage touches data no
    matter how large one group is at 100 TB.
    """
    wp = (
        Window.partitionBy(*part_cols, "_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.withColumn("_run", F.sum(val_col).over(wp))
    totals = bucketed.groupBy(*part_cols, "_pid").agg(
        F.sum(val_col).alias("_tot")
    )
    woff = (
        Window.partitionBy(*part_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *part_cols,
        "_pid",
        F.coalesce(F.sum("_tot").over(woff), F.lit(0)).alias("_off"),
    )
    # NULL-SAFE offsets join: PARTITION BY groups NULL keys together
    # (both the window pass and the totals aggregate honor that), but a
    # plain equi-join on the group columns would silently DROP the
    # NULL-key group's rows here — a latent loss the NULL-injection
    # parity sweep (tools/null_sweep.py) caught on a NULL-lang corpus.
    # eqNullSafe makes the helper's semantics identical to the single
    # window it replaces, for every key domain.
    left, right = local.alias("_l"), offsets.alias("_r")
    cond = [
        F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}")) for c in part_cols
    ] + [F.col("_l._pid") == F.col("_r._pid")]
    return (
        left.join(F.broadcast(right), cond)
        .select("_l.*", F.col("_r._off"))
        .withColumn(out_col, (F.col("_off") + F.col("_run")).cast("long"))
    )


# --------------------------------------------------------------------------
# X19: stratified quality gate (keep the top half per source)
# --------------------------------------------------------------------------

_STRAT_SUB_BUCKETS = 8


@register(
    "llm_quality_stratified",
    oracle=f"WITH {_SQL_QUALITY}, "
    "r AS (SELECT doc_id, source, quality, "
    "  row_number() OVER (PARTITION BY source ORDER BY quality DESC, "
    "    stopword_ratio DESC, doc_id) AS rk, "
    "  count(*) OVER (PARTITION BY source) AS n FROM qs) "
    "SELECT source, doc_id, CAST(quality AS INTEGER) AS quality, "
    "CAST(rk AS BIGINT) AS rk FROM r WHERE rk * 2 <= n + 1",
    doc="Stratified quality gate (X19): within each source, rank docs by "
    "the quality heuristic (quality band desc, stopword ratio desc, "
    "doc_id tiebreak) and keep the top half — the per-stratum filter "
    "that keeps one domain's quality bar from being set by another's "
    "distribution. The rank is integer-exact (no percentile floats) "
    "and computed as a TWO-PASS bucketed rank per source "
    "(_cumsum_from_buckets with weight 1): bucket id is a pure "
    "function of (quality, stopword_ratio), per-bucket windows run in "
    "parallel, and the offset table is O(#sources·24) broadcast rows — "
    "a source with a billion docs at 100 TB never funnels through one "
    "partition. The oracle states the same gate declaratively with a "
    "single window.",
)
def q_llm_quality_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_frame(load_table(spark, sf_dir, "documents"))
    # Bucket id from the sort-key value: 3 quality bands × 8 ratio
    # sub-buckets, descending to match (quality DESC, ratio DESC).
    sub = F.least(
        F.lit(_STRAT_SUB_BUCKETS - 1),
        F.floor(
            (F.lit(1.0) - F.col("stopword_ratio")) * _STRAT_SUB_BUCKETS
        ).cast("int"),
    )
    pid = ((F.lit(2) - F.col("quality")) * _STRAT_SUB_BUCKETS + sub).alias(
        "_pid"
    )
    bucketed = q.select(
        "doc_id", "source", "quality", "stopword_ratio", pid
    ).localCheckpoint()
    keys = [
        F.col("quality").desc(),
        F.col("stopword_ratio").desc(),
        F.col("doc_id"),
    ]
    ranked = _cumsum_from_buckets(
        bucketed, ["source"], keys, F.lit(1), "rk"
    )
    n_src = bucketed.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.join(F.broadcast(n_src), "source")
        .filter(F.col("rk") * 2 <= F.col("_n") + 1)
        .select("source", "doc_id", "quality", "rk")
    )


# --------------------------------------------------------------------------
# X20: token-budget selection (greedy by quality until the budget)
# --------------------------------------------------------------------------

_TOKEN_BUDGET = 2000  # per-language token budget
_BUDGET_SUB_BUCKETS = 8


@register(
    "llm_token_budget_sample",
    oracle=f"WITH {_SQL_QUALITY}, "
    "c AS (SELECT lang, doc_id, quality, n_tokens, "
    "  sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens "
    "  FROM qs) "
    "SELECT lang, doc_id, CAST(quality AS INTEGER) AS quality, n_tokens, "
    "CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c "
    f"WHERE cum_tokens <= {_TOKEN_BUDGET}",
    doc="Token-budget selection (X20): per language, admit documents "
    "best-quality-first until the cumulative token count reaches the "
    "budget — how a training mix caps each language's contribution in "
    "tokens rather than documents. The running total is a TWO-PASS "
    "bucketed prefix-sum (_cumsum_from_buckets): per-(lang, bucket) "
    "window sums in parallel + broadcast O(#langs·24) offsets, so the "
    "admission order is globally exact without any per-lang "
    "single-partition sort — integer token counts make the result "
    "engine-exact. The oracle is the same greedy rule as one window.",
)
def q_llm_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_frame(load_table(spark, sf_dir, "documents")).select(
        "lang", "doc_id", "quality", "n_tokens"
    )
    mx = q.agg(F.max("doc_id").alias("_mx"))
    # Bucket id from the sort-key value (quality DESC, doc_id ASC):
    # 3 quality bands × 8 doc_id range sub-buckets.
    sub = F.least(
        F.lit(_BUDGET_SUB_BUCKETS - 1),
        F.expr(f"(doc_id * {_BUDGET_SUB_BUCKETS}) div (_mx + 1)"),
    )
    pid = ((F.lit(2) - F.col("quality")) * _BUDGET_SUB_BUCKETS + sub).alias(
        "_pid"
    )
    bucketed = (
        q.crossJoin(F.broadcast(mx)).select(*q.columns, pid).localCheckpoint()
    )
    keys = [F.col("quality").desc(), F.col("doc_id")]
    cum = _cumsum_from_buckets(
        bucketed, ["lang"], keys, F.col("n_tokens"), "cum_tokens"
    )
    return cum.filter(F.col("cum_tokens") <= _TOKEN_BUDGET).select(
        "lang", "doc_id", "quality", "n_tokens", "cum_tokens"
    )


# --------------------------------------------------------------------------
# X21: exact Jaccard over LSH candidates (the scale-path composition)
# --------------------------------------------------------------------------

_LSH_JACCARD_THRESHOLD = 0.2

_SQL_CAND = (
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM capped a JOIN capped b ON a.band_idx = b.band_idx "
    "AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"
)


@register(
    "llm_ngram_jaccard_lsh",
    oracle=f"WITH {SQL_GRAMS.strip()}, {_SQL_SIGS}, {_SQL_BANDS}, "
    f"{_SQL_CAPPED}, {_SQL_CAND}, "
    "dg AS (SELECT DISTINCT doc_id, gram FROM grams), "
    "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dg "
    "GROUP BY 1), "
    "inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common "
    "FROM cand c JOIN dg a ON a.doc_id = c.doc_a "
    "JOIN dg b ON b.doc_id = c.doc_b AND b.gram = a.gram GROUP BY 1, 2) "
    "SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a, sb.n AS n_b, "
    "CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard "
    "FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id "
    "JOIN sizes sb ON i.doc_b = sb.doc_id "
    "WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) "
    f">= {_LSH_JACCARD_THRESHOLD}",
    doc="Exact n-gram Jaccard over LSH candidates (X21): the verify "
    "stage of a candidate-generate/verify near-dup pipeline, and the "
    "composition the r6 verdict named as llm_ngram_jaccard's scale "
    "path. Pair space = the banding candidates (bounded by minhash "
    "collisions + the degenerate-bucket cap), so the exact-similarity "
    "join touches O(|candidates| · grams/doc) rows — never the all-"
    "pairs O(n²) of unblocked Jaccard, and, unlike the df-capped "
    "variant, the similarity itself is measured over the FULL gram "
    "sets (no rare-gram recall trade; the recall trade moved into "
    "candidate generation where the sketch theory quantifies it). "
    "Integer-ratio output is engine-exact.",
)
def q_llm_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _pairs_from_sigs(_minhash_sigs(spark, sf_dir))
    # r16: within-doc gram dedup is scan-local (identical row set, one
    # corpus exchange removed — see distinct_grams_df).
    dg = distinct_grams_df(spark, sf_dir)
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = dg.select(F.col("doc_id").alias("doc_a"), "gram")
    b = dg.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _LSH_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


# --------------------------------------------------------------------------
# X22: fixed-point PageRank over the near-duplicate graph
# --------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # fixed-point unit: pr is BIGINT millionths
_PR_ITERS = 3


def _sql_pr_iter(prev: str, name: str) -> str:
    return (
        f"{name} AS (SELECT e.dst AS doc_id, "
        f"150000 + (85 * CAST(sum(p.pr // d.deg) AS BIGINT)) // 100 AS pr "
        f"FROM edges e JOIN {prev} p ON p.doc_id = e.src "
        f"JOIN deg d ON d.src = e.src GROUP BY e.dst)"
    )


@register(
    "graph_pagerank",
    oracle=f"WITH {SQL_GRAMS.strip()}, {_SQL_SIGS}, {_SQL_BANDS}, "
    f"{_SQL_CAPPED}, {_SQL_CAND}, "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand "
    "UNION ALL SELECT doc_b, doc_a FROM cand), "
    "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges "
    "GROUP BY src), "
    f"pr0 AS (SELECT src AS doc_id, CAST({_PR_SCALE} AS BIGINT) AS pr "
    "FROM deg), "
    + ", ".join(
        _sql_pr_iter(f"pr{i}", f"pr{i + 1}") for i in range(_PR_ITERS)
    )
    + f" SELECT p.doc_id, d.deg, CAST(p.pr AS BIGINT) AS pr FROM pr{_PR_ITERS} p "
    "JOIN deg d ON d.src = p.doc_id",
    doc="Fixed-point PageRank on the near-dup graph (X22): 3 "
    "synchronous iterations of damped PageRank over the symmetric LSH "
    "candidate graph — the iterative-graph-algorithm shape (importance "
    "propagation, centrality of duplicate clusters) expressed as a "
    "Python-driven loop of join+groupBy rounds, the same driver-side "
    "fixed-iteration pattern as the connected-components resolver "
    "(llm_advanced._connected_components). All arithmetic is FIXED-"
    "POINT BIGINT (pr in millionths; per-edge share = pr div deg "
    "before summing), so the result is bit-exact on any engine and "
    "any partitioning — no float summation order anywhere. Edges and "
    "degrees are pinned once (localCheckpoint) and each round "
    "shuffles only O(|edges|) slim rows on doc_id; the oracle unrolls "
    "the same three rounds as CTEs.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs_from_sigs(_minhash_sigs(spark, sf_dir))
    return pagerank_fixed(pairs)


def pagerank_fixed(pairs: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """The fixed-point PageRank rounds over an undirected pair frame
    (doc_a, doc_b) — factored out of the registered query so tests can
    drive it with an explicit edge list and compare against a pure-
    python reference (tests/test_curation.py)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    pr = deg.select(
        F.col("src").alias("doc_id"),
        F.lit(_PR_SCALE).cast("long").alias("pr"),
    )
    for _ in range(iters):
        share = pr.join(
            deg.withColumnRenamed("src", "doc_id"), "doc_id"
        ).select(
            F.col("doc_id").alias("src"), F.expr("pr div deg").alias("c")
        )
        pr = (
            edges.join(share, "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("c").alias("_s"))
            .select(
                "doc_id",
                (F.lit(150000) + F.expr("(85 * _s) div 100"))
                .cast("long")
                .alias("pr"),
            )
        )
    return pr.join(deg.withColumnRenamed("src", "doc_id"), "doc_id").select(
        "doc_id", "deg", "pr"
    )


# ---------------------------------------------------------------------------
# X33: duplicate-span coverage (verbatim cross-doc duplication signal)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # word-8-gram spans: long enough to mean verbatim reuse


@register(
    "llm_dup_span_coverage",
    oracle="WITH spans AS (SELECT d.doc_id, "
    f"unnest(list_transform(generate_series(1, "
    f"len(string_split(d.text, ' ')) - {_SPAN_W - 1}), "
    "i -> CAST(concat('0x', substring(md5(array_to_string("
    f"string_split(d.text, ' ')[i:i + {_SPAN_W - 1}], ' ')), 1, 15)) "
    "AS BIGINT))) AS g "
    f"FROM documents d WHERE len(string_split(d.text, ' ')) >= {_SPAN_W}), "
    "tf AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf "
    "FROM spans GROUP BY 1, 2), "
    "df AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM tf GROUP BY 1), "
    "doc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_spans, "
    "CAST(sum(CASE WHEN df.n_docs >= 2 THEN tf.tf ELSE 0 END) AS BIGINT) "
    "AS n_dup FROM tf JOIN df USING (g) GROUP BY 1) "
    "SELECT doc_id, n_spans, n_dup, "
    "round(CAST(n_dup AS DOUBLE) / n_spans, 6) AS dup_frac "
    "FROM doc WHERE n_dup > 0",
    doc="Duplicate-span coverage (X33): for every document, the "
    "fraction of its word-8-gram POSITIONS whose exact span also "
    "appears in at least one OTHER document — the verbatim-reuse "
    "signal behind substring-level train-set dedup (Lee et al., "
    "'Deduplicating Training Data Makes Language Models Better': "
    "memorization tracks exact repeated spans, which document-level "
    "minhash misses when only a paragraph is copied). Positions are "
    "weighted (a doc that repeats a shared span 5x has 5 duplicated "
    "positions), which is why the per-doc rollup sums tf, not "
    "distinct grams. Distributed shape — three collapsing aggregates "
    "and one 1:1 join, NO pair expansion anywhere: spans are built "
    "scan-locally (transform over the token array), pre-collapsed to "
    "(doc, gram, tf) on the uniform composite key (zipf hardening: a "
    "boilerplate span crosses the gram shuffle once per containing "
    "doc), gram document-frequency derives from THAT frame (gram-"
    "keyed collapse), and the df table joins back on the gram hash — "
    "per-row flag, bounded output, so no df cap is needed (contrast "
    "llm_ngram_jaccard, whose gram join PAIRS docs and must cap). "
    "The span hash is a 60-bit md5-prefix BIGINT, not a hex string "
    "(r14: the third-decade bench measured the 16-char-string "
    "version at 0.835 sf10→sf100 — long keys halve the shuffle row "
    "and sort integer-fast; the oracle replays the identical "
    "fingerprint, so a collision merges the same spans on both "
    "engines). Docs shorter than 8 words have no spans and drop out "
    "in both engines; only docs with n_dup > 0 are emitted (the "
    "actionable set).",
)
def q_llm_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    words = F.split("text", " ", -1)
    d = d.withColumn("_w", words).filter(F.size("_w") >= _SPAN_W)
    gram = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (_SPAN_W - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(F.col("_w"), i, _SPAN_W), " ")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    spans = d.select("doc_id", F.explode(gram).alias("g"))
    # "Span appears in >= 2 docs" ⟺ its position rows span more than
    # one doc_id ⟺ min(doc) != max(doc) over the g-partition — ONE
    # fingerprint-keyed window pass flags every POSITION row in place
    # (tf weighting falls out for free: a doc repeating a shared span
    # 5× has 5 flagged rows).  The r14 third-decade bench measured
    # the previous tf→df→join→rollup shape at 0.835 sf10→sf100: it
    # moved the position frame through FOUR shuffles; this moves it
    # through the g-window shuffle plus the per-doc rollup only —
    # same integers, half the passes.
    wg = Window.partitionBy("g")
    flagged = spans.select(
        "doc_id",
        (F.min("doc_id").over(wg) != F.max("doc_id").over(wg)).alias(
            "multi"
        ),
    )
    doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("multi"), F.lit(1)).otherwise(F.lit(0))).alias(
            "n_dup"
        ),
    )
    return doc.filter(F.col("n_dup") > 0).select(
        "doc_id",
        "n_spans",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_spans"), 6
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# X38: boilerplate-segment stripping (C4-style corpus cleaning)
# ---------------------------------------------------------------------------

_BP_W = 10   # aligned segment width (words)
_BP_DF = 2   # segments in >= this many docs are boilerplate


@register(
    "llm_boilerplate_strip",
    oracle="WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w "
    "FROM documents), "
    f"base AS (SELECT doc_id, w, len(w) // {_BP_W} AS nch, "
    f"array_to_string(w[len(w) // {_BP_W} * {_BP_W} + 1:len(w)], ' ') "
    "AS tail FROM docs), "
    "ch AS (SELECT doc_id, t.i, "
    f"array_to_string(w[(t.i - 1) * {_BP_W} + 1:t.i * {_BP_W}], ' ') "
    "AS chunk FROM base, UNNEST(generate_series(1, nch)) AS t(i)), "
    "df AS (SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd "
    "FROM ch GROUP BY 1), "
    "fl AS (SELECT ch.doc_id, ch.i, ch.chunk, "
    f"df.nd < {_BP_DF} AS kept FROM ch JOIN df USING (chunk)), "
    "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, "
    "CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_stripped, "
    "list_transform(list_sort(array_agg(struct_pack(i := i, c := chunk)) "
    "FILTER (kept)), s -> s['c']) AS kept_arr FROM fl GROUP BY 1) "
    "SELECT b.doc_id, COALESCE(pd.n_chunks, 0) AS n_chunks, "
    "COALESCE(pd.n_stripped, 0) AS n_stripped, "
    "md5(COALESCE(array_to_string(list_filter("
    "list_concat(COALESCE(pd.kept_arr, []), [b.tail]), "
    "x -> x <> ''), ' '), '')) AS clean_md5 "
    "FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id",
    doc="Boilerplate-segment stripping (X38, the C4 cleaning move): "
    "cut every document into aligned 10-word segments, call a "
    "segment boilerplate when it appears VERBATIM in >= 2 distinct "
    "documents (navigation chrome, terms-of-service, cookie "
    "banners — the lines C4 strips by three-sentence-dedup), and "
    "emit each doc with those segments removed (graded as the "
    "cleaned text's md5 plus chunk/strip counts; the sub-segment "
    "tail is never stripped). The REMOVAL composition is what X33's "
    "dup-span COVERAGE only measures. Distributed shape: "
    "segmentation is scan-local (transform over the token array), "
    "segment document-frequency is two collapsing aggregates, the "
    "flag joins back 1:1 on the segment hash (no pair expansion — "
    "the df table carries counts, not doc lists), and reassembly is "
    "one doc_id-keyed collect of the doc's own kept segments "
    "(bounded by doc length — the same per-doc-array stance as "
    "evt_session_paths). Docs shorter than one segment pass through "
    "untouched via the left join.",
)
def q_llm_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ", -1)
    nch = (F.size(w) / _BP_W).cast("int")
    base = d.select(
        "doc_id",
        w.alias("_w"),
        nch.alias("_nch"),
    ).withColumn(
        "_tail",
        F.array_join(
            F.slice(
                F.col("_w"),
                F.col("_nch") * _BP_W + 1,
                F.size(F.col("_w")) - F.col("_nch") * _BP_W,
            ),
            " ",
        ),
    )
    seg = F.when(
        F.col("_nch") >= 1,
        F.transform(
            F.sequence(F.lit(1), F.col("_nch")),
            lambda i: F.array_join(
                F.slice(F.col("_w"), (i - 1) * _BP_W + 1, _BP_W), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ch = base.select(
        "doc_id", F.posexplode(seg).alias("i", "chunk")
    )
    df = (
        ch.select("doc_id", "chunk")
        .distinct()
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    fl = ch.join(df, "chunk").withColumn("kept", F.col("nd") < _BP_DF)
    pd_ = fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_stripped"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kept"),
                        F.struct(
                            F.col("i").alias("i"),
                            F.col("chunk").alias("c"),
                        ),
                    )
                )
            ),
            lambda s: s["c"],
        ).alias("kept_arr"),
    )
    out = base.join(pd_, "doc_id", "left")
    parts = F.filter(
        F.concat(
            F.coalesce(F.col("kept_arr"), F.array().cast("array<string>")),
            F.array(F.col("_tail")),
        ),
        lambda x: x != "",
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_chunks"), F.lit(0).cast("long")).alias(
            "n_chunks"
        ),
        F.coalesce(F.col("n_stripped"), F.lit(0).cast("long")).alias(
            "n_stripped"
        ),
        F.md5(F.array_join(parts, " ")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# X39: exact-k deterministic per-group sample
# ---------------------------------------------------------------------------

_GS_K = 20


@register(
    "llm_per_source_sample",
    oracle="WITH r AS (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) "
    f"SELECT doc_id, source FROM r WHERE rn <= {_GS_K}",
    doc="Exact-k per-group sample (X39): exactly 20 documents per "
    "source, chosen by hash rank — the fixed-quota complement of "
    "llm_sample_hash's Bernoulli rates (a rate sample's per-group "
    "size VARIES; eval sets and per-domain audits need exact "
    "quotas). md5-ranking makes the quota reproducible across runs, "
    "engines, and partitionings AND uniformly random in the hash's "
    "sense — rand() is neither; doc_id breaks (impossible) hash "
    "ties. Shape: one window partitioned by source (uniform — "
    "sources are the partition key of a curated lake) with an "
    "early rank<=k filter; at 100 TB each source's window is "
    "per-partition work after the source shuffle, and a TakeOrdered-"
    "per-group rewrite (win_topk_per_group) applies when k is small "
    "relative to group size — same contract, heap-bounded.",
)
def q_llm_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GS_K)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# X41: simhash near-dup pairs via Manku pigeonhole banding
# ---------------------------------------------------------------------------

_SH_MAX_DIST = 1     # hamming radius
_SH_BAND_BITS = 8    # 2 bands of 8 bits over the 16-bit sketch
_SH_BUCKET_CAP = 1000


@register(
    "llm_simhash_near_dup",
    oracle="WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) "
    "AS tok FROM documents), "
    "hashed AS (SELECT doc_id, md5(tok) AS h FROM toks), "
    "bits AS (SELECT doc_id, i, "
    "CASE WHEN (strpos('0123456789abcdef', substring(h, i, 1)) - 1) % 2 = 1 "
    "THEN 1 ELSE -1 END AS vote "
    "FROM hashed, UNNEST(generate_series(1, 16)) AS t(i)), "
    "votes AS (SELECT doc_id, i, sum(vote) AS v FROM bits GROUP BY 1, 2), "
    "sk AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN power(2, i - 1) "
    "ELSE 0 END) AS BIGINT) AS s FROM votes GROUP BY doc_id), "
    "bands AS (SELECT doc_id, s, b.band_id, "
    f"CASE WHEN b.band_id = 0 THEN s % {1 << _SH_BAND_BITS} "
    f"ELSE s // {1 << _SH_BAND_BITS} END AS band_val "
    "FROM sk, (SELECT unnest([0, 1]) AS band_id) b), "
    "ok AS (SELECT band_id, band_val FROM bands GROUP BY 1, 2 "
    f"HAVING count(*) <= {_SH_BUCKET_CAP}), "
    "kept AS (SELECT bands.* FROM bands JOIN ok USING (band_id, band_val)), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "a.s AS sa, b.s AS sb FROM kept a JOIN kept b "
    "ON a.band_id = b.band_id AND a.band_val = b.band_val "
    "AND a.doc_id < b.doc_id) "
    "SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS dist "
    f"FROM cand WHERE bit_count(xor(sa, sb)) <= {_SH_MAX_DIST}",
    doc="SimHash near-duplicate pairs (X41, the Manku/Jain/Sarma "
    "web-dedup scheme): document pairs whose 16-bit simhash sketches "
    "(X2, llm_simhash) differ by at most 1 bit, found WITHOUT an "
    "all-pairs scan by pigeonhole banding — split the sketch into "
    "d+1 = 2 bands; a pair within hamming distance 1 must match "
    "EXACTLY in at least one band, so candidates are band-equality "
    "join hits and the exact bit_count(xor) check runs on candidates "
    "only. This is the hamming-space sibling of minhash-LSH (set "
    "space) and SemDeDup cells (cosine space) — the dedup family's "
    "third candidate generator, each with the same "
    "generate-cheap/verify-exact composition. Buckets over "
    f"{_SH_BUCKET_CAP} members are dropped (the LSH cap stance). "
    "Scale note: 8-bit bands are sized to the graded 16-bit sketch; "
    "a production 64-bit simhash uses 16-bit bands (4 bands, d<=3) "
    "whose 65536-value space keeps buckets ~n/65536 — same plan, "
    "wider types. Pairs matching in BOTH bands dedup through the "
    "DISTINCT before verification, so each pair is scored once.",
)
def q_llm_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_advanced import q_llm_simhash

    # Pinned: the sketch frame feeds the bucket-size gate and both
    # join legs — unpinned, the corpus-heavy token-explode + 16-vote
    # sketch recomputes per consumer (4 scans observed); the frame is
    # 2 slim columns per doc.
    sk = q_llm_simhash(spark, sf_dir).localCheckpoint()
    mask = (1 << _SH_BAND_BITS) - 1
    bands = sk.select(
        "doc_id",
        F.col("simhash").alias("s"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    (F.col("simhash") % (mask + 1)).alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    (F.col("simhash") / (mask + 1))
                    .cast("long")
                    .alias("band_val"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "s", "b.band_id", "b.band_val")
    ok = (
        bands.groupBy("band_id", "band_val")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= _SH_BUCKET_CAP)
        .drop("_n")
    )
    kept = bands.join(ok, ["band_id", "band_val"])
    a = kept.alias("a")
    b = kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(dist <= _SH_MAX_DIST).select(
        "doc_a", "doc_b", dist.cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# X42: out-of-vocabulary rate against the learned top-k vocabulary
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 1000


@register(
    "llm_oov_rate",
    oracle="WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) "
    "AS tok FROM documents), "
    "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "freq AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf "
    "GROUP BY 1), "
    f"vocab AS (SELECT tok FROM freq ORDER BY cnt DESC, tok "
    f"LIMIT {_OOV_VOCAB_K}), "
    "doc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens, "
    "CAST(sum(CASE WHEN v.tok IS NULL THEN tf.tf ELSE 0 END) AS BIGINT) "
    "AS n_oov FROM tf LEFT JOIN vocab v ON tf.tok = v.tok GROUP BY 1) "
    "SELECT doc_id, n_tokens, n_oov, "
    "round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate FROM doc",
    doc="Out-of-vocabulary rate (X42): per-document share of token "
    "POSITIONS falling outside the corpus's own top-1000 vocabulary "
    "— the coverage metric that decides a tokenizer's vocab size "
    "and flags domain-mismatched documents (a doc that is mostly "
    "OOV against the corpus vocabulary is foreign to the corpus; "
    "composes with llm_vocabulary, which BUILDS the ranked vocab). "
    "Shape: (doc, token, tf) pre-collapse (zipf hardening — the "
    "'the'-row ships once per doc), corpus frequencies derive from "
    "that frame, the vocabulary is a TakeOrdered top-k (count desc, "
    "token tiebreak — deterministic at the boundary), and membership "
    "is a BROADCAST left join of the k-row vocab onto the tf frame "
    "— per-row flag, no pair expansion, one doc-keyed rollup. At "
    "100 TB: vocab stays driver-bounded (k rows), everything else "
    "is two collapsing shuffles on uniform keys.",
)
def q_llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    freq = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    vocab = (
        freq.orderBy(F.col("cnt").desc(), "tok")
        .limit(_OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("_in"))
    )
    doc = (
        tf.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in").isNull(), F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# X43: Zipf-slope fit per source (corpus health statistic)
# ---------------------------------------------------------------------------

_ZIPF_HEAD = 200  # fit the head of the rank-frequency curve

_SQL_Q6 = "floor(ln({x}) * 1000000.0 + 0.5) / 1000000.0"


@register(
    "llm_zipf_fit",
    oracle="WITH tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS f "
    "FROM (SELECT source, unnest(string_split(text, ' ')) AS tok "
    "FROM documents) GROUP BY 1, 2), "
    "rk AS (SELECT source, f, CAST(row_number() OVER "
    "(PARTITION BY source ORDER BY f DESC, tok) AS BIGINT) AS r FROM tf), "
    "head AS (SELECT source, "
    + _SQL_Q6.format(x="r") + " AS x, "
    + _SQL_Q6.format(x="f") + " AS y "
    f"FROM rk WHERE r <= {_ZIPF_HEAD}), "
    "s AS (SELECT source, CAST(count(*) AS BIGINT) AS n, "
    f"{sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy, "
    f"{sql_dsum('x * y')} AS sxy, {sql_dsum('x * x')} AS sxx "
    "FROM head GROUP BY 1) "
    "SELECT source, n, "
    "CASE WHEN sxx - sx * sx / n > 0 THEN "
    "round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) END "
    "AS zipf_slope FROM s ORDER BY source",
    doc="Zipf-slope fit per source (X43): least-squares slope of "
    "ln(frequency) against ln(rank) over each source's top-200 token "
    "types — the corpus-health statistic data teams monitor per "
    "ingest source (natural language sits near −1; a slope far from "
    "it flags machine-generated text, key-value dumps, or a broken "
    "extractor — the distributional sibling of the per-doc quality "
    "score). Closed-form regression from FIVE sums, so the whole fit "
    "is one aggregate over the 200-row-per-source head: the (source, "
    "token) counts collapse map-side, the per-source rank window "
    "partitions by source (never partition-less) with an early "
    "rank<=200 cut, each ln is quantized 1e-6 (module ln policy) and "
    "every sum rides the fixed-point policy — the slope division is "
    "then the identical tree on both engines, rounded 1e-6, and a "
    "zero rank-variance head (single-distinct-token source) yields "
    "NULL in BOTH engines (Spark NaN vs DuckDB NULL would otherwise "
    "diverge — the evt_anomaly sigma=0 class, guarded identically). "
    "At "
    "100 TB the only corpus-scale stage is the token-count collapse; "
    "everything after is 200 x #sources rows.",
)
def q_llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ", -1)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("source").orderBy(F.col("f").desc(), "tok")
    q6 = lambda c: F.floor(F.log(c) * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    head = (
        tf.withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= _ZIPF_HEAD)
        .select(
            "source",
            q6(F.col("r").cast("double")).alias("x"),
            q6(F.col("f").cast("double")).alias("y"),
        )
    )
    s = head.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / denom
    # Degenerate head (a single distinct token): zero rank-variance
    # would make Spark emit NaN where DuckDB emits NULL (the same
    # engine-divergence class as evt_anomaly's sigma=0, ADVICE r7) —
    # guard identically in both engines.
    return s.select(
        "source",
        "n",
        F.when(denom > 0, F.round(slope, 6)).alias("zipf_slope"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# X44: per-document TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_KW_TOPK = 3


@register(
    "llm_tfidf_keywords",
    oracle="WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) "
    "AS tok FROM documents), "
    "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), "
    "scored AS (SELECT tf.doc_id, tf.tok, tf.tf, "
    "tf.tf * (floor(ln((n.n_docs + 1.0) / (df.df + 1.0)) * 1000000.0 "
    "+ 0.5) / 1000000.0) AS w "
    "FROM tf JOIN df USING (tok) CROSS JOIN n), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    "ORDER BY w DESC, tok) AS rk FROM scored) "
    "SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok AS keyword, "
    f"round(w, 6) AS tfidf FROM ranked WHERE rk <= {_KW_TOPK}",
    doc="Per-document TF-IDF keyword extraction (X44): each doc's "
    "top-3 terms by tf·idf with smoothed idf = ln((N+1)/(df+1)) — "
    "the classic unsupervised keyword/tag extractor, and the per-DOC "
    "complement of BM25 (which scores docs for a QUERY; this scores "
    "terms for a DOC — together they cover both directions of the "
    "term-document matrix). Shape: (doc, token, tf) pre-collapse "
    "(zipf hardening), document frequency derives from that frame "
    "and joins back on the token hash (vocabulary-sized — NOT "
    "broadcast, zipf head + long tail, the perplexity-LM stance), "
    "idf's ln quantized 1e-6 so the ranking is engine-exact with "
    "(weight DESC, token) tiebreaks, and the per-doc top-3 is a "
    "doc-partitioned window with an early rank cut. Stopwords "
    "self-attenuate: a token in every doc gets idf ≈ ln(1) ≈ 0, so "
    "no stoplist is needed — the smoothing keeps idf finite and "
    "positive for all real df.",
)
def q_llm_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        F.floor(
            F.log(
                (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
            )
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "tok", (F.col("tf") * idf).alias("w")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _KW_TOPK)
        .select(
            "doc_id", "rk", F.col("tok").alias("keyword"),
            F.round("w", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# X46: DSIR — data selection via importance resampling (hashed n-grams)
# ---------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"
_DSIR_K = 100


@register(
    "llm_dsir_sample",
    oracle="WITH toks AS (SELECT doc_id, "
    "substring(md5(unnest(string_split(text, ' '))), 1, 2) AS b "
    "FROM documents), "
    "ct AS (SELECT substring(md5(unnest(string_split(text, ' '))), 1, 2) "
    f"AS b, 1 AS one FROM documents WHERE lang = '{_DSIR_TARGET_LANG}'), "
    "ctg AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM ct GROUP BY 1), "
    "cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM toks "
    "GROUP BY 1), "
    "tots AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ctg) AS tt, "
    "(SELECT CAST(sum(c) AS BIGINT) FROM cr) AS tr), "
    "lr AS (SELECT cr.b, "
    "floor((ln(CAST(COALESCE(ctg.c, 0) + 1 AS DOUBLE) / (t.tt + 256)) "
    "- ln(CAST(cr.c + 1 AS DOUBLE) / (t.tr + 256))) * 1000000.0 + 0.5) "
    "/ 1000000.0 AS lr FROM cr LEFT JOIN ctg ON cr.b = ctg.b, tots t), "
    "tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "w AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_toks, "
    "CAST(sum(tf.tf * CAST(floor(lr.lr * 10000.0 + 0.5) "
    "AS DECIMAL(25,0))) AS DOUBLE) / 10000.0 AS lw "
    "FROM tf JOIN lr ON tf.b = lr.b GROUP BY 1) "
    "SELECT doc_id, n_toks, round(lw, 6) AS log_weight "
    f"FROM w ORDER BY lw DESC, doc_id LIMIT {_DSIR_K}",
    doc="DSIR data selection via importance resampling (X46, Xie et "
    "al., 'Data Selection for Language Models via Importance "
    "Resampling'): score every raw document by the log importance "
    "ratio of a TARGET feature distribution over the RAW one — "
    "features are hashed unigram buckets (md5 2-hex prefix → 256 "
    "buckets, the paper's hashed n-gram reduction that makes the "
    "bag-of-words models 256 integers instead of an open "
    "vocabulary), target = the English slice standing in for the "
    "paper's Wikipedia+books target, add-1 smoothing over the fixed "
    "bucket domain — and keep the top-k by weight (deterministic "
    "rank with doc_id tiebreak; the paper's Gumbel-top-k adds noise "
    "for diversity, which a graded oracle cannot — the ranked "
    "variant is its temperature→0 limit). Distributed shape: both "
    "bucket models are 256-row frames (map-side collapsed, "
    "broadcast); the per-doc score joins the pre-collapsed (doc, "
    "bucket, tf) frame — ≤256 rows per doc REGARDLESS of length, "
    "the same zipf-head collapse as the perplexity family — against "
    "the broadcast log-ratio table, so the corpus shuffles once on "
    "the uniform (doc, bucket) key and never on raw tokens. "
    "Ln quantized 1e-6, per-doc sums fixed-point, TakeOrdered "
    "heaps: hash-exact across engines.",
)
def q_llm_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    ).select("doc_id", F.substring(F.md5("tok"), 1, 2).alias("b"))
    # Target counts from a PRE-FILTERED exploded scan (lang pushed to
    # parquet) — joining the exploded token stream against a target
    # doc-id set would shuffle every token on doc_id; this is map-only.
    ct = (
        d.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .select(F.explode(F.split("text", " ", -1)).alias("tok"))
        .select(F.substring(F.md5("tok"), 1, 2).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    cr = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tt = ct.agg(F.sum("ct").alias("tt"))
    tr = cr.agg(F.sum("cr").alias("tr"))
    lr = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "b",
            (
                F.floor(
                    (
                        F.log(
                            (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast(
                                "double"
                            )
                            / (F.col("tt") + 256)
                        )
                        - F.log(
                            (F.col("cr") + 1).cast("double")
                            / (F.col("tr") + 256)
                        )
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("lr"),
        )
    )
    tf = toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("tf"))
    lr_q = F.floor(F.col("lr") * 10000.0 + 0.5).cast("decimal(25,0)")
    w = (
        tf.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_toks"),
            (F.sum(F.col("tf") * lr_q).cast("double") / 10000.0).alias(
                "lw"
            ),
        )
    )
    return (
        w.orderBy(F.col("lw").desc(), "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "n_toks", F.round("lw", 6).alias("log_weight"))
    )


# ---------------------------------------------------------------------------
# X47: token-entropy repetition filter
# ---------------------------------------------------------------------------

_ENTROPY_BOTTOMK = 40


@register(
    "llm_token_entropy",
    oracle="WITH toks AS (SELECT doc_id, "
    "unnest(string_split(text, ' ')) AS tok FROM documents), "
    "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "n AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf "
    "GROUP BY 1), "
    "h AS (SELECT tf.doc_id, n.n, "
    "CAST(sum(tf.tf * CAST(floor(-ln(CAST(tf.tf AS DOUBLE) / n.n) "
    "* 1000000.0 + 0.5) AS DECIMAL(25,0))) AS DOUBLE) / 1000000.0 "
    "AS hsum FROM tf JOIN n ON tf.doc_id = n.doc_id GROUP BY 1, 2) "
    "SELECT doc_id, n AS n_toks, round(hsum / n, 6) AS entropy "
    "FROM h ORDER BY hsum / n, doc_id "
    f"LIMIT {_ENTROPY_BOTTOMK}",
    doc="Token-entropy repetition filter (X47): per-document Shannon "
    "entropy of the token distribution, H = −Σ (tf/n)·ln(tf/n), "
    "surfacing the 40 LOWEST-entropy documents — the "
    "keyword-stuffing / boilerplate-loop detector that complements "
    "X11's window repetition (X11 catches local loops, entropy "
    "catches global vocabulary collapse — a doc cycling 3 tokens "
    "perfectly evades a 10-gram window but scores H≈ln 3) and the "
    "perplexity family (which needs a corpus LM; entropy is "
    "corpus-free, so it works on day-0 ingest before any model "
    "exists). Distributed shape: the ONLY aggregation domain is "
    "(doc, token, tf) — the same zipf-head pre-collapse as "
    "X31/X44/X46, each doc contributing its distinct-token count of "
    "rows regardless of length — then a per-doc fold: tf·⌈−ln(tf/n)"
    "⌉_1e-6 summed in fixed point (integer tf × quantized ln is "
    "exact), divided by n once at the end. No vocabulary join at "
    "all — fully scan-local after one uniform (doc, tok) shuffle. "
    "Bottom-k is a TakeOrdered heap with doc_id tiebreak.",
)
def q_llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = tf.groupBy("doc_id").agg(F.sum("tf").alias("n"))
    nll_q = F.floor(
        -F.log(F.col("tf").cast("double") / F.col("n")) * 1000000.0 + 0.5
    ).cast("decimal(25,0)")
    h = (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            (F.sum(F.col("tf") * nll_q).cast("double") / 1000000.0).alias(
                "hsum"
            )
        )
    )
    ent = F.col("hsum") / F.col("n")
    return (
        h.orderBy(ent, "doc_id")
        .limit(_ENTROPY_BOTTOMK)
        .select(
            "doc_id",
            F.col("n").alias("n_toks"),
            F.round(ent, 6).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# X48: Naive-Bayes quality classifier (fastText-filter shape)
# ---------------------------------------------------------------------------

_NB_TARGET_LANG = "en"
_NB_K = 100


@register(
    "llm_nb_quality_filter",
    oracle="WITH toks AS (SELECT doc_id, lang, "
    "substring(md5(unnest(string_split(text, ' '))), 1, 2) AS b "
    "FROM documents), "
    "bm AS (SELECT b, "
    f"CAST(sum(CASE WHEN lang = '{_NB_TARGET_LANG}' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS ce, "
    f"CAST(sum(CASE WHEN lang = '{_NB_TARGET_LANG}' THEN 0 ELSE 1 END) "
    "AS BIGINT) AS cr FROM toks GROUP BY 1), "
    "tots AS (SELECT CAST(sum(ce) AS BIGINT) AS te, "
    "CAST(sum(cr) AS BIGINT) AS tr FROM bm), "
    "pri AS (SELECT CAST(sum(CASE WHEN lang = "
    f"'{_NB_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS ne, "
    "CAST(count(*) AS BIGINT) AS nd FROM documents), "
    "llr AS (SELECT bm.b, "
    "floor((ln(CAST(bm.ce + 1 AS DOUBLE) / (t.te + 256)) "
    "- ln(CAST(bm.cr + 1 AS DOUBLE) / (t.tr + 256))) * 1000000.0 "
    "+ 0.5) / 1000000.0 AS llr FROM bm, tots t), "
    "p AS (SELECT floor((ln(CAST(ne + 1 AS DOUBLE) / (nd + 2)) "
    "- ln(CAST(nd - ne + 1 AS DOUBLE) / (nd + 2))) * 1000000.0 + 0.5) "
    "/ 1000000.0 AS prior FROM pri), "
    "tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "w AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_toks, "
    "CAST(sum(tf.tf * CAST(floor(llr.llr * 10000.0 + 0.5) "
    "AS DECIMAL(25,0))) AS DOUBLE) / 10000.0 AS s "
    "FROM tf JOIN llr ON tf.b = llr.b GROUP BY 1) "
    "SELECT doc_id, n_toks, round(w.s + p.prior, 6) AS nb_margin "
    "FROM w, p ORDER BY w.s + p.prior DESC, doc_id "
    f"LIMIT {_NB_K}",
    doc="Naive-Bayes quality classifier (X48): the countable twin of "
    "the fastText-style quality filters the big LLM pipelines run "
    "(GPT-3 and LLaMA both score raw docs with a linear classifier "
    "over hashed n-gram features and keep high scorers) — here a "
    "multinomial NB over the same 256 hashed unigram buckets as "
    "X46, trained en-vs-rest by COUNTING (closed form, no gradient "
    "loop), scoring every doc with the log-odds margin ln P(en|d) − "
    "ln P(rest|d) = prior + Σ tf_b·llr_b, top-k kept.  X46 and X48 "
    "are deliberately different machines: DSIR reweights toward a "
    "target DISTRIBUTION (target vs raw, importance resampling); NB "
    "discriminates AGAINST the complement class with priors — the "
    "two standard selection philosophies over one feature space.  "
    "Add-1 smoothing over the fixed bucket domain; NULL-lang docs "
    "fall to the rest class on both engines (CASE else-branch ≡ "
    "when/otherwise).  Distributed shape: the class-conditional "
    "bucket models fuse into ONE conditional aggregate over the "
    "exploded scan (256-row frame, broadcast with the 1-row priors); "
    "per-doc scoring joins the zipf-collapsed (doc, bucket, tf) "
    "frame — ≤256 rows per doc at any length — so the corpus "
    "shuffles once on the uniform (doc, bucket) key.  Ln quantized "
    "1e-6, per-doc sums 1e-4 fixed-point, TakeOrdered heap.",
)
def q_llm_nb_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ", -1)).alias("tok"),
    ).select(
        "doc_id", "lang", F.substring(F.md5("tok"), 1, 2).alias("b")
    )
    is_en = F.col("lang") == _NB_TARGET_LANG
    bm = toks.groupBy("b").agg(
        F.sum(F.when(is_en, 1).otherwise(0)).cast("long").alias("ce"),
        F.sum(F.when(is_en, 0).otherwise(1)).cast("long").alias("cr"),
    )
    tots = bm.agg(
        F.sum("ce").alias("te"), F.sum("cr").alias("tr")
    )
    pri = d.agg(
        F.sum(F.when(is_en, 1).otherwise(0)).cast("long").alias("ne"),
        F.count(F.lit(1)).alias("nd"),
    )
    llr = (
        bm.crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.floor(
                    (
                        F.log(
                            (F.col("ce") + 1).cast("double")
                            / (F.col("te") + 256)
                        )
                        - F.log(
                            (F.col("cr") + 1).cast("double")
                            / (F.col("tr") + 256)
                        )
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("llr"),
        )
    )
    prior = (
        F.floor(
            (
                F.log(
                    (F.col("ne") + 1).cast("double") / (F.col("nd") + 2)
                )
                - F.log(
                    (F.col("nd") - F.col("ne") + 1).cast("double")
                    / (F.col("nd") + 2)
                )
            )
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    ).alias("prior")
    p = pri.select(prior)
    tf = toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("tf"))
    llr_q = F.floor(F.col("llr") * 10000.0 + 0.5).cast("decimal(25,0)")
    w = (
        tf.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_toks"),
            (F.sum(F.col("tf") * llr_q).cast("double") / 10000.0).alias(
                "s"
            ),
        )
    )
    scored = w.crossJoin(F.broadcast(p))
    score = F.col("s") + F.col("prior")
    return (
        scored.orderBy(score.desc(), "doc_id")
        .limit(_NB_K)
        .select(
            "doc_id", "n_toks", F.round(score, 6).alias("nb_margin")
        )
    )


# ---------------------------------------------------------------------------
# X49: cross-source duplicated-span mass matrix
# ---------------------------------------------------------------------------


def cross_source_span_store(spark: SparkSession, sf_dir: str) -> str:
    """Day-1 pay-once build of X49's folded span frame (r16, the r15
    verdict's item 4 — the A37b/X58b pay-once pattern): ONE corpus
    scan explodes the word-8-gram span fingerprints, aggregates the
    (g, source, n) occurrence frame, and folds each gram's
    source-count list into one row (bounded by #sources).  The
    verdict asked for the (gram, source, n) frame; storing the FOLDED
    per-gram form is the same information one step further along the
    same pay-once boundary, and it buys the probe freedom from the
    g-shuffle too — the fold's groupBy pays at build, so the probe is
    a stored-table scan + scan-local pair expansion + the #sources²
    final aggregate.  The corpus explode + md5 + the two span-scale
    exchanges (the 0.913 sf10→sf100 exponent term — span mass is
    data-proportional) all pay once per corpus generation.  Staleness
    rides the X12/X60/X62 source-fingerprint tag."""
    from ..scratch import scratch_dir, store_tag

    tag = store_tag(sf_dir, "documents.parquet")
    t = f"ecs_xsrc_pg_{tag}"
    if spark.catalog.tableExists(t):
        return t
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    d = d.withColumn("_w", words).filter(F.size("_w") >= _SPAN_W)
    gram = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (_SPAN_W - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.array_join(F.slice(F.col("_w"), i, _SPAN_W), " ")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    spans = d.select("source", F.explode(gram).alias("g"))
    h = spans.groupBy("g", "source").agg(F.count(F.lit(1)).alias("n"))
    # The fold runs at BUILD: each gram's source list is bounded by
    # #sources (constant), so the stored rows are slim and the probe
    # never groups by g at all.  The (g, source) partitioning already
    # clusters g, so AQE plans the fold without re-shuffling raw span
    # rows (the r15 gram-local lesson, now paid once).
    per_g = h.groupBy("g").agg(
        F.collect_list(F.struct("source", "n")).alias("ss")
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    (
        per_g.write.mode("overwrite")
        .option("path", scratch_dir("ecs_xsrc_pg", tag))
        .saveAsTable(t)
    )
    return t


@register(
    "llm_cross_source_dups",
    oracle="WITH spans AS (SELECT d.source, "
    f"unnest(list_transform(generate_series(1, "
    f"len(string_split(d.text, ' ')) - {_SPAN_W - 1}), "
    "i -> CAST(concat('0x', substring(md5(array_to_string("
    f"string_split(d.text, ' ')[i:i + {_SPAN_W - 1}], ' ')), 1, 15)) "
    "AS BIGINT))) AS g "
    f"FROM documents d WHERE len(string_split(d.text, ' ')) >= {_SPAN_W}), "
    "h AS (SELECT g, source, CAST(count(*) AS BIGINT) AS n "
    "FROM spans GROUP BY 1, 2), "
    "p AS (SELECT a.source AS source_a, b.source AS source_b, "
    "CAST(count(*) AS BIGINT) AS shared_spans, "
    "CAST(sum(a.n * b.n) AS BIGINT) AS dup_mass "
    "FROM h a JOIN h b ON a.g = b.g AND a.source < b.source "
    "GROUP BY 1, 2) "
    "SELECT source_a, source_b, shared_spans, dup_mass "
    "FROM p ORDER BY 1, 2",
    doc="Cross-source duplicated-span mass matrix (X49): for every "
    "ordered source pair, how many distinct word-8-gram spans they "
    "share and the occurrence-pair mass that implies — the "
    "provenance question behind dedup policy (which feeds copy from "
    "which; a high-mass pair means one crawl mirrors another and "
    "can be down-weighted wholesale, the move CCNet makes across "
    "dumps).  X33 answers 'how much of each DOC is reused'; X49 "
    "answers 'between which SOURCES the reuse flows'.  Same span "
    "convention as X33 (8-gram, 60-bit md5-prefix BIGINT fingerprint "
    "at construction — r15, following X33/X54's r14 third-decade "
    "fix: the span frame and the pair self-join shuffle 8-byte longs "
    "instead of 16-char hex strings; a collision merges the same "
    "spans on both engines because the oracle replays the identical "
    "fingerprint).  Scale-critical shape: pairs "
    "are NEVER doc-level — spans collapse to the (gram, source, n) "
    "frame first (one uniform shuffle, bounded by distinct grams × "
    "sources), each gram's source-count list folds into ONE row "
    "(bounded by #sources, a constant), and the ordered pairs with "
    "their n_a·n_b mass expand INSIDE that row by array transforms "
    "(r15: the earlier self-join form consumed the span frame twice "
    "and its sf100 exponent wobbled 0.93-1.08; gram-local expansion "
    "measured 0.91 with no join anywhere — plan contract "
    "test_cross_source_dups_pair_expansion_is_gram_local).  A "
    "boilerplate span in a million docs contributes ONE row per "
    "source, not 10^12 pairs, so no df cap is needed.  a.source < "
    "b.source halves the matrix deterministically; sub-8-word and "
    "NULL texts drop out of both engines identically.  Output ≤ "
    "#sources² rows.  r16 (the r15 verdict's item 4): the folded "
    "per-gram frame PERSISTS via cross_source_span_store (the "
    "A37b/X58b pay-once pattern) — the corpus explode, the span md5, "
    "and both span-scale exchanges pay once per corpus generation, "
    "and the graded probe is a stored-table scan + scan-local pair "
    "expansion + the #sources² aggregate with zero documents scans "
    "(same oracle, byte-identical output).",
    builds_store=True,
)
def q_llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Probe path (r16): the folded per-gram source-count frame comes
    # from the persisted store — zero documents scans, zero span-scale
    # shuffles in the graded plan (contract
    # test_cross_source_dups_pair_expansion_is_gram_local).  Pair
    # expansion stays GRAM-LOCAL, not a self-join (r15 third-decade:
    # the join form consumed the 250M-row span frame twice — one side
    # a ReusedExchange, but both sides still sorted/hashed — and its
    # exponent wobbled 0.93-1.08 across runs, a spill-regime smell).
    per_g = spark.table(cross_source_span_store(spark, sf_dir))
    pair_arr = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x: F.transform(
                F.filter(
                    F.col("ss"), lambda y: y["source"] > x["source"]
                ),
                lambda y: F.struct(
                    x["source"].alias("source_a"),
                    y["source"].alias("source_b"),
                    (x["n"] * y["n"]).alias("m"),
                ),
            ),
        )
    )
    pairs = per_g.select(F.explode(pair_arr).alias("p")).select("p.*")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("shared_spans"),
            F.sum("m").cast("long").alias("dup_mass"),
        )
        .select("source_a", "source_b", "shared_spans", "dup_mass")
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# X58: minhash-estimator calibration against exact Jaccard
# --------------------------------------------------------------------------

_SQL_MATCHES = " + ".join(
    f"(CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END)"
    for s in range(_N_HASHES)
)
_SQL_EST = "CAST(j.n_match AS DOUBLE) / 8.0"


def _with_words(dd: DataFrame) -> DataFrame:
    """Attach the split-words column `_w` (sub-3-word docs dropped)."""
    return dd.withColumn("_w", F.split("text", " ", -1)).filter(
        F.size("_w") >= 3
    )


def _fp_gram_expr():
    """The within-doc-DISTINCT 60-bit md5-prefix shingle fingerprint
    ARRAY over a `_w` words column, as a raw EXPRESSION (the r14
    third-decade rewrite; dedup on fps, not strings, mirrors the
    oracle's DISTINCT(doc, g) exactly even under a fingerprint
    collision).  Callers that explode it must pass THIS expression to
    explode directly, not a projected alias of it: with an alias,
    InferFiltersFromGenerate adds a cheap-looking size(col) > 0
    filter that predicate pushdown then rewrites through the
    projection into size(<whole md5 transform>) — duplicating the
    most expensive expression in the plan into a per-row filter
    (measured 2.6 s extra on X58 at sf0.1, r15; the rule skips
    expensive generator inputs, so the raw-expression form never
    grows the filter)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 2),
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("_w"), i),
                            F.element_at(F.col("_w"), i + 1),
                            F.element_at(F.col("_w"), i + 2),
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


def _fp_grams_frame(dd: DataFrame) -> DataFrame:
    """documents frame → (doc_id, fps) with the fingerprint array as a
    MATERIALIZED column — the store-build shape (the parquet write
    needs a named column; no explode happens above it, so the
    _fp_gram_expr alias hazard does not apply)."""
    return _with_words(dd).select("doc_id", _fp_gram_expr().alias("fps"))


def _sig_match_frame(cand: DataFrame, sigs: DataFrame) -> DataFrame:
    """candidate pairs ⋈ signatures (both sides) → (doc_a, doc_b,
    n_match): the 8-component signature agreement count."""
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(_N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(_N_HASHES)],
    )
    n_match = None
    for s in range(_N_HASHES):
        t = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.cast("long").alias("n_match"))
    )


def _calibration_report(
    m: DataFrame, inter: DataFrame, sizes: DataFrame
) -> DataFrame:
    """Assemble the per-agreement-level calibration report from the
    signature-agreement frame, the exact-intersection counts, and the
    per-doc distinct-gram sizes (X58's tail, shared with the
    persisted-store probe)."""
    nza = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nzb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    jac = nc.cast("double") / (F.col("n_a") + F.col("n_b") - nc)
    j = (
        m.join(inter, ["doc_a", "doc_b"], "left")
        .join(nza, "doc_a")
        .join(nzb, "doc_b")
        .select("n_match", jac.alias("jac"))
    )
    est = F.col("n_match").cast("double") / F.lit(8.0)
    return (
        j.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(quant("jac")).alias("_sj"),
            F.sum(quant(F.abs(est - F.col("jac")))).alias("_se"),
        )
        .select(
            "n_match",
            F.round(F.col("n_match").cast("double") / F.lit(8.0), 6).alias(
                "est_jaccard"
            ),
            "n_pairs",
            F.round(
                F.col("_sj").cast("double") / 10000.0 / F.col("n_pairs"), 6
            ).alias("mean_exact"),
            F.round(
                F.col("_se").cast("double") / 10000.0 / F.col("n_pairs"), 6
            ).alias("mean_abs_err"),
        )
        .orderBy("n_match")
    )


_SQL_X58_ORACLE = (
    f"WITH {SQL_GRAMS.strip()}, {_SQL_SIGS}, {_SQL_BANDS}, "
    f"{_SQL_CAPPED}, {_SQL_CAND}, "
    f"m AS (SELECT c.doc_a, c.doc_b, CAST({_SQL_MATCHES} AS BIGINT) "
    "AS n_match FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a "
    "JOIN sigs sb ON sb.doc_id = c.doc_b), "
    "dg AS (SELECT DISTINCT doc_id, "
    "CAST(concat('0x', substring(md5(gram), 1, 15)) AS BIGINT) AS g "
    "FROM grams), "
    "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dg "
    "GROUP BY 1), "
    "inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) "
    "AS n_common FROM cand c JOIN dg a ON a.doc_id = c.doc_a "
    "JOIN dg b ON b.doc_id = c.doc_b AND b.g = a.g GROUP BY 1, 2), "
    "j AS (SELECT m.n_match, "
    "CAST(coalesce(i.n_common, 0) AS DOUBLE) / "
    "(sa.n + sb.n - coalesce(i.n_common, 0)) AS jac "
    "FROM m LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b "
    "JOIN sizes sa ON m.doc_a = sa.doc_id "
    "JOIN sizes sb ON m.doc_b = sb.doc_id) "
    "SELECT j.n_match, "
    "round(CAST(j.n_match AS DOUBLE) / 8.0, 6) AS est_jaccard, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    f"round(CAST(sum({sql_quant('j.jac')}) AS DOUBLE) / 10000.0 "
    "/ count(*), 6) AS mean_exact, "
    f"round(CAST(sum({sql_quant(f'abs({_SQL_EST} - j.jac)')}) AS DOUBLE) "
    "/ 10000.0 / count(*), 6) AS mean_abs_err "
    "FROM j GROUP BY 1 ORDER BY 1"
)


@register(
    "llm_minhash_calibration",
    oracle=_SQL_X58_ORACLE,
    doc="Minhash-estimator calibration (X58): for every LSH candidate "
    "pair, the 8-component signature agreement n_match/8 IS the "
    "minwise estimate of Jaccard (Broder); this key groups candidates "
    "by n_match and puts the estimator next to the EXACT gram-set "
    "Jaccard — n_pairs, mean exact similarity, and mean absolute "
    "estimator error per agreement level.  This is the measurement "
    "that justifies every banding threshold the dedup family uses "
    "(X2/X6/X21 act on the sketch; this key reports what the sketch "
    "is worth on THIS corpus — the DataSketches practice of shipping "
    "the estimator with its measured error).  Banding false "
    "positives surface as high-n_match/low-exact rows: the exact leg "
    "is a LEFT join, so zero-overlap candidates keep jac = 0 instead "
    "of silently dropping.  Engine shape: signatures are scan-local "
    "array folds (no explode); the pair space is the banding "
    "candidates (bucket-capped, never all-pairs); the exact leg "
    "reuses X21's bounded candidate⋈gram join — on 60-bit md5-prefix "
    "gram FINGERPRINTS, not strings (r14: the third-decade bench "
    "measured the string leg at 0.834 sf10→sf100; the oracle replays "
    "the identical fingerprint, collisions merge the same grams on "
    "both engines); means ride the fixed-point quantize policy; "
    "output is ≤9 rows.",
)
def q_llm_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _minhash_sigs(spark, sf_dir)
    # Pin the candidate frame (bucket-capped, ~725k rows at sf100 —
    # bounded by the banding caps, the r13 pin policy): it feeds the
    # signature-agreement leg AND the exact leg, and Catalyst does not
    # dedupe logical subtrees — unpinned, the 73 s banding pipeline
    # ran once per consumer (r14 third-decade profiling).
    cand = _pairs_from_sigs(sigs).localCheckpoint()
    m = _sig_match_frame(cand, sigs)
    # (doc_id, g) distinct BY CONSTRUCTION: within-doc dedup runs
    # scan-locally on the fingerprint array (array_distinct before
    # the explode, _fp_grams_frame) — no shuffle spent on a
    # corpus-wide DISTINCT.  The exact leg only ever consumes grams
    # of docs that appear in a candidate pair, so the corpus is gated
    # BEFORE the explode by a broadcast semi-join on the candidate
    # doc set (bounded by 2·|cand|, the same banding-cap bound the
    # cand pin rests on) — at sf100 that cut the 260M-md5 fps
    # computation to the candidate 29% and shrank every downstream
    # join with it.
    dd = _with_words(
        with_min_scan_parallelism(
            spark, load_table(spark, sf_dir, "documents")
        ).join(F.broadcast(_cand_doc_ids(cand)), "doc_id", "semi")
    )
    # Raw EXPRESSION into explode, not a projected alias — see
    # _fp_gram_expr for the InferFiltersFromGenerate duplication this
    # avoids (r15: the aliased form cost 2.6 s extra at sf0.1).
    fps = _fp_gram_expr()
    dg = dd.select("doc_id", F.explode(fps).alias("g"))
    # Per-doc distinct-gram count is the fp array's own length — a
    # scan-local projection, not a corpus-wide doc_id shuffle (r14:
    # that shuffle was most of the exact leg's sf100 cost).  Pinned
    # (doc-dimension rows) so the nza/nzb consumers don't each rerun
    # the 260M-md5 fps computation.
    sizes = dd.select(
        "doc_id", F.size(fps).cast("long").alias("n")
    ).localCheckpoint()
    ga = dg.select(F.col("doc_id").alias("doc_a"), "g")
    gb = dg.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _calibration_report(m, inter, sizes)


def _cand_doc_ids(cand: DataFrame) -> DataFrame:
    """Candidate pairs → the DISTINCT doc ids appearing in any pair
    (the exact leg's gating set, bounded by 2·|cand|)."""
    return (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def minhash_calib_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Extend the persisted minhash store with the calibration's
    exact-Jaccard leg: ONE candidate-gated corpus scan materializes
    the per-doc 60-bit shingle-fingerprint ARRAYS (within-doc
    distinct, scan-local) for exactly the docs the banding put in a
    candidate pair — bounded by 2·|cand|, the banding-cap bound.  The
    stored array table serves BOTH probe legs scan-locally (explode →
    (doc_id, g) rows; size → per-doc counts), so the probe never
    scans the corpus and never shuffles to build either frame.
    Returns (sigs_table, buckets_table, fps_table).

    The tag is computed ONCE and pinned across the whole build (r15
    review finding): stat()ing the corpus again after
    minhash_sig_tables could name the fps table for a corpus the
    sig/bucket tables were not built from — a mixed-generation store
    the staleness discipline exists to prevent."""
    from ..scratch import scratch_dir
    from .llm_advanced import _minhash_store_tag, minhash_sig_tables

    tag = _minhash_store_tag(sf_dir)
    sig_t, bkt_t = minhash_sig_tables(spark, sf_dir, tag=tag)
    fps_t = f"ecs_mh_fps_{tag}"
    if spark.catalog.tableExists(fps_t):
        return sig_t, bkt_t, fps_t
    # Pinned: both union branches of the gating set consume the
    # bucket-expand + distinct, and Catalyst does not dedupe logical
    # subtrees (the r13 pin policy).
    cand = _expand_pairs(spark.table(bkt_t)).distinct().localCheckpoint()
    dd = with_min_scan_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    st = _fp_grams_frame(
        dd.join(F.broadcast(_cand_doc_ids(cand)), "doc_id", "semi")
    )
    spark.sql(f"DROP TABLE IF EXISTS {fps_t}")
    (
        st.write.mode("overwrite")
        .option("path", scratch_dir("ecs_mh_fps", tag))
        .saveAsTable(fps_t)
    )
    return sig_t, bkt_t, fps_t


@register(
    "llm_minhash_calibration_persisted",
    oracle=_SQL_X58_ORACLE,
    doc="Persisted minhash store + zero-corpus-scan calibration probe "
    "(X58b, r15 — the r14 verdict's item 3, the A37b theta pattern "
    "applied to the banding family): X58 proved the estimator "
    "calibration but rebuilt the signature scan + banding shuffle + "
    "gated gram fingerprints from the corpus on every query — the "
    "family's highest third-decade exponent (0.853).  This key "
    "answers the SAME question (same oracle, byte-identical output) "
    "from the pay-once store: signatures and band buckets persist "
    "via minhash_sig_tables (one corpus scan), the candidate-gated "
    "fingerprint arrays via minhash_calib_tables (one gated scan), "
    "and the graded probe's plan contains ZERO documents scans (plan "
    "contract test_minhash_persisted_probe_reads_store_only) — "
    "candidate pairs re-derive from the stored bucket member lists "
    "(an explode over collision-sized rows), both exact-leg frames "
    "are scan-local projections of the stored arrays, and only the "
    "candidate⋈gram join shuffles.  At 100 TB this is the difference "
    "between every calibration/tuning dashboard paying the full "
    "corpus pipeline and paying it once a day: the store is "
    "#docs × 8 md5s + collision-sized buckets + candidate-gated "
    "arrays, all orders of magnitude under the corpus.  Staleness "
    "rides the X12/X60/X62 source-fingerprint tag.",
    builds_store=True,
)
def q_llm_minhash_calibration_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sig_t, bkt_t, fps_t = minhash_calib_tables(spark, sf_dir)
    sigs = spark.table(sig_t)
    # Candidate pairs re-derive from the STORED bucket member lists —
    # a scan-local explode over collision-sized rows + one distinct;
    # pinned because both the agreement leg and the exact leg consume
    # it (the r13 pin policy, minus the banding pipeline it used to
    # shield).
    cand = _expand_pairs(spark.table(bkt_t)).distinct().localCheckpoint()
    m = _sig_match_frame(cand, sigs)
    st = spark.table(fps_t)
    dg = st.select("doc_id", F.explode("fps").alias("g"))
    sizes = st.select("doc_id", F.size("fps").cast("long").alias("n"))
    ga = dg.select(F.col("doc_id").alias("doc_a"), "g")
    gb = dg.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _calibration_report(m, inter, sizes)


# ---------------------------------------------------------------------------
# X66: train/val split-leakage audit (r12)
# ---------------------------------------------------------------------------

_LEAK_DF_CAP = 10   # same per-(gram, lang) df cap as the X2/X54 family
_LEAK_MIN = 0.5     # val doc counts as leaked if >= half its rare grams
                    # appear verbatim in ONE train doc


def _leak_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66's deduped gram frame, built SCAN-LOCALLY: array_distinct on
    the in-row shingle array (still strings — no hash protocol change,
    so the oracle's DISTINCT(doc_id, lang, gram) is matched by
    construction).  The r15 third-decade bench measured the key at a
    1.05 exponent, and the corpus-wide shuffling .distinct() on
    gram-string rows was the same ~linear-in-corpus term the r14
    containment fix removed; (doc_id, lang) is unique per doc, so
    per-doc array dedup IS the triple distinct.  Factored out so the
    plan contract can assert the scan-local shape (the operator's own
    checkpoint pin hides it behind an ExistingRDD scan)."""
    from .llm_advanced import _with_grams_array

    d = _with_grams_array(
        with_min_scan_parallelism(spark, load_table(spark, sf_dir, "documents"))
    )
    return d.select(
        "doc_id", "lang", F.explode(F.array_distinct("_grams")).alias("gram")
    )



@register(
    "llm_split_leakage",
    oracle=f"WITH {SQL_GRAMS.strip()}, "
    "dg AS (SELECT DISTINCT doc_id, lang, gram FROM grams), "
    "rare AS (SELECT gram, lang FROM dg GROUP BY 1, 2 "
    f"HAVING count(*) <= {_LEAK_DF_CAP}), "
    "dgc AS (SELECT dg.*, CASE WHEN "
    "substring(md5(CAST(dg.doc_id AS VARCHAR)), 1, 4) < 'cccc' "
    "THEN 'train' WHEN "
    "substring(md5(CAST(dg.doc_id AS VARCHAR)), 1, 4) < 'e666' "
    "THEN 'val' ELSE 'test' END AS split "
    "FROM dg JOIN rare USING (gram, lang)), "
    "v AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n "
    "FROM dgc WHERE split = 'val' GROUP BY 1, 2), "
    "inter AS (SELECT a.doc_id AS vd, b.doc_id AS td, "
    "CAST(count(*) AS BIGINT) AS c "
    "FROM dgc a JOIN dgc b ON a.gram = b.gram AND a.lang = b.lang "
    "WHERE a.split = 'val' AND b.split = 'train' GROUP BY 1, 2), "
    "best AS (SELECT vd, CAST(max(c) AS BIGINT) AS mc FROM inter "
    "GROUP BY 1), "
    "scored AS (SELECT v.lang, "
    "CAST(coalesce(best.mc, 0) AS DOUBLE) / v.n AS contain "
    "FROM v LEFT JOIN best ON v.doc_id = best.vd) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_val_docs, "
    f"CAST(sum(CASE WHEN contain >= {_LEAK_MIN} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_leaked, "
    "round(max(contain), 6) AS max_containment "
    "FROM scored GROUP BY 1 ORDER BY 1",
    doc="Train/val split-leakage audit (X66, r12): after the X30 "
    "hash split, how many VAL documents have ≥ half of their rare "
    "3-gram shingles contained verbatim in a single TRAIN document — "
    "the held-out-set contamination check every eval pipeline must "
    "run BEFORE trusting a validation loss (X8 decontaminates train "
    "against an external benchmark; this audits the split against "
    "ITSELF, catching the near-duplicate pairs that hash-splitting "
    "by doc_id deliberately does not see).  Directional containment "
    "|g(v) ∩ g(t)| / |g(v)| (the X54 asymmetric coefficient, "
    "denominator fixed to the val doc) so a short val doc pasted "
    "inside a long train doc still scores ~1.0.  Engine-exact: "
    "max-of-integer-ratio per val doc (the max over train docs is "
    "max(c)/n since n is fixed per val doc), rounded 1e-6 only in "
    "the report.  Scale: the pair space is the lang-blocked, "
    "df-capped gram space (O(|grams|·cap) join output, the measured "
    "X2/X54 skew bound) FURTHER shrunk by the val×train split "
    "restriction (~8% of pairs at the 80/10 split); val docs with "
    "zero surviving pairs cost a left-join null, not a scan.",
)
def q_llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from .llm_retrieval import _SPLIT_TRAIN_HI, _SPLIT_VAL_HI

    dg = _leak_gram_frame(spark, sf_dir)
    rare = (
        dg.groupBy("gram", "lang")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _LEAK_DF_CAP)
        .select("gram", "lang")
    )
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(prefix < _SPLIT_TRAIN_HI, "train")
        .when(prefix < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    # Pin the capped+tagged gram frame once: it feeds the val sizes,
    # the val join leg, and the train join leg (three consumers of one
    # corpus explode — the X64 stance).  DISK_ONLY: fact-scale pins
    # ride disk (the llm_item_cf_topk sf100 heap lesson, r15).
    dgc = (
        dg.join(rare, ["gram", "lang"])
        .withColumn("split", split)
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    v = (
        dgc.filter(F.col("split") == "val")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = dgc.filter(F.col("split") == "val").select(
        F.col("doc_id").alias("vd"), "lang", "gram"
    )
    b = dgc.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("td"), "lang", "gram"
    )
    best = (
        a.join(b, ["gram", "lang"])
        .groupBy("vd", "td")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("vd")
        .agg(F.max("c").cast("long").alias("mc"))
    )
    scored = v.join(best, v.doc_id == best.vd, "left").select(
        "lang",
        (
            F.coalesce(F.col("mc"), F.lit(0)).cast("double") / F.col("n")
        ).alias("contain"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_val_docs"),
            F.sum(
                F.when(F.col("contain") >= _LEAK_MIN, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_leaked"),
            F.round(F.max("contain"), 6).alias("max_containment"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X70: corpus novelty curve (Heaps-law vocabulary growth) (r12)
# ---------------------------------------------------------------------------

_NOVELTY_BUCKET = 100  # docs per ingest slice


@register(
    "llm_gram_novelty",
    oracle=f"WITH {SQL_GRAMS.strip()}, "
    "fg AS (SELECT source, gram, CAST(min(doc_id) AS BIGINT) AS fd "
    "FROM grams GROUP BY 1, 2), "
    f"nb AS (SELECT source, CAST(fd // {_NOVELTY_BUCKET} AS BIGINT) "
    "AS bucket, CAST(count(*) AS BIGINT) AS new_grams FROM fg "
    "GROUP BY 1, 2) "
    "SELECT source, bucket, new_grams, "
    "CAST(sum(new_grams) OVER (PARTITION BY source ORDER BY bucket "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_grams "
    "FROM nb ORDER BY source, bucket",
    doc="Corpus novelty curve (X70, r12): per source, how many NEVER-"
    "SEEN-BEFORE 3-gram shingles each ingest slice of "
    f"{_NOVELTY_BUCKET} docs contributes (first occurrence = minimum "
    "doc_id, the deterministic stand-in for ingest order), plus the "
    "cumulative vocabulary — the empirical Heaps-law curve "
    "(V(n) ≈ K·n^β) that tells a data-acquisition pipeline when a "
    "source is EXHAUSTED (new-gram rate collapsing ⇒ more crawling "
    "buys duplicates, the X12 incremental-dedup regime) versus "
    "still-novel (sustained rate ⇒ keep ingesting); X15 counts the "
    "standing vocabulary, X47/X43 score its per-doc shape — this is "
    "its GROWTH derivative, the number the mix designer (X13) "
    "actually budgets against.  Engine: one distinct-collapse to "
    "(source, gram, first_doc) — min() is a map-side-combined "
    "aggregate, never a window over gram occurrences — then a "
    "slice-level rollup; the cumulative sum runs on the two-pass "
    "bucketed prefix machinery (literal sampled boundaries, "
    "per-bucket windows, broadcast offsets), so the slice axis may "
    "grow without bound (100 TB = millions of slices) and still no "
    "single-partition window ever sees it.",
)
def q_llm_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import quantile_bucketed

    fg = (
        grams_df(spark, sf_dir)
        .groupBy("source", "gram")
        .agg(F.min("doc_id").cast("long").alias("fd"))
    )
    nb = (
        fg.select(
            "source",
            F.expr(f"fd div {_NOVELTY_BUCKET}").cast("long").alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("new_grams"))
    )
    bucketed = quantile_bucketed(nb, "bucket", nb=32).withColumn(
        "_pid", F.lit(31) - F.col("_pid")
    )
    ranked = _cumsum_from_buckets(
        bucketed,
        ["source"],
        [F.col("bucket").asc()],
        F.col("new_grams"),
        "cum_grams",
    )
    return ranked.select(
        "source",
        "bucket",
        F.col("new_grams").cast("long").alias("new_grams"),
        F.col("cum_grams").cast("long").alias("cum_grams"),
    ).orderBy("source", "bucket")


# ---------------------------------------------------------------------------
# X75: pairwise source vocabulary overlap (r13)
# ---------------------------------------------------------------------------


@register(
    "llm_source_vocab_overlap",
    oracle="WITH t AS (SELECT source, unnest(string_split(text, ' ')) "
    "AS token FROM documents), "
    "st AS (SELECT DISTINCT source, token FROM t WHERE token <> ''), "
    "v AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM st "
    "GROUP BY 1), "
    "x AS (SELECT a.source AS sa, b.source AS sb, "
    "CAST(count(*) AS BIGINT) AS n_shared "
    "FROM st a JOIN st b ON a.token = b.token AND a.source < b.source "
    "GROUP BY 1, 2) "
    "SELECT x.sa AS source_a, x.sb AS source_b, va.vocab AS vocab_a, "
    "vb.vocab AS vocab_b, x.n_shared, "
    "round(CAST(x.n_shared AS DOUBLE) / "
    "(va.vocab + vb.vocab - x.n_shared), 6) AS jaccard "
    "FROM x JOIN v va ON x.sa = va.source JOIN v vb ON x.sb = vb.source "
    "ORDER BY source_a, source_b",
    doc="Pairwise source vocabulary overlap (X75, r13): for every "
    "source pair, the exact Jaccard similarity of their token "
    "VOCABULARIES (X15's whitespace tokens) — the corpus-composition "
    "diagnostic that X57's KL divergence (distribution shape) and "
    "X49's duplicated-span mass (verbatim copying) don't answer: do "
    "two feeds even speak the same words?  Near-1 pairs are "
    "redundant acquisitions; near-0 pairs are the diversity a "
    "mixture (X13) should weight up.  Engine: explode → DISTINCT "
    "(source, token) — the Zipf pre-collapse, a hot token lands "
    "once per source, never once per occurrence — then a token-keyed "
    "self-join ROLLED UP per source pair, with per-source vocabulary "
    "sizes joined back for |A∪B| = |A|+|B|−|A∩B| (the union is "
    "NEVER materialized).  Pairs with zero shared tokens don't "
    "appear (declared on both engines: the inner join IS the "
    "semantic).  Scale: a token shared by S sources fans to C(S,2) "
    "pairs — bounded by the CATALOG of feeds, not the corpus (the "
    "source dimension is human-curated, like nations); everything "
    "corpus-scale is the one distinct aggregate.",
)
def q_llm_source_vocab_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    return source_vocab_overlap(d)


def source_vocab_overlap(d: DataFrame) -> DataFrame:
    """X75 body over any (source, text) frame — factored out so the
    semantics test can drive it with hand-built corpora of known
    overlap."""
    st = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
        .localCheckpoint()  # feeds vocab sizes AND the pair join
    )
    v = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = st.select(F.col("source").alias("sa"), "token")
    b = st.select(F.col("source").alias("sb"), "token")
    x = (
        a.join(b, "token")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    va = v.select(F.col("source").alias("sa"), F.col("vocab").alias("vocab_a"))
    vb = v.select(F.col("source").alias("sb"), F.col("vocab").alias("vocab_b"))
    return (
        x.join(va, "sa")
        .join(vb, "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# X77: shared-prefix template detection (r13)
# ---------------------------------------------------------------------------

_TPL_PREFIX_WORDS = 3
_TPL_TOPK = 25


@register(
    "llm_template_prefix_groups",
    oracle="WITH p AS (SELECT doc_id, source, "
    "array_to_string(list_slice(string_split(text, ' '), 1, "
    f"{_TPL_PREFIX_WORDS}), ' ') AS prefix FROM documents), "
    "g AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, "
    "CAST(min(doc_id) AS BIGINT) AS first_doc "
    "FROM p GROUP BY 1 HAVING count(*) >= 2) "
    "SELECT prefix, n_docs, n_sources, first_doc FROM g "
    f"ORDER BY n_docs DESC, prefix LIMIT {_TPL_TOPK}",
    doc="Shared-prefix template detection (X77, r13): document groups "
    f"opening with the same first {_TPL_PREFIX_WORDS} words — the "
    "boilerplate-template fingerprint (scraped pages sharing a "
    "banner, licence headers, form letters) that near-dup sketches "
    "MISS when the bodies diverge past the Jaccard threshold and "
    "X38's line-frequency pass misses when the template is the "
    "OPENING only; the standard cheap screen C4/RefinedWeb-class "
    "pipelines run before the expensive sketch passes.  Cross-source "
    "count included: a prefix shared ACROSS feeds marks syndicated "
    "boilerplate, within one feed a site template.  Engine: pure "
    "scan-local prefix slice (split → slice → join inside one "
    "codegen span, no explode — only the first "
    f"{_TPL_PREFIX_WORDS} words materialize per doc) into one "
    "prefix-keyed aggregate; top-k is a TakeOrdered with the prefix "
    "string as total tiebreak.  Scale: one shuffle keyed by prefix; "
    "group count bounded by the template population, not the "
    "corpus.",
)
def q_llm_template_prefix_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return template_prefix_groups(d)


def template_prefix_groups(d: DataFrame) -> DataFrame:
    """X77 body over any (doc_id, source, text) frame — factored out
    so the semantics test can drive it with hand-built templates."""
    p = d.select(
        "doc_id",
        "source",
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, _TPL_PREFIX_WORDS), " "
        ).alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(_TPL_TOPK)
    )
