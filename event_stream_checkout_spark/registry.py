"""Query registry: the single source of truth for the engine's surface.

Each operator from SURVEY.md §2 registers here as a named query — a
callable ``(spark, sf_dir) -> DataFrame`` — optionally paired with the
equivalent ANSI SQL that DuckDB can run on the same parquet tables (the
driver's correctness oracle).  ``__spark_entry__.py`` is a thin adapter
over this registry.

Oracle-parity rules (learned the hard way, enforced by tests):
- Alias every computed column identically on both sides.
- Cast DuckDB integer aggregates to BIGINT (DuckDB sums to HUGEINT).
- Round floating aggregates on BOTH sides (summation order differs
  between engines; raw double reductions are not bit-stable).
- Give every LIMIT/top-k query a total deterministic ORDER BY
  (unique-key tiebreaker), or ties make the result set ambiguous.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    key: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""
    # Writes or rewrites a shared on-disk store (a sink directory, a
    # persisted index or sketch, a catalog table) while it runs, so two
    # concurrent runs of it can read each other's half-written state.
    builds_store: bool = False


QUERIES: dict[str, Query] = {}


def register(
    key: str, oracle: str | None = None, doc: str = "", builds_store: bool = False
):
    """Decorator: add a query to the registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = Query(
            key=key,
            fn=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            builds_store=builds_store,
        )
        return fn

    return wrap


# Driver-grade evidence, derived from the CORRECTNESS_r*.json files the
# driver writes at the repo root (r8 verdict item 9: the hand-maintained
# 150+-key DRIVER_VERIFIED literal could drift from the evidence; this
# reads the evidence itself, so it cannot).  A key is "verified" when
# some round graded it green: hash-green (rows+schema+hash all true,
# no err) or the weaker rows-only pass the driver records for keys
# registered without an oracle (err == "no_oracle").  LATEST_GREEN
# additionally records the most recent green round per key, which
# ``load_all`` uses to rotate the STALEST greens into the driver's
# 50-key window first (r8 verdict item 2) — each round the oldest
# evidence refreshes automatically, no hand-edits.
#
# The files are absent in some harness contexts (e.g. a bare checkout
# before round 1); then every key counts as never-graded and ordering
# degrades to plain registration order, which is the correct cold-start
# behavior.

def _load_driver_evidence() -> dict[str, int]:
    """Map key -> latest round with a green driver CORRECTNESS row."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            hash_green = row.get("err") is None and row.get("hash_match") is True
            # Rows-only pass must see an ACTUAL row count (ADVICE r9:
            # `(x or 0) >= 0` was vacuously true, reducing the check to
            # err == "no_oracle" even when the run produced nothing).
            n = row.get("spark_rows")
            rows_only = (
                row.get("err") == "no_oracle"
                and isinstance(n, int)
                and not isinstance(n, bool)
                and n >= 0
            )
            if hash_green or rows_only:
                latest[key] = max(latest.get(key, 0), rnd)
    return latest


LATEST_GREEN: dict[str, int] = _load_driver_evidence()
DRIVER_VERIFIED: frozenset[str] = frozenset(LATEST_GREEN)


# Keys graded in a prior round whose ENGINE or ORACLE implementation
# changed THIS round: a stale green row must not shield a rewrite from
# re-grading (advisor finding, ADVICE.md r2), so these re-enter the
# driver window right after the never-graded keys.  Reset each round.
# ORDERED (tuple, not set): the 50-key window may not fit every
# candidate, so BEHAVIORAL rewrites lead and provably-pristine-no-op
# hardening (the r8 NULL-injection fixes, identical output on any
# NULL-free corpus — pinned by tests/test_null_parity.py) trails; a
# trailing key missing the window is covered by the local null-sweep
# parity plus the unchanged pristine contract.
ROUND_MODIFIED: tuple[str, ...] = (
    # - per-product stock take: the chunked rank-window replay (chunk
    #   probe, chunk loop, carry joins) became one sorted mapInPandas
    #   fold (pipeline.take_stock_in_order); oracle untouched.
    "state_inventory_replay",
    # r17 OPTIMIZATION-round rewrites (OPTIMIZATION_r17.md), all
    # output-identical with oracles untouched, behavioral-risk order.
    # (Every r16 entry graded green in CORRECTNESS_r16 and rotated
    # out; LATEST_GREEN carries their evidence.)
    #
    # - BPE pair build: the transform-over-sequence closure re-
    #   evaluated split(text) per element; now zip_with over two
    #   slices of a materialized token column (new expression shape —
    #   identical pair list, winners verified against the oracle).
    "llm_phrase_merges",
    "llm_bpe_encode",
    "llm_phrase_merges_sampled",
    # - k-means training: the Lloyd centroid update fused into the
    #   assignment scan (_lloyd_centroids — quantized per-task
    #   partials replace the posexplode+join+davg pipeline,
    #   bit-identical by the exact-integer argument pinned in
    #   tests/test_r17_optimizations.py), and the learned centroids
    #   now ride a driver-local frame instead of a localCheckpoint
    #   (collect→createDataFrame round-trips binary64 exactly).
    "llm_kmeans_refine",
    "llm_semantic_dedup",
    "llm_similarity_ivf_kmeans",
    "llm_pq_code",
    "llm_pq_adc_topk",
    "llm_pq_rerank_topk",
    "llm_ivfpq_topk",
    "llm_ivfpq_indexed",
    "llm_ivfpq_index_append",
    "llm_ann_recall",
    "llm_ann_retrain_decision",
    # - connected-components fixpoint: per-round eager checkpoint +
    #   probe fused into one action (lazy checkpoint materialized by
    #   a full-aggregate probe; same labels, same convergence rule).
    "graph_copurchase_components",
    "llm_near_dedup_groups",
    "llm_curation_pipeline",
    # - r16 deferrals promoted on schedule (ROUND_MODIFIED_DEFERRED
    #   contract): pristine no-op factorings whose driver re-grade
    #   was deferred to this round's window.
    "llm_lsh_tuning",
    "llm_containment_pairs",
)


# Pristine no-op rewrites DEFERRED to a LATER round's window: entries
# here were changed in round ``deferred_in`` but verified
# output-identical (local parity + NULL sweep + full test suite), and
# that round's 50-key window had no room.  Each entry carries the
# round it was deferred in; tests/test_registry_contracts.py fails
# the suite once driver evidence for ``deferred_in`` exists on disk
# and the key has not been promoted into ROUND_MODIFIED — so the
# promotion cannot be silently skipped (ADVICE r15 item 3: the old
# bare-tuple + comment contract had no mechanical teeth).
#
# r17: the two r16 deferrals (llm_lsh_tuning, llm_containment_pairs)
# were promoted into ROUND_MODIFIED above on schedule; nothing is
# deferred from this round (the r17 window has room: 19 modified
# re-grades + 31 stale-rotation slots).
ROUND_MODIFIED_DEFERRED: tuple[tuple[str, int], ...] = ()


# Keys that must take the FIRST slots of this round's window.
# r10: nothing pending from r9's trailing set (the r9 window graded
# all 24 new keys plus the modified carry-overs); new never-graded
# keys (evt_ewma_long, the PCA deflation family) enter via rule 2.
DRIVER_PRIORITY: tuple[str, ...] = ()


def load_all() -> dict[str, Query]:
    """Import every operator module so registrations run, then return.

    The returned dict is ordered driver-window-first:
    1. ``DRIVER_PRIORITY`` — must-grade-this-round keys, absolutely
       first (never-graded flagships or stale-modified carry-overs);
    2. other keys with no driver CORRECTNESS row yet (new this round);
    3. ``ROUND_MODIFIED`` — previously green keys rewritten this round,
       queued for re-grade;
    4. everything else (stable green; local parity still covers them),
       STALEST driver grade first (``LATEST_GREEN`` ascending, then
       registration order) so spare window slots always refresh the
       oldest evidence (r8 verdict item 2).
    """
    from .operators import (  # noqa: F401
        checkout,
        clustering,
        events_analytics,
        lakehouse,
        llm,
        llm_advanced,
        llm_curate,
        llm_ingest,
        llm_prep,
        llm_retrieval,
        llm_sketch,
        multimodal,
        quality,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        relational7,
        relational8,
        relational9,
        relational10,
        scalar_fns,
        streaming_analogues,
        windows,
    )

    ordered: dict[str, Query] = {}
    for key in DRIVER_PRIORITY:
        if key in QUERIES:
            ordered[key] = QUERIES[key]
    for key, q in QUERIES.items():
        if key not in DRIVER_VERIFIED:
            ordered.setdefault(key, q)
    # ROUND_MODIFIED's own order (behavioral rewrites before
    # pristine-no-op hardening) decides which re-grades make the
    # window when candidates exceed the remaining slots.
    for key in ROUND_MODIFIED:
        if key in QUERIES:
            ordered.setdefault(key, QUERIES[key])
    reg_pos = {key: i for i, key in enumerate(QUERIES)}
    for key in sorted(QUERIES, key=lambda k: (LATEST_GREEN.get(k, 0), reg_pos[k])):
        ordered.setdefault(key, QUERIES[key])
    return ordered
