#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query materializes through the noop sink (full execution, no
driver-side row transfer), timed individually after a session warmup
so JVM startup doesn't pollute per-query numbers.  ``warm``,
``calibrate`` and ``run_key`` are the one copy of that method: the
timing tools (tools/profile_keys.py, tools/bench_scaling.py) call them
too, and ``run_key`` also splits each key run into build and exec jobs
(counted by ``perfbench.measure.job_counters``), which BENCH_DETAIL.json
records per key under ``counters``.

Noise discipline (SCALE.md "Bench noise analysis"; adopted round 6 per
the r5 verdict): the suite runs as INTERLEAVED cycles — every query
once, then the whole list again — and each query reports its minimum
across cycles.  Back-to-back repeats of one query share any transient
host-load window, so their min still carries the noise; interleaving
puts ~a full suite length between a query's samples, which is exactly
the decorrelation the repo's own noise study prescribed.  r5's +44%
whipsaw on unchanged code is the failure mode this kills.

If BENCH_SF1.json exists at the repo root (produced by running this
script with SPARK_GRAFT_SF_DIR=/tmp/ecs_sf1 after
scripts/make_scaled_sf.py), its timings are embedded under ``sf1``
with per-query scaling exponents log10(t_sf1/t_sf0.1) — 1.0 = perfectly
linear in data size, <1 = sub-linear (fixed overheads amortizing),
>1 = super-linear (a plan that would NOT survive 100 TB).
"""

from __future__ import annotations

import gc
import itertools
import json
import math
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "agg_pricing_summary",   # TPC-H Q1 shape: wide hash aggregate
    "agg_filtered_sum",      # Q6 shape: pushdown + global agg
    "topk_revenue_orders",   # Q3 shape: join + agg + top-k
    "join_multiway",         # Q5 shape: 5-way star join
    "txn_settlement",        # flagship checkout settlement
    "win_topk_per_group",    # window family
    "stream_session",        # sessionization.  The one key above its
                             # r01 time (0.52 -> ~0.62 s, ~1.18x, flat
                             # since r2).  Measured r16 (min over 5,
                             # quiet host): 0.43 / 0.40 / 0.54 s at
                             # sf0.001 / 0.01 / 0.1 — ~0.4 s of the
                             # sf0.1 time is FIXED plan+launch
                             # overhead (identical across 100x less
                             # data; session_window plans a sort-agg
                             # cascade), so the +0.1 s vs r01 sits
                             # inside that fixed band — launch noise,
                             # not a data-path regression, and it
                             # vanishes at scale where the data term
                             # dominates.
    "join_asof",             # as-of enrichment
    "llm_exact_dedup",       # content-hash dedup
    "llm_similarity_topk",   # brute-force cosine top-k
    "llm_near_dedup",        # minhash LSH banding
    "state_inventory_replay",# mapInPandas per-product stock-take fold
    "llm_curation_pipeline", # end-to-end curation: quality→dedup→sample
]

# r4 additions (verdict ask): heavy non-headline keys, benched so
# regressions are visible round-over-round — but kept OUT of the
# headline ``value`` so that number stays an apples-to-apples series
# against BENCH_r02/r03 (same 13 keys).  Their timings appear in
# ``queries`` and their subtotal in ``extended_sec``.
# ``snk_bucketed`` is benched as its two legs (write = pay-once
# bucketBy shuffle, read = recurring zero-exchange join); the blended
# key remains their sum for series continuity.
EXTENDED = [
    "llm_contamination",     # df-capped gram join
    "snk_bucketed",          # bucketed write ×2 + zero-exchange join
    "state_ledger_stream",   # applyInPandasWithState ledger (warm: two
                             # runs, min — first run absorbs sink setup)
]

# r7: timed and reported in ``queries`` but in NEITHER subtotal, so
# both the 13-key headline series and the r4+ extended series stay
# apples-to-apples while heavy new ops remain regression-visible.
EXTRA = [
    # Cycle 1 pays the day-1 index build + day-2 append; later cycles
    # find the PID-scoped tables and run only the day-3 probe, so the
    # reported min is the RECURRING per-ingest probe cost.
    "llm_incremental_index_refresh",
    # wave 5/6 heavies: learned-centroid IVF (exploded-vector kmeans
    # round + rerank), the stream-stream interval join, and BM25's
    # double token explode.
    "llm_similarity_ivf_kmeans",
    "stream_interval_join",
    "llm_bm25_topk",
    # later r7 waves: iterative merge rounds, joined unigram LM,
    # cell-local pair join, sketch rollup.
    "llm_phrase_merges",
    "llm_perplexity_proxy",
    "llm_semantic_dedup",
    "agg_hll_union",
    # r8 heavies: the bigram LM (one n-gram level up from the unigram),
    # the encode pass (3 staged rewrites), span-dedup + boilerplate
    # removal (two corpus gram shuffles each), and the KS drift's
    # bucketed-CDF machinery.
    "llm_perplexity_bigram",
    "llm_bpe_encode",
    "llm_dup_span_coverage",
    "llm_boilerplate_strip",
    "dq_ks_drift",
    # r8 close-out: the four completing decision-support shapes —
    # all lineitem-driven, so their scaling exponents are the fact-
    # scan story (Q19 = pure pushdown + broadcast, Q2 = one fact agg
    # + pinned dimension frame, Q16 = distinct collapse + anti,
    # Q20 = one-pass dual agg + windowed threshold).
    "agg_disjunctive_revenue",
    "join_min_cost_supplier",
    "agg_supplier_part_counts",
    "join_promotable_suppliers",
    # r9 heavies: the two token-exploding corpus stats (DSIR's double
    # bucket-count pass, entropy's (doc,tok) collapse), the widest of
    # the new star joins (Q8 = fact × 7 dims, Q9 = measure-bearing
    # dim), and the one-shuffle gap sessionizer over events.
    "llm_dsir_sample",
    "llm_token_entropy",
    "agg_market_share",
    "agg_product_profit",
    "evt_bounce_rate",
    # r9 late wave: NB scoring (second bucket-model pass), the corpus
    # gram self-join matrix, the d²-moment PCA scan, the bucketed-rank
    # Gini, and the windowed YoY star join.
    "llm_nb_quality_filter",
    "llm_cross_source_dups",
    "llm_embedding_pca",
    "evt_gini",
    "agg_yoy_growth",
    # r9 audits: multi-table sweeps (7 anti-join edges / 10 key-tuple
    # collapses) — latency-bound by leg count, data-bound per leg.
    "dq_referential_integrity",
    "dq_pk_uniqueness",
    # r10 heavies: the deflation family (its moment-scan memo is
    # cleared before every key run, so each run pays the scan), and
    # the PQ query path now runs the production K=256 codebooks (256
    # seeds, 512 LUT scalars) — both benched so the arity bump and any
    # deflation regression stay visible.
    "llm_pca_components",
    "llm_pq_rerank_topk",
    # r10b: the two closing decision-support shapes — Q3 (segment-
    # pruned join + exact-integer TakeOrdered) and Q5 (cyclic
    # nation-equality edge riding the supplier join condition) —
    # lineitem-driven, so their exponents extend the fact-scan story.
    "join_shipping_priority",
    "agg_local_supplier_volume",
    # r10c: the persisted-ANN probe.  Cycle 1 pays the day-1 index
    # build (3 kmeans trainings + partitioned write); later cycles
    # find the PID-scoped tables, so the reported min is the
    # RECURRING partition-pruned probe cost — the number the 100 TB
    # deployment actually pays per query (the X12 index convention).
    "llm_ivfpq_indexed",
    # r11 (verdict item 4): the r10 families, benched so their
    # scaling exponents are MEASURED at sf1/sf10, not asserted —
    # the DQ audits (multi-aggregate sweeps over lineitem/orders),
    # the r10 product-analytics wave (windowed duration/LTV/decile
    # shapes over events), the sketch family (containment pairs,
    # CM heavy hitters, persisted-CM probe, KL novelty, centroid
    # drift), the PCA deflation consumer, the composed IVF-PQ query,
    # and the two KM survival curves.
    "dq_order_reconciliation",
    "dq_benford",
    "dq_calendar_gaps",
    "dq_outlier_iqr",
    "dq_null_profile",
    "dq_schema_drift",
    "dq_chi2_drift",
    "dq_psi_drift",
    "evt_session_duration",
    "evt_cohort_ltv",
    "evt_new_vs_returning",
    "evt_churn_risk",
    "evt_traffic_profile",
    "evt_power_users",
    "evt_anomaly_seasonal",
    "evt_survival_km",
    "evt_survival_km_censored",
    "evt_ewma_long",
    "evt_cumulative_users",
    "llm_containment_pairs",
    "llm_cm_heavy_hitters",
    "llm_cm_sketch_persisted",
    "llm_source_kl",
    "llm_centroid_drift",
    "llm_minhash_calibration",
    "llm_pca_residual_topk",
    "llm_ivfpq_topk",
    # r11b: the two heaviest of the round's new operators — the
    # support-capped pair self-join + log-diameter fixpoint, and the
    # S-curve sweep over the unfloored pair space.
    "graph_copurchase_components",
    "llm_lsh_tuning",
    # r12 (verdict item 3): the five remaining r11 keys with no bench
    # point at any SF — exponents measured, not asserted.
    "dq_fd_violations",
    "dq_duplicate_orders",
    "agg_weighted_median",
    "llm_ann_retrain_decision",
    "llm_cm_sketch_windowed",
    # r12 new operators, benched from birth (no unbenched-key tail):
    # the triangle census (degree-ordered wedge join), the split-
    # leakage gram join, the double-median MAD audit, the collapsed-
    # domain latency percentiles, the IVF recall audit (one exact
    # scan + probe by construction), the sketch intersection, the
    # backlog sweep-line, and the burst-dispersion profile.
    "graph_copurchase_triangles",
    "llm_split_leakage",
    "dq_outlier_mad",
    "agg_ship_latency_profile",
    "llm_ann_recall",
    "agg_hll_intersect",
    "agg_order_backlog",
    "evt_burst_dispersion",
    # r12c: the keyless band join (banded bucketing + hot-slice gate)
    # and the Heaps-curve first-occurrence collapse.
    "join_band_time_pairs",
    "llm_gram_novelty",
    # r13 new operators, benched from birth: theta-sketch set algebra
    # (distinct + salted two-phase top-k), exact-integer OLS trend
    # (two map-combinable aggregations), CEP session pattern match
    # (gap sessionizer + regex flags), reciprocal-rank fusion (two
    # TakeOrdered shortlists + bounded outer join), and the fused
    # per-table format-conformance audit.
    "agg_theta_intersect",
    "agg_trend_regression",
    "evt_pattern_match",
    "llm_rrf_fusion",
    "dq_format_conformance",
    # r13b wave, benched from birth: per-node clustering coefficients
    # (corner-exploded Schank-Wagner enumeration), item-item CF
    # (co-purchase edges + WindowGroupLimit top-k), daily peak
    # concurrency (day-chunked sweep line + carry), freshness audit
    # (fused conditional aggregate vs broadcast high-water mark),
    # source vocabulary overlap (distinct-collapsed token self-join),
    # and the KMV quantile sketch (salted two-phase k-smallest).
    "graph_copurchase_local_clustering",
    "llm_item_cf_topk",
    "evt_peak_concurrency",
    "dq_freshness",
    "llm_source_vocab_overlap",
    "agg_kmv_quantiles",
    # r13c trio: capped-wedge link prediction, scan-local prefix
    # templates, and the LOCF fill window.
    "graph_link_prediction",
    "llm_template_prefix_groups",
    "win_gap_fill_locf",
    # r15: the persisted minhash-store probe — cycle 1 pays the
    # signature/band/fingerprint store build (the r10c persisted-ANN
    # pattern), later cycles time the zero-corpus-scan probe.
    "llm_minhash_calibration_persisted",
]

SF1_RESULTS = Path(__file__).resolve().parent / "BENCH_SF1.json"
SF10_RESULTS = Path(__file__).resolve().parent / "BENCH_SF10.json"

_runs = itertools.count()


def scale_factor(sf_dir: str) -> float:
    """The scale factor a data directory's name carries, -1 if none."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm(spark, sf_dir: str) -> None:
    """Start executors, trigger whole-stage codegen + parquet reader
    init with a representative aggregate, so the first timed key
    doesn't absorb one-time JVM costs."""
    from pyspark.sql import functions as F

    _noop(
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
    )


def calibrate(spark) -> float:
    """Host-speed calibration (r11): a fixed CPU-bound job that is
    INDEPENDENT of SF and of any engine code — 200M xxhash64 rows
    through whole-stage codegen.  Cross-round and paired A/B
    comparisons divide by this to separate code changes from host
    drift (the r11 A/B found the host itself 1.5× slower than when the
    r10 headline was recorded; without a calibration constant every
    such shift reads as a regression)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).select(
        F.sum(F.xxhash64("id") % 997)  # mod keeps the ANSI sum in range
    ).collect()
    return round(time.perf_counter() - t0, 3)


def run_key(spark, label: str, fn, sf_dir: str) -> dict:
    """One labelled key run: the build step ``fn(spark, sf_dir)`` (the
    jobs fired while the DataFrame is built: training scans, fixpoint
    rounds, collects) and the exec step (the final plan's noop write),
    each timed in its own job group.  Returns both times and their sum
    (``wall_s``), the Spark counters of ``perfbench.measure`` over both
    steps plus ``build_jobs`` / ``exec_jobs``, and the Janino classes
    compiled during the run (``compiles``).

    Before the build, the PCA family's moment memo is cleared: it is
    the engine's only module-level memo, and a benched run must pay
    the scan or the series silently turns into a cache-hit
    measurement.  After the run, the key's pinned frames are released
    (r12): localCheckpoint blocks are freed by the ContextCleaner only
    after BOTH the Python DataFrame refs die AND the JVM notices — on a
    96-key suite at sf10 the lag accumulated into execution-memory
    OOMs mid-cycle.  Both happen OUTSIDE the timed steps."""
    from perfbench.measure import SPARK_COUNTERS, job_counters

    from event_stream_checkout_spark.operators.clustering import (
        _PCA_MOMENT_CACHE,
    )

    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()  # one sample per compile
    group = f"{label}#{next(_runs)}"
    _PCA_MOMENT_CACHE.clear()
    c0 = compiled.getCount()
    try:
        sc.setJobGroup(f"{group}:build", label)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", label)
        _noop(df)
        t2 = time.perf_counter()
    finally:
        sc.setJobGroup(None, None)
        df = None
        gc.collect()
        sc._jvm.System.gc()
    build = job_counters(sc, f"{group}:build")
    exec_ = job_counters(sc, f"{group}:exec")
    return {
        "wall_s": t2 - t0,
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        **{name: build[name] + exec_[name] for name in SPARK_COUNTERS},
        "build_jobs": build["jobs"],
        "exec_jobs": exec_["jobs"],
        "compiles": compiled.getCount() - c0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cycles = int(os.environ.get("SPARK_GRAFT_BENCH_CYCLES", "3"))
    sf = scale_factor(sf_dir)

    from event_stream_checkout_spark.registry import load_all
    from event_stream_checkout_spark.session import get_session

    spark = get_session("ecs-bench")
    registry = load_all()

    warm(spark, sf_dir)
    calib = min(calibrate(spark) for _ in range(3))

    # r17 (VERDICT r16 item 2, additions-only methodology change,
    # called out in OPTIMIZATION_r17.md): host-steal waves on this
    # sandbox inflate single cycles by 1.5-6x, so ONE calibration
    # constant per run can't tell the driver which cycle of which key
    # was hit.  Record a calibration probe BEFORE EACH CYCLE plus every
    # key's raw per-cycle samples; the min-over-cycles ``queries`` map
    # and every existing field are unchanged, the new fields are
    # appended so a noise-normalized re-read stays possible after the
    # fact.  Cost: ~1 s per cycle of extra calibrated work, outside
    # every timed region.
    cycle_calibration: list[float] = []
    samples: dict[str, list[float]] = {}
    timings: dict[str, float] = {}
    # run_key's record of the run behind each key's ``queries`` minimum.
    counters: dict[str, dict] = {}
    for _cycle in range(cycles):
        cycle_calibration.append(calibrate(spark))
        for key in HEADLINE + EXTENDED + EXTRA:
            run = run_key(spark, key, registry[key].fn, sf_dir)
            t = run["wall_s"]
            timed = {key: t}
            if key == "snk_bucketed":
                # Its build step is the bucketed write and its exec
                # step the co-located read.  The blended number is the
                # min over PER-CYCLE write+read sums — the same
                # quantity the r2-r5 series measured (one combined run
                # per cycle), so series continuity is exact; the
                # per-leg entries are each leg's own min and may come
                # from different cycles (advisor r6: summing per-leg
                # minima understated the blended time).
                timed = {"snk_bucketed_write": run["build_s"],
                         "snk_bucketed_read": run["exec_s"], **timed}
            for name, s in timed.items():
                samples.setdefault(name, []).append(round(s, 3))
                if round(s, 3) < timings.get(name, float("inf")):
                    timings[name] = round(s, 3)
                    if name == key:
                        counters[key] = run
            # progress to STDERR (stdout carries only the JSON line):
            # when a scaled run dies mid-suite (the r11 sf10 OOM), the
            # log must say which key was in flight.
            print(
                f"[bench] cycle {_cycle} {key}: {t:.3f}s",
                file=sys.stderr,
                flush=True,
            )

    total = round(sum(timings[k] for k in HEADLINE), 3)
    extended = round(sum(timings[k] for k in EXTENDED), 3)
    # Field ORDER matters: the driver records only a bounded stdout
    # TAIL (2000 chars observed in BENCH_r10.json), so the summary
    # fields the evidence chain needs — metric/value/sf — go LAST,
    # where any truncation can't reach them; and the printed map
    # carries only the series keys (HEADLINE + EXTENDED, the numbers
    # graded round-over-round) so the whole line stays inside the
    # tail window (ADVICE r10 item 2: the r10 headline figure
    # survived only in SCALE.md because the full 75-key map pushed
    # it past the capture).  The COMPLETE per-key map — EXTRA
    # included — always lands in BENCH_DETAIL.json next to this
    # script; BENCH_SF1/SF10.json are snapshots of that file.
    out = {
        "queries": {k: timings[k] for k in HEADLINE + EXTENDED},
        # r17 additions (VERDICT r16 item 2): raw per-cycle samples for
        # the series keys + a calibration probe taken before each
        # cycle, so the driver can separate host-steal waves from code
        # deltas per key per cycle.  Every pre-existing field —
        # queries' min-over-cycles values, extended_sec, cycles,
        # host_calibration_sec, metric/unit/sf/value — is computed
        # exactly as before; these two are appended mid-line so the
        # bounded stdout tail still ends with metric/value/sf.
        "samples": {k: samples[k] for k in HEADLINE + EXTENDED},
        "cycle_calibration_sec": cycle_calibration,
        "extended_sec": extended,
        "cycles": cycles,
        "host_calibration_sec": calib,
        "metric": "headline_suite_sec",
        "unit": "sec",
        "sf": sf,
        "value": total,
    }

    detail = dict(out)
    detail["queries"] = timings
    detail["samples"] = samples
    detail["counters"] = counters
    # sf1/sf10 blocks + two-decade scaling exponents
    # (log100(t_sf10 / t_sf0.1), r9 verdict item 5) embed only on the
    # sf0.1 pass, where both comparands exist.
    if abs(sf - 0.1) < 1e-9:
        for label, path in (("sf1", SF1_RESULTS), ("sf10", SF10_RESULTS)):
            if not path.exists():
                continue
            try:
                scaled = json.loads(path.read_text())
                ratio = scaled["sf"] / sf
                exponents = {
                    k: round(
                        math.log(scaled["queries"][k] / t)
                        / math.log(ratio),
                        3,
                    )
                    for k, t in timings.items()
                    if k in scaled.get("queries", {})
                    and t > 0 and scaled["queries"][k] > 0
                }
                # ADVICE r11 item 3: a key benched here but absent
                # from the scaled snapshot silently loses its scaling
                # exponent — the exact silent-cap failure the tripwire
                # audit exists to catch.  Warn loudly instead.
                missing = sorted(
                    k for k in timings if k not in scaled.get("queries", {})
                )
                if missing:
                    print(
                        f"[bench] WARNING: {len(missing)} benched keys "
                        f"missing from {path.name} (stale snapshot? "
                        f"re-run at sf{scaled['sf']}): {missing}",
                        file=sys.stderr,
                        flush=True,
                    )
                detail[label] = {
                    "sf": scaled["sf"],
                    "value": scaled["value"],
                    "queries": scaled["queries"],
                    "extended_sec": scaled.get("extended_sec"),
                    "scaling_exponent": exponents,
                }
            except (KeyError, ValueError, ZeroDivisionError):
                pass
    try:
        (Path(__file__).resolve().parent / "BENCH_DETAIL.json").write_text(
            json.dumps(detail, indent=1) + "\n"
        )
        # ADVICE r11 item 3: bench.py writes the SF1/SF10 snapshots
        # ITSELF from the full per-key detail (never from the
        # truncated stdout line), so EXTRA-key exponents can't vanish
        # to a hand-snapshot that grabbed the wrong artifact.
        snap_path = {1.0: SF1_RESULTS, 10.0: SF10_RESULTS}.get(sf)
        if snap_path is not None:
            snap = dict(detail)
            snap["queries"] = timings
            snap_path.write_text(json.dumps(snap, indent=1) + "\n")
    except OSError:
        pass

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
