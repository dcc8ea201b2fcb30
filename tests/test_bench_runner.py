"""bench.py's key runner, the one measurement path of the bench and
the timing tools: its build/exec job split and the memo reset that
makes every benched run pay its own scans."""

from __future__ import annotations

import bench
from event_stream_checkout_spark.operators.clustering import _PCA_MOMENT_CACHE
from event_stream_checkout_spark.registry import load_all
from tests.conftest import SF_DIR

QUERIES = load_all()


def _run(spark, key, fn=None):
    run = bench.run_key(spark, key, fn or QUERIES[key].fn, SF_DIR)
    assert run["jobs"] == run["build_jobs"] + run["exec_jobs"], run
    return run


def test_scan_key_reads_its_data_in_the_final_write(spark):
    # Building the frame reads only parquet footers: Spark infers each
    # read's schema with one job, and the key reads part and events.
    run = _run(spark, "scan_inventory")
    assert run["build_jobs"] <= 2, run
    assert run["exec_jobs"] >= 1, run


def test_replay_key_builds_with_schema_inference_only(spark):
    # The replay key reads events twice and part once; building its
    # frame fires only their schema inferences, and the fold runs in
    # the final write.
    run = _run(spark, "state_inventory_replay")
    assert run["build_jobs"] <= 3, run
    assert run["exec_jobs"] >= 1, run


def test_fixpoint_key_counts_its_round_actions_as_build(spark):
    # Connected components runs one action per fixpoint round while
    # its frame is built; those collects count as build jobs, beyond
    # the schema inference of the tables it reads.
    run = _run(spark, "graph_copurchase_components")
    assert run["build_jobs"] > 3, run
    assert run["exec_jobs"] >= 1, run


def test_pca_memo_is_empty_when_each_build_starts(spark):
    seen = []

    def probe(fn):
        def build(s, sf_dir):
            seen.append(len(_PCA_MOMENT_CACHE))
            return fn(s, sf_dir)

        return build

    for key in ("llm_pca_components", "llm_pca_residual_topk"):
        _run(spark, key, probe(QUERIES[key].fn))
        # The run left its moments memoized: without the reset, the
        # next PCA key would read them instead of paying its scan.
        assert _PCA_MOMENT_CACHE, key
    assert seen == [0, 0]
