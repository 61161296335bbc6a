"""Workload definitions and the expected-result store of the benchmark.

A workload is a fixed list of registered queries run at one fixture
scale. ``run.py`` runs one workload per invocation; the seed only
permutes the query order inside each pass, so every seed runs the same
work.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

#: The set-up query: its first (cold) result ends set-up. It is the same
#: for every workload, so ``setup_s`` compares across workloads.
SETUP_QUERY = "q1_pricing_summary"



@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "interactive_sql": Workload(
        sf="sf0.1",
        queries=(
            "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
            "agg_distinct", "window_topn", "rollup_revenue",
            "events_tumbling", "events_json", "docs_wordcount",
            "web_url_dedup", "etl_harmonize", "etl_observations",
            "etl_assertions", "etl_lineage", "etl_cdc_apply", "etl_scd2",
            "etl_merge_upsert",
        ),
        why="analyst and cube queries; each is a 0.3-1.2 s fixed floor of "
            "load_table schema jobs, Catalyst and 3-13 small jobs, so io, "
            "plan and job-count changes show here"),
    "stream_ingest": Workload(
        sf="sf0.1",
        queries=(
            "stream_tumbling", "stream_dedup", "stream_join",
            "etl_pipeline",
        ),
        why="the write path: micro-batch planning, state-store and WAL "
            "commits, checkpoint and parquet sink writes, no load_table "
            "reads in the streaming drains"),
    # The two workloads below are run by hand (README.md); one pass of
    # either is longer than a benchmark run may take on a 4-core host.
    "iterative_loops": Workload(
        sf="sf0.1",
        queries=(
            "graph_pagerank", "graph_mst", "graph_kcore_converged",
            "graph_label_prop", "spatial_dbscan", "dedup_minhash_det",
            "vec_ann_ivf_det", "vec_ann_ivfpq_det",
        ),
        why="multi-job driver loops: job barriers, driver gaps and driver "
            "numpy kernels dominate; load_table is about 1% of the wall"),
    "compute_bound": Workload(
        sf="sf0.01",
        queries=("scale_sentinel_hash", "scale_sentinel_pairs",
                 "scale_sentinel_knn"),
        why="few jobs, time in task CPU (codegen hashing, Levenshtein, "
            "the Arrow kNN kernel); parallelism and kernel changes show"),
}

#: Queries whose expected result is this commit's Spark output rather
#: than a DuckDB oracle: graph_mst has no oracle, and spatial_dbscan's
#: recursive oracle does not finish in 20 minutes at sf0.1.
PINNED = {"graph_mst", "spatial_dbscan"}

#: The instrumentation self-test (run.py --self-test): one batch query
#: and one streaming query on the smallest fixture.
SELF_TEST = Workload(sf="sf0.001",
                     queries=("q1_pricing_summary", "stream_tumbling"),
                     why="checks that the traced run sees every layer")


def sf_dir(sf: str) -> str:
    """Directory of one fixture scale. The fixtures are the repository's
    fixed, read-only inputs (TESTDATA.md); every scale sits next to the
    package's default one, ``integrator_spark.io.DEFAULT_SF_DIR``."""
    from integrator_spark.io import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)),
                        sf)


def result_digest(pdf) -> dict:
    """Row count and SHA-256 of the order-insensitive canonical form the
    oracle gate compares (integrator_spark.testing.canonical_strings)."""
    from integrator_spark.testing import canonical_strings

    lines = canonical_strings(pdf)
    return {"rows": len(lines),
            "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def fixture_digest(sf: str) -> str:
    """SHA-256 over the fixture files of one scale, in name order."""
    h = hashlib.sha256()
    root = sf_dir(sf)
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)
