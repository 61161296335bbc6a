#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of every headline
(BASELINE.md) query — the plan-review evidence behind SCALING.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from integrator_spark.plans.audit import audit_plan  # noqa: E402
from integrator_spark.registry import all_specs  # noqa: E402
from integrator_spark.session import build_session  # noqa: E402

HEADLINE = [
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "agg_distinct", "window_topn", "rollup_revenue", "events_tumbling",
    "events_json", "docs_wordcount", "vec_knn",
]

#: One representative per expensive non-headline family (VERDICT r7
#: item 4): the audit gate machine-checks invariants for all queries,
#: but reviewers should SEE the shapes of the families that dominate
#: the repo's scale claims. dedup_embedding_lsh_keep is the batch
#: analog of stream_semantic_dedup's per-trigger plan.
FAMILY_REPS = [
    "dedup_minhash_det", "dedup_semantic_ivf", "vec_ann_ivfpq",
    "dedup_embedding_lsh_keep", "graph_triangles", "etl_pipeline",
    # round-8 additions
    "graph_kcore", "text_bpe_train", "sql_recursive_hierarchy",
    "ml_naive_bayes",
    # round-9 additions/graduations
    "text_bpe_tokenize", "vec_ann_lsh", "ml_logreg", "retrieval_rrf",
    # round-10 additions/graduations (the det-quantized family's plans
    # are the evidence that the oracle twins keep the scale shapes:
    # broadcast codebooks, probe-bounded scans, no corpus cartesian)
    "vec_ann_ivf_det", "vec_ann_ivfpq_det", "dedup_semantic_ivf_det",
    "graph_label_prop", "corpus_pack_manifest", "retrieval_ndcg",
    # round-10 third wave: the Hamming family (popcount scan +
    # provably-complete chunk-index radius search), the one-pass
    # closed-form ML pair, the deterministic NN-Descent twin, and the
    # sampled-source harmonic centrality
    "vec_hamming_topk", "vec_hamming_mih", "ml_ridge", "ml_tree_stump",
    "vec_ann_graph_det", "graph_harmonic",
    # round-12 continuation: the tombstone-matrix and web-pipeline
    # representatives — delete consolidation (splice join keyed on the
    # deleted id), the web curation funnel, and the host-rank prior
    "vec_ann_graph_det_deletes", "pipeline_web_curation",
    "web_host_rank",
]

SF_DIR = "/root/testdata/sf0.001"

#: Per-query annotations rendered under the summary line — context a
#: reviewer needs to read a flag correctly.
NOTES = {
    "vec_hamming_topk": (
        "under the broadcast budget the scan is the fused "
        "hamming_topk_scan kernel (no cartesian in this plan); the "
        "CROSS_JOIN_ALLOWED entry covers the above-budget relational "
        "fallback, allowlisted like vec_knn_bruteforce."),
    "ml_tree_stump": (
        "cartesian=yes is the allowlisted 1-row class-totals frame "
        "broadcast onto the bin histogram (the ml_quantile_bins "
        "pattern); the only full-data pass is the map-side-combinable "
        "histogram aggregate."),
    "graph_triangles": (
        "cartesian=yes is the audit-ALLOWLISTED assembly of the single "
        "output row from three bounded 1-row aggregate frames "
        "(summary × n_edges × tri — see the query docstring and "
        "plans/audit.py CROSS_JOIN_ALLOWED); the wedge/closing legs "
        "themselves are hash equi-joins."),
    "vec_knn": (
        "exchanges=0: the broadcast-matmul route — the corpus streams "
        "through one mapInPandas, candidates broadcast once, no "
        "shuffle at all; above the broadcast budget knn_exact routes "
        "to the two-sided blocked cogroup automatically."),
}

# Hand-written bench root-cause analysis, persisted across regens.
BENCH_NOTE = """\
## Bench-ratio root cause (updated round 3)

bench.py matches BASELINE.md's protocol (one warm-up, then a median of
timed runs — raised to median-of-5 in round 3) and REBUILDS the
DataFrame inside each timed run. The rebuild is deliberate: repeated
collect() on one DataFrame object silently reuses the previous run's
shuffle files (Spark stage skipping), which skips every pre-exchange
stage and under-measures multi-stage queries by 10-100x (measured:
naive crossJoin kNN re-collect 35 ms vs 77 s fresh). The naive baseline
was measured the same way, so ratios are like-for-like.

**Round-2's "uniform 16% regression" was timing noise, not a plan
change**: plans were byte-identical, and re-measurement in round 3
showed ambient machine variance of 10-30% between sessions. Two round-3
changes made the ratios robust to that noise rather than hostage to it:

1. **Size-routed exact sums closed the decimal-tax gap.** Money /
   quantity / rate columns (and their products) lie on a <=6-decimal
   grid, where a long micro-unit accumulator — floor(x*1e6 + 0.5),
   BIGINT sum, one final DECIMAL division — is provably bit-identical
   to the DECIMAL(18,6) cast-and-sum (error analysis in
   functions/num.py::dsum_grid) at ~3x less per-row cost, since the
   hot loop is pure primitive ops with no BigDecimal allocation.
   Queries route on source size (dsum_money): the long path holds to
   ~2 GiB of parquet; past that the micro-total could overflow 2^63,
   so the decimal path takes over. Both paths verified equal on the
   fixture (tests/test_operators.py::test_grid_sum_*). Effect at
   sf0.1: q1 2.04 s -> 0.89 s, rollup_revenue 0.80 s -> 0.35 s.
   events_tumbling / events_json keep the decimal path — events.value
   is an arbitrary-precision double, where the grid equivalence does
   not hold — and sit at ~1.5-1.7x naive, inside the 2x budget.
2. **Scheduling floor.** The remaining deltas are 100-150 ms against
   sub-second totals — the Spark job-submission floor at sf0.1, not a
   plan defect (plans audited below: pushdown, broadcast, no
   cartesian/row-Python). rollup_revenue pre-aggregates before the
   rollup (one fact shuffle instead of a 3x grouping-set expand): at
   100 TB that avoids expanding the fact table, and it is ALSO faster
   at sf0.1 (measured 0.35 s vs 1.42 s direct) because the expand
   triples the exact-sum work.
"""


def main() -> None:
    spark = build_session("plan-report", cpus=4)
    specs = all_specs()
    sections = []
    for name in HEADLINE + FAMILY_REPS:
        f = audit_plan(name, specs[name].fn(spark, SF_DIR))
        summary = (f"exchanges={f.n_exchanges}  "
                   f"cartesian={'yes' if f.has_cartesian else 'no'}  "
                   f"row_python={'yes' if f.has_row_python else 'no'}  "
                   f"pushed_filters={f.pushed_filters or '—'}")
        note = f"\n{NOTES[name]}\n" if name in NOTES else ""
        sections.append(
            f"## {name}\n\n`{summary}`\n{note}\n```\n{f.plan.strip()}\n```\n")
    spark.stop()
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w") as fh:
        fh.write(
            "# PLANS — physical plans of the headline queries\n\n"
            "Auto-generated by `scripts/gen_plan_report.py` "
            "(`df.explain('formatted')` at sf0.001; plan shapes are "
            "scale-independent). Summary line per query: shuffle count, "
            "cartesian/row-Python presence (audited), parquet pushed "
            "filters. The first ten are the BASELINE.md headline "
            "queries; the rest are one representative per expensive "
            "non-headline family (dedup/ANN/graph/ETL — see "
            "FAMILY_REPS).\n\n" + BENCH_NOTE + "\n" + "\n".join(sections))
    print(f"wrote {out} ({len(sections)} plans)")


if __name__ == "__main__":
    main()
