"""Regenerate PLANS.md: formatted physical plans of headline queries,
each annotated with the SCALE.md claim it evidences.

Usage: python tools/gen_plans.py [sf_dir]

Plans are written through ``normalize_plan``, which replaces the ids a
plan gets from the session that built it (expression ids, ``plan_id=``,
``RDD[n]``, explain operator and codegen-stage numbers, lambda-variable
numbers) with ``N``, so a regeneration's diff shows only plans that
really changed.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from gcp_food_delivery_data_pipeline_spark.session import get_spark  # noqa: E402

KEYS = {
    "q3_top_revenue": (
        "segment-filtered broadcast dims, orders pre-filtered before "
        "the fact-fact exchange, deterministic top-k"
    ),
    "q5_nation_revenue": (
        "star join: region filter reaches orders before the wide "
        "join; dims broadcast"
    ),
    "t_tfidf_top_term": (
        "one explode pass; df as a window over the shuffled-down "
        "doc-term table; WindowGroupLimit top-k"
    ),
    "d_near_dup_pairs": (
        "LSH banding (_lsh_join): signatures cut once (Scan ExistingRDD, "
        "no MapInPandas); ids-only band equi-join; shingles re-attached "
        "to candidates only, through width-pinned exchanges"
    ),
    "q_session_window": (
        "partial session aggregation + MergingSessions over ONE "
        "exchange"
    ),
    "q_incremental_rollup": (
        "three batch rollups merged; every aggregate partial "
        "(map-side) before its exchange"
    ),
    "q_zscore": (
        "order-less aggregate window: no sort, one shuffle shared by "
        "stats and row output"
    ),
    "v_kmeans_assign": (
        "zero-shuffle nearest-centroid argmax: centroids as plan "
        "literals, no exchange/join/window anywhere"
    ),
    "q_weighted_sample": (
        "A-ES weighted sampling: TakeOrderedAndProject (per-partition "
        "top-k + driver merge), no global sort"
    ),
    "t_bpe_pairs": (
        "BPE pair stats: partial_sum before the exchange — one row "
        "per (partition, pair), not per occurrence"
    ),
    "d_span_dedup": (
        "duplicated-span profile: JVM-side window generation, ONE "
        "span-partitioned window count + ONE per-doc rollup — two "
        "exchanges, no join, nothing all-pairs"
    ),
    "v_bitq_topk": (
        "binary quantization: sign packing is pure codegen (literal "
        "bit weights), queries broadcast with their packed words, "
        "map-side-limited hamming prune (partial WindowGroupLimit "
        "below the one exchange) before the exact-cosine rerank"
    ),
    "d_containment": (
        "containment prefix filter: candidate generation is an "
        "equi-join on rare prefix shingles — ids only; the all-pairs "
        "shape exists only in the oracle; r10: the shingle table is "
        "checkpoint-materialized once, so every branch reads Scan "
        "ExistingRDD and the plan holds ZERO parquet re-scans"
    ),
    "q_ols_trend": (
        "OLS from sufficient statistics: ONE partial-aggregable "
        "exchange; the fit is a per-group scalar projection"
    ),
    "q_kmv_overlap": (
        "KMV set ops: one combinable distinct over (group, item), "
        "per-group top-k window, every ESTIMATE on sketch rows only; "
        "the exact companions are a hash-KEYED self equi-join "
        "(co-occurrence counting) + inclusion-exclusion — raw sets "
        "are never cross-joined"
    ),
    "q_ks_drift": (
        "two-sample KS: per-value counts collapse the stream, BOTH "
        "CDFs ride one two-phase distributed rank (range repartition "
        "+ per-partition prefix sums, dual value lane) — no "
        "single-task global window"
    ),
    "q_psi_drift": (
        "PSI drift: per-type keyed rank window for decile edges, "
        "9-row-per-type edge table broadcast back, both count passes "
        "partial-aggregable"
    ),
    "g_hits": (
        "HITS: each half-step is one keyed equi-join of the static "
        "edge list with a one-row-per-node score frame + one "
        "combinable sum; totals broadcast once at the end"
    ),
    "c_token_budget": (
        "token-budget mixture: one keyed window cumsum is the only "
        "corpus-sized work; quota frame (#sources rows) broadcast "
        "back"
    ),
    "q_bloom_semijoin": (
        "Bloom runtime filter: the probe branch is scan + literal "
        "bit-arithmetic Filter — no join, no exchange before the "
        "survivor aggregation; the exact branch exists only for the "
        "FP-overshoot comparison"
    ),
    "d_blocked_linkage": (
        "record linkage: candidates only from the blocking-key "
        "equi-join (no cartesian); 1-NN argmin is a rec_id-keyed "
        "window, never a global sort"
    ),
    "v_ndcg_topk": (
        "NDCG rides the map-side-limited exact top-k (queries "
        "broadcast, partition winners only cross the exchange); label "
        "counts + query labels fused into one per-query broadcast; "
        "DCG/IDCG are JVM-side rank-ordered folds"
    ),
    "q_mann_whitney": (
        "rank prefix on the two-phase distributed rank (every "
        "Window keyed by the range-repartition part id); one final "
        "1-row aggregate"
    ),
    "t_lang_confusion": (
        "argmax-of-stopword-hits as a pure projection over the "
        "scan; the row-normalizing window runs on the <= |langs|^2 "
        "cell aggregate, never the corpus"
    ),
    "v_ivfpq_topk": (
        "IVF-PQ composite: cell assignment + PQ encoding are "
        "zero-shuffle maps over plan-literal centroids/codebooks; "
        "probe is a cell equi-join against broadcast queries; only "
        "rerank survivors touch full vectors"
    ),
}


_RUN_IDS = [
    (re.compile(r"#\d+"), "#N"),  # expression ids: l_orderkey#11L
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # explain operator numbers: tree "Filter (5)", detail "(5) Filter",
    # cross-references, and codegen stage ids "*(2)", "[codegen id : 2]"
    (re.compile(r" \(\d+\)$", re.M), " (N)"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r"(operator id ?[:=] ?)\d+"), r"\1N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    # lambda variables take a process-wide counter: "lambda x_36#N"
    (re.compile(r"(lambda [A-Za-z]+)_\d+\b"), r"\1_N"),
]


def normalize_plan(plan: str) -> str:
    """``plan`` with every session-dependent id replaced by ``N``."""
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plans-doc")
    out = [
        "# PLANS — formatted physical plans of headline queries\n",
        "Generated at sf0.01 by `python tools/gen_plans.py` (AQE "
        "initial plans;",
        "runtime re-plan may coalesce partitions further). Each plan "
        "is the",
        "evidence for the corresponding SCALE.md claim. Session-dependent "
        "ids (expression",
        "ids, `plan_id`, `RDD[n]`, operator, codegen and lambda-variable "
        "numbers) are",
        "written as `N`, the",
        "scale-factor directory as `$SF_DIR`.\n",
    ]
    queries = entry_mod.queries()
    for key, note in KEYS.items():
        df = queries[key](spark, sf)
        qe = df._jdf.queryExecution()
        plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        plan = normalize_plan(plan).replace(os.path.abspath(sf), "$SF_DIR")
        out += [f"## {key}\n\n*{note}*\n\n```", plan.rstrip(), "```\n"]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md: {len(KEYS)} plans written")


if __name__ == "__main__":
    main()
