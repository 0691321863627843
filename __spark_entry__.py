"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``iniz_exporters_spark`` package; this module
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Package root derived from this file's location, NOT hardcoded: the tests
# that exec this module from a derived path (test_entry_window,
# test_registry_growth_cap) would otherwise have a stale /root/repo
# shadow the relocated checkout's package in sys.modules.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iniz_exporters_spark.queries import REGISTRY
from iniz_exporters_spark.session import tune_for_session

# ---------------------------------------------------------------------------
# First-50 window. The driver hash-checks the first 50 entries of
# ``queries()``. ``q1_pricing_summary`` is always first (it backs
# ``entry()``), then ``_WINDOW``, then the spare-slot tail, then the rest of
# the registry in registration order.
#
# ``_WINDOW`` lists registry names that hold no green driver row yet. Every
# registered name has one, and the registry is frozen, so it is empty.
#
# Spare slots (49 minus the live window) re-verify green names, stale-first:
#   1. ``_PLAN_CHANGED`` names, in list order: their plan changed after their
#      latest green row;
#   2. then every other green name by (latest green CORRECTNESS round,
#      registration order).
# ``_reseat_names`` derives the tail from the committed CORRECTNESS_r*.json
# files at import time.
#
# Growth cap: registry size − driver-checked names − window ≤ 49.
# Enforced by tests/test_registry_growth_cap.py (which also re-derives the
# spare-slot tail) and tests/test_entry_window.py.
# ---------------------------------------------------------------------------
_WINDOW: list[str] = []

# A name stays here only while its latest green driver row predates its plan
# edit; once a fresh green row lands it drops back to the stale-first pool.
_PLAN_CHANGED: list[str] = [
    # The pin() centralization (pinning.py) rewrote every
    # `localCheckpoint(...)` site to `.transform(pin[, eager])`, which
    # resolves to the IDENTICAL localCheckpoint call under the default
    # strategy — no plan changes from that refactor.
    "ccnet_bucket_q",  # per-(doc,word) count cast decimal(9,0)->(19,0)
                       # (ADVICE r14 #2 overflow guard; product/sum stay
                       # exact within the 38-digit cap) + metadata_df
    #
    # r15 metadata_df rewrite (session.metadata_df): every driver-side
    # list -> DataFrame now parallelizes into ONE slice instead of
    # defaultParallelism pickle slices (a 3-row broadcast build cost 32
    # Python-worker dispatches per job on local[32]; profiled stage
    # task-run 8.05 s -> 0.21 s on pq_adc_topk). Same rows, same order,
    # same types — only the input slicing changed; every name below
    # re-verified vs its UNCHANGED oracle at sf0.01 (57/57 PASS; ccnet
    # and pq additionally at sf0.001/sf0.1). Headline + slope-radar
    # names first: the reseat policy truncates at 49 spare slots and
    # these are the driver-visible surfaces.
    "pq_adc_topk",
    "bpe_learn64",
    "grid_dbscan_q",
    "quantile_normalize_q",
    "wasserstein_q",
    "energy_distance_q",
    "mann_whitney_q",
    "spearman_corr_q",
    #
    # r15 graph-fixpoint fusion (plans/graph.py): every iterative loop
    # (connected-components propagation + star, reachability, topo
    # levels, k-core peel) now uses LAZY pins with a count()-based
    # convergence check — one materializing job per round instead of an
    # eager-pin job plus isEmpty's 1→4→… take-escalation jobs. Same
    # joins, same convergence criterion, same labels; re-verified vs the
    # unchanged oracles at sf0.01 (8/8 PASS incl. kcore_q/grid_dbscan_q
    # above). Headline names first:
    "connected_components_q",
    "canonical_longest_q",
    "star_components_q",
    "component_density_q",
    "graph_topo_levels",
    "kcore_q",
    #
    # r15 fused LSH kernel (operators/dedup.py shingle_band_sets): the
    # shingle-set, band-bucket, and (where consumed) minhash-signature
    # kernels collapse into ONE Arrow pass per frame, each output
    # bit-identical to its standalone kernel; bands/mins explode
    # JVM-side (posexplode) off the single pinned frame. Interleaved
    # process-alternating A/B at sf0.1: incremental_neardup_q −45 %,
    # minhash_estimate_q −43 %, neardup_pairs −32 %,
    # pipeline_clean_corpus −27 %, lsh_scurve_q −27 %; 7/7 oracle PASS
    # at sf0.01. Headline names first:
    "incremental_neardup_q",
    "pipeline_clean_corpus",
    "pipeline_waterfall_q",
    "neardup_pairs",
    "minhash_estimate_q",
    "lsh_scurve_q",
    "lsh_precision_eval_q",
    # non-headline consumers of the rewritten metadata frames, in
    # operator-family order (indexing rank/ntile/cumsum/prefix machinery,
    # BM25/band-join/PQ operators, exporters facet, direct query-local
    # metadata frames):
    "quantile_bins", "rfm_segment_q", "fair_interleave_q",
    "stratified_split_q", "mann_kendall_q", "seq_rank", "seq_packing_q",
    "exact_median_q", "trimmed_mean_q", "lorenz_curve_q", "abc_analysis_q",
    "abc_xyz_q", "lift_gain_q", "knee_point_q", "enrichment_q",
    "ipw_ate_q", "mantel_haenszel_q", "simpson_paradox_q", "sprt_q",
    "brown_forsythe_q", "cliffs_delta_q", "dunn_test_q",
    "kruskal_wallis_q", "xi_correlation_q", "wilcoxon_signed_rank_q",
    "shift_function_q", "robust_shape_q", "negative_samples",
    "band_lookup_prices", "bm25_search_topk", "rrf_fuse_q",
    "retrieval_eval_q", "pq_codes", "concepts_export_q",
    "graph_reachability", "bpe_learn_q", "cms_error_check",
    "pca_project_check", "calinski_harabasz_q", "concept_set_q",
    "ngram_coverage_q", "hurst_exponent_q", "boxcox_q",
    "allan_variance_q", "box_counting_q", "host_blocklist_q",
    "data_constrained_epochs_q", "rich_club_q",
]


def _latest_green_rounds() -> dict[str, int]:
    """name -> latest CORRECTNESS round with a green (hash-verified) row."""
    import glob
    import json
    import os

    # Artifacts live next to this file — derived, not hardcoded, so the
    # policy survives a relocated checkout (ADVICE r12).
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for name, row in json.load(open(path)).items():
            if not isinstance(row, dict):
                continue  # malformed row: never treat as verified
            if not row.get("hash_match"):
                continue  # err / mismatch row: never verified
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _reseat_names() -> list[str]:
    """Spare-slot occupants per the post-drain policy (header comment)."""
    latest = _latest_green_rounds()
    live_window = [n for n in _WINDOW if n in REGISTRY]
    spare = 49 - len(live_window)
    if spare <= 0:
        return []
    jumped = [
        n
        for n in _PLAN_CHANGED
        if n in latest and n in REGISTRY and n not in live_window
    ]
    order = {n: i for i, n in enumerate(REGISTRY)}
    # ``n not in live_window`` is load-bearing (ADVICE r12): window names
    # already hold a green row, so without the exclusion a re-seat could
    # duplicate a window slot if the sort order ever stopped pushing
    # max-round names past the [:spare] truncation.
    stale_first = sorted(
        (
            n
            for n in latest
            if n in REGISTRY and n not in jumped and n not in live_window
        ),
        key=lambda n: (latest[n], order[n]),
    )
    return (jumped + stale_first)[:spare]


def _ordered_names() -> list[str]:
    """Registry names: flagship, rotation window, re-seat tail, rest."""
    window = (
        ["q1_pricing_summary"]
        + [n for n in _WINDOW if n in REGISTRY]
        + _reseat_names()
    )
    seen = set(window)
    return window + [n for n in REGISTRY if n not in seen]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    tune_for_session(spark)
    return REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §7."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each hash-checkable query."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
