#!/usr/bin/env python3
"""Benchmark: run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
COMPACT final JSON line: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: median_sec}, "sf": ...}.

The final stdout line must stay small (~1.5 KB): the driver captures only
the tail of stdout and parses the last line — round 4's line grew to
~10 KB (runs + slope inlined) and the driver recorded "parsed": null.
Per-run spreads and the cross-scale slope therefore go to a side
artifact, BENCH_DETAIL.json, and to earlier stdout lines; the final line
carries only the headline medians.

Per-query times are the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
interleaved passes — single-run times at sf0.1 carry ±2× JIT/GC noise
(PERFORMANCE.md), so round-over-round comparisons need the median, and the
raw runs are emitted alongside for spread inspection. A query whose spread
exceeds 25 % of its median gets extra passes, up to 5 in total.
$SPARK_GRAFT_BENCH_DETAIL redirects the side artifact (tests point it at a
temp dir).

Cross-scale slope: when the 10×-smaller scale exists next to the SF dir,
each query also runs there and the JSON carries
{"slope": {name: {"sf_small": sec, "sf_big": sec, "ratio": big/small}}}.
The ratio is the scaling diagnostic no single-scale run can give: a query
whose time grows far beyond ~10× across a 10× data step has a superlinear
term (usually candidate-pair or state growth) that a local plan audit
won't catch. Ratios well under 10 mean fixed overheads (job scheduling,
JVM) still dominate at this scale — fine; ratios ≫10 are the red flag.
The slope set also carries _SLOPE_EXTRA: representative round-8
statistical-analytics operators measured at both scales but kept OUT of
the headline wall-time sum, so scale drift in the new surface is visible
without moving the round-over-round headline goalposts (VERDICT r8 #3).

Environment canary (VERDICT r8 #2): BENCH_r08 regressed +24% across all
31 headline queries with zero plan changes — by all evidence a slower
sandbox, but the committed artifact had no way to prove it. Now every run
times two FIXED reference probes before the warm-up and again after the
suite: (a) a pure-JVM probe, sum over spark.range(2e8) — CPU/codegen
speed, no I/O; (b) a fixed parquet scan-agg over sf0.01 lineitem — disk +
scan path. Both land in the final JSON line ("canary") and, with
loadavg/cpu-count/warm-up time, in BENCH_DETAIL ("env"). Compare two
artifacts with tools/bench_compare.py: a query delta is a real signal only
if it exceeds the recorded spread AND survives its median-of-ratios
normalization, which uses the raw post canary; a uniform shift that tracks
the canary is the machine, not the code.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iniz_exporters_spark.queries import REGISTRY
from iniz_exporters_spark.session import get_spark


# Round-8 statistical-analytics operators on the cross-scale slope radar
# (VERDICT r8 #3): heaviest-first picks — rank machinery (Mann-Whitney,
# Spearman), iterative kernels (Sinkhorn, Bradley-Terry, fuzzy c-means),
# survival (Kaplan-Meier), an SPC chart (X-bar/R), and pairs-based tests
# (permutation, Kendall's tau). Measured at sf_small and sf_big each run;
# NOT part of the headline wall-time sum.
_SLOPE_EXTRA = [
    "mann_whitney_q", "spearman_corr_q", "km_survival_q",
    "sinkhorn_plan_q", "bradley_terry_q", "xbar_r_q",
    "permutation_test_q", "kendall_tau_q", "fuzzy_cmeans_q",
    "geometric_median_q",
    # round-10: heaviest r10-driver-window names join the radar before
    # their first external check — collocation LLR (token-stream window +
    # bigram-vocabulary joins), two distribution distances on the
    # distributed rank, LOO kNN, grid DBSCAN components, and per-source
    # quantile normalization.
    "collocation_llr_q", "wasserstein_q", "energy_distance_q",
    "grid_dbscan_q", "quantile_normalize_q",
    # knn_loo_accuracy_q RETIRED from the radar at r14 (VERDICT r13 #7):
    # it is quadratic-BY-SPEC (exact all-pairs LOO audit) under a hard 20k
    # row guard — the book is closed (isolated 3-run 2.45-2.80, true-idle
    # 5-run 2.49, PERFORMANCE.md §r13) and re-measuring it each round just
    # re-reports the spec. Its 100 TB path, knn_loo_ann_q (adaptive
    # sign-bucket LSH, slope 1.44), is HEADLINE-tracked since r14 and gets
    # its slope measured in the headline loop above.
]


# Slope readings at or above this get one re-measurement at both scales
# (min kept). 2.3 sits above the noise band of genuinely-linear entries
# (~1-2.2) and below the sustained super-linear readings the radar hunts.
#
# Calibration (r14, PERFORMANCE.md §r14 slope re-read): RECHECKED ratios
# run higher than the historical single-pass band because the recheck-min
# deflates sf_small's overhead (r13 single-pass small reads were 3-8×
# inflated; q1's sf_small 2.764 → 0.339 rechecked). Against rechecked
# minimums, a 10× data step reads ratio ≈ 10 for linear work — scan-bound
# headline entries land 3-3.6 and are comfortably sub-linear. Judge a
# rechecked ratio against ~4, not the single-pass ~2.5 bar.
SLOPE_RECHECK_THRESHOLD = 2.3


def _canary_scan_path(sf_dir: str) -> str:
    """The scan probe's fixed path: sf0.01 lineitem next to the configured
    SF dir (same bytes every round → comparable across rounds). When that
    scale is absent (custom testdata layouts), fall back to the configured
    dir's own lineitem — still a valid within-run load probe, just not
    byte-comparable across rounds (the recorded path says which)."""
    root = os.path.dirname(sf_dir.rstrip("/"))
    fixed = os.path.join(root, "sf0.01", "lineitem.parquet")
    return fixed if os.path.exists(fixed) else os.path.join(
        sf_dir, "lineitem.parquet"
    )


def _canary(spark, scan_path: str) -> dict[str, float]:
    """Fixed environment probes — identical workload every round.

    (a) pure-JVM: sum over range(2e8), exercises codegen + CPU with zero
    I/O; (b) parquet scan-agg over ``scan_path`` (normally sf0.01
    lineitem — same bytes every round, driver-generated, read-only).
    Neither depends on the headline set, so their round-over-round ratio
    isolates machine speed from plan changes. Each probe runs twice and
    records the SECOND timing: the first pass absorbs first-call
    codegen/JIT (measured 4.9 s cold vs 0.23 s warm), which is session
    state, not machine speed — session cold-start is recorded separately.
    """
    probes = {}
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        probes["jvm_range_sec"] = round(time.perf_counter() - t0, 3)
    for _ in range(2):
        t0 = time.perf_counter()
        spark.read.parquet(scan_path).selectExpr(
            "sum(l_extendedprice * (1 - l_discount))", "count(*)"
        ).collect()
        probes["parquet_scan_sec"] = round(time.perf_counter() - t0, 3)
    return probes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    t_session0 = time.perf_counter()
    spark = get_spark("iniz-exporters-bench")
    spark.sparkContext.setLogLevel("ERROR")
    session_startup_sec = round(time.perf_counter() - t_session0, 3)

    loadavg_pre = os.getloadavg()
    canary_scan_path = _canary_scan_path(sf_dir)
    canary_pre = _canary(spark, canary_scan_path)

    headline = {n: s for n, s in REGISTRY.items() if s.headline}

    def run(spec, d):
        # noop sink: full distributed evaluation of every output column,
        # no driver-side row materialization — measures the engine, not
        # py4j deserialization of the result set
        spec.fn(spark, d).write.format("noop").mode("overwrite").save()
        # drop localCheckpoint/cache RDDs the query pinned: in production
        # each query is its own job; in this single-JVM loop leftover
        # blocks otherwise accumulate GC pressure that bleeds into later
        # queries' timings
        for jrdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            jrdd.unpersist()
        spark.catalog.clearCache()

    # JVM/codegen warmup on the smallest SF so per-query times measure the
    # plan, not first-call compilation
    t_warm0 = time.perf_counter()
    for spec in headline.values():
        run(spec, "/root/testdata/sf0.001")
    warmup_sec = round(time.perf_counter() - t_warm0, 3)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    runs: dict[str, list[float]] = {name: [] for name in headline}
    # full interleaved passes (not per-query back-to-back) so a transient
    # GC/load spike lands on one pass, not one query's entire sample
    for _ in range(n_runs):
        for name, spec in headline.items():
            t0 = time.perf_counter()
            run(spec, sf_dir)
            runs[name].append(round(time.perf_counter() - t0, 3))

    # Adaptive variance control (VERDICT r5 #5): with 3-run medians, a
    # query whose spread exceeds ~25% of its median can hide a real 20%
    # regression. Queries over the threshold get extra passes (to 5 total)
    # and the median is taken over all runs; recorded spreads let the next
    # round's comparison know which deltas are noise.
    spread_threshold = 0.25
    max_runs = 5

    def spread(r: list[float]) -> float:
        med = statistics.median(r)
        return (max(r) - min(r)) / max(med, 1e-9)

    noisy = [
        n for n, r in runs.items() if spread(r) > spread_threshold
    ]
    for _ in range(max_runs - n_runs):
        if not noisy:
            break
        for name in noisy:
            t0 = time.perf_counter()
            run(headline[name], sf_dir)
            runs[name].append(round(time.perf_counter() - t0, 3))
        noisy = [n for n in noisy if spread(runs[n]) > spread_threshold]

    times = {n: round(statistics.median(r), 3) for n, r in runs.items()}
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail: dict[str, object] = {
        "runs": runs,
        "spread_pct": {
            n: round(100 * spread(r), 1) for n, r in runs.items()
        },
        # best-of-N: for queries still over the spread threshold after the
        # adaptive passes, the median is untrustworthy for round-over-round
        # deltas — best-of-N is the more stable floor estimate (VERDICT r7
        # #4). "noisy" lists the queries whose per-round delta should be
        # read as machine noise, not a plan change.
        "best": {n: min(r) for n, r in runs.items()},
        "noisy": sorted(
            n for n, r in runs.items() if spread(r) > spread_threshold
        ),
        "sf": sf_val,
    }

    # Cross-scale slope: one timed pass at the 10×-smaller SF (it exists
    # for every driver scale except the smallest probe scale).
    try:
        cand = f"{os.path.dirname(sf_dir.rstrip('/'))}/sf{float(sf) / 10:g}"
        small_dir = cand if os.path.isdir(cand) else None
    except ValueError:
        small_dir = None
    if small_dir:
        slope: dict[str, dict[str, float]] = {}
        for name, spec in headline.items():
            t0 = time.perf_counter()
            run(spec, small_dir)
            t_small = round(time.perf_counter() - t0, 3)
            slope[name] = {
                "sf_small": t_small,
                "sf_big": times[name],
                "ratio": round(times[name] / max(t_small, 1e-3), 2),
            }
        # Round-8 analytics slope radar: one timed pass per scale (these
        # are not in `times`, so sf_big is measured here). Single-pass
        # timings carry JIT/GC noise — the ratio, not the absolute, is
        # the signal, and only sustained super-linear ratios matter.
        # Extras are not in the headline warmup, so warm each untimed at
        # the smallest SF first: otherwise first-call codegen lands on
        # t_big (timed first) and one-sidedly inflates the ratio the
        # radar exists to detect.
        for name in _SLOPE_EXTRA:
            spec = REGISTRY.get(name)
            if spec is None:
                continue
            run(spec, small_dir)
            t0 = time.perf_counter()
            run(spec, sf_dir)
            t_big = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            run(spec, small_dir)
            t_small = round(time.perf_counter() - t0, 3)
            slope[name] = {
                "sf_small": t_small,
                "sf_big": t_big,
                "ratio": round(t_big / max(t_small, 1e-3), 2),
                "extra": 1,
            }
        # Adaptive second pass (r10): single-pass ratios swing ±40%
        # run-to-run on this box (group_concat_ordered read 2.67 then
        # 3.88 across two same-code runs), so a bad-looking first reading
        # is re-measured once at BOTH scales and the per-scale MIN kept —
        # a one-sided re-run would bias the ratio down. Only flagged
        # entries pay the extra passes, so radar cost stays ~flat.
        for name, s in slope.items():
            if s["ratio"] < SLOPE_RECHECK_THRESHOLD:
                continue
            spec = headline.get(name) or REGISTRY.get(name)
            t0 = time.perf_counter()
            run(spec, sf_dir)
            t_big2 = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            run(spec, small_dir)
            t_small2 = round(time.perf_counter() - t0, 3)
            s["sf_big"] = min(s["sf_big"], t_big2)
            s["sf_small"] = min(s["sf_small"], t_small2)
            s["ratio"] = round(s["sf_big"] / max(s["sf_small"], 1e-3), 2)
            s["rechecked"] = 1
        detail["slope"] = slope
        detail["slope_sf_small"] = float(small_dir.rsplit("sf", 1)[-1])

    # Environment fingerprint (VERDICT r8 #2): canary probes bracket the
    # suite; loadavg + cpu count + warm-up land in the committed artifact
    # so a cross-boot machine shift is provable from the record alone.
    canary_post = _canary(spark, canary_scan_path)
    detail["env"] = {
        "canary_pre": canary_pre,
        "canary_post": canary_post,
        "canary_scan_path": canary_scan_path,
        "loadavg_pre": [round(x, 2) for x in loadavg_pre],
        "loadavg_post": [round(x, 2) for x in os.getloadavg()],
        "cpu_count": os.cpu_count(),
        "session_startup_sec": session_startup_sec,
        "warmup_sec": warmup_sec,
    }

    # Spreads + slope: side artifact and an EARLY stdout line — never the
    # final line, which must stay within the driver's tail capture.
    # The artifact path is overridable so test/self runs never clobber the
    # driver's committed round artifact (VERDICT r6 #3): pytest points this
    # at tmp_path; only the driver's own bench run writes the default.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    # Role stamp (VERDICT r9 #7): make the artifact pair being compared
    # self-describing. The stamp records PROVENANCE — which path the
    # artifact was written to — not the machine's load profile: a local
    # default-config run on a loaded box still stamps 'driver' (and
    # overwrites BENCH_DETAIL.json — prefer SPARK_GRAFT_BENCH_DETAIL for
    # probes). bench_compare therefore prints each side's recorded
    # loadavg next to the roles; judge load from that, not the role.
    role = "driver" if (not detail_path and sf_val == 0.1) else "self"
    detail["role"] = role
    if not detail_path:
        repo_root = os.path.dirname(os.path.abspath(__file__))
        # The committed repo-root artifact is the DRIVER's sf0.1 round
        # record. A local probe at any other sf (or with a custom dir)
        # must never clobber it — divert to a .local side file instead.
        name = (
            "BENCH_DETAIL.json"
            if sf_val == 0.1
            else "BENCH_DETAIL.local.json"
        )
        detail_path = os.path.join(repo_root, name)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}))

    # FINAL line: compact headline object only (~1.5 KB, the r1-r3 shape
    # the driver parsed successfully three rounds running).
    # "canary" is ~120 bytes — small enough for the tail capture, and it
    # makes the committed BENCH_r{N}.json self-evidencing: divide two
    # rounds' canaries to separate machine drift from plan regressions.
    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "role": role,
        "canary": {
            "pre": canary_pre,
            "post": canary_post,
            "loadavg_1m": round(loadavg_pre[0], 2),
        },
    }))


if __name__ == "__main__":
    main()
