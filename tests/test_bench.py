"""bench.py contract: the driver tail-captures stdout and parses the
FINAL line as JSON — round 4 lost its BENCH artifact when that line grew
to ~10 KB (runs+slope inlined) and got truncated. The contract is now:
final line = compact headline object (< 2 KB), spreads/slope on an
earlier stdout line and in BENCH_DETAIL.json."""

import json
import os
import subprocess
import sys

import pytest


# slow (VERDICT r15 gate budget): a full bench.py subprocess — 35-query
# warmup + timed passes + slope radar at sf0.001 — is minutes even idle
# and was the single largest sink in the default pytest path. The driver
# itself exercises this exact contract every round; the subprocess test
# runs at round close via --runslow.
@pytest.mark.slow
def test_bench_emits_one_json_line_with_all_headline_queries(tmp_path):
    from iniz_exporters_spark.queries import REGISTRY

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    committed = os.path.join(repo_root, "BENCH_DETAIL.json")
    with open(committed, "rb") as f:
        committed_before = f.read()
    mtime_before = os.stat(committed).st_mtime_ns

    detail_path = tmp_path / "BENCH_DETAIL.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="2",
        # never clobber the driver's committed round artifact at the repo
        # root (VERDICT r6 #3) — write the side artifact into tmp_path
        SPARK_GRAFT_BENCH_DETAIL=str(detail_path),
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo_root,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]

    # the redirect regression check lives in THIS test so it cannot pass
    # vacuously under -k selection or reordering (ADVICE r7): the driver's
    # committed round artifact must be byte-identical after the run
    assert os.stat(committed).st_mtime_ns == mtime_before
    with open(committed, "rb") as f:
        assert f.read() == committed_before
    json_lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith("{")
    ]
    assert len(json_lines) == 2, out.stdout[-2000:]
    # FINAL line: the driver's parse target — compact headline object,
    # small enough to survive the driver's ~2.3 KB tail capture
    payload = json.loads(json_lines[-1])
    assert len(json_lines[-1]) < 2048
    assert payload["metric"] == "headline_query_wall_seconds"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    headline = {n for n, s in REGISTRY.items() if s.headline}
    assert set(payload["queries"]) == headline
    assert payload["value"] > 0
    assert abs(sum(payload["queries"].values()) - payload["value"]) < 0.01
    assert "runs" not in payload and "slope" not in payload
    # environment canary (VERDICT r8 #2): two fixed probes bracket the
    # suite and ride the final line, so the committed BENCH_r{N}.json is
    # self-evidencing about machine speed — a uniform query shift that
    # tracks the canary ratio is the sandbox, not a plan regression
    for side in ("pre", "post"):
        probes = payload["canary"][side]
        assert probes["jvm_range_sec"] > 0
        assert probes["parquet_scan_sec"] > 0
    assert payload["canary"]["loadavg_1m"] >= 0
    # medians-of-N contract: raw runs on the EARLIER detail line and in
    # the BENCH_DETAIL.json side artifact, median is the reported time
    import statistics

    detail = json.loads(json_lines[0])["detail"]
    assert set(detail["runs"]) == headline
    assert set(detail["spread_pct"]) == headline
    # noise-floor contract (VERDICT r7 #4): best-of-N next to the median,
    # and a list of queries whose spread stayed over threshold — their
    # round-over-round deltas are noise, not signal
    assert set(detail["best"]) == headline
    for name, best in detail["best"].items():
        assert best == min(detail["runs"][name])
    assert detail["noisy"] == sorted(
        n for n, pct in detail["spread_pct"].items() if pct > 25.0
    )
    for name, rs in detail["runs"].items():
        # adaptive variance control: base runs, plus up to max_runs total
        # extra passes for queries whose spread exceeded the threshold
        assert 2 <= len(rs) <= 5
        assert payload["queries"][name] == round(statistics.median(rs), 3)
        med = statistics.median(rs)
        assert detail["spread_pct"][name] == round(
            100 * (max(rs) - min(rs)) / med, 1
        )
        # a query that got extra passes must have needed them: its spread
        # was over threshold at some prefix of the run list
        if len(rs) > 2:
            assert any(
                (max(rs[:k]) - min(rs[:k])) / statistics.median(rs[:k])
                > 0.25
                for k in range(2, len(rs))
            )
    # full environment fingerprint in the side artifact
    env_block = detail["env"]
    assert env_block["canary_pre"] == payload["canary"]["pre"]
    assert env_block["canary_post"] == payload["canary"]["post"]
    assert len(env_block["loadavg_pre"]) == 3
    assert len(env_block["loadavg_post"]) == 3
    assert env_block["cpu_count"] >= 1
    assert env_block["warmup_sec"] > 0
    assert env_block["session_startup_sec"] > 0
    with open(detail_path) as f:
        assert json.load(f)["runs"] == detail["runs"]


def test_committed_bench_detail_is_a_driver_artifact():
    """The committed BENCH_DETAIL.json at the repo root must stay the
    driver's sf0.1 round artifact (never a local sf0.001 test run). The
    across-subprocess protection lives inside the bench-run test above;
    this is a static sanity check on the committed file itself."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, "BENCH_DETAIL.json")) as f:
        assert json.load(f)["sf"] == 0.1


def test_every_oracle_parses_with_no_hugeint_columns():
    """Fast regression guard (DuckDB only, no Spark): every registered
    oracle must DESCRIBE cleanly against the test tables, and no output
    column may be HUGEINT — DuckDB widens integer SUMs to int128 while
    Spark stays BIGINT, and the driver's normalizer hash-diverges on that
    (the r01 pivot_static failure class)."""
    import duckdb

    from iniz_exporters_spark.catalog import TESTDATA_TABLES
    from iniz_exporters_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    problems = []
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is None:
            continue
        try:
            desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: DESCRIBE failed: {e}")
            continue
        for col, ty, *_ in desc:
            if "HUGEINT" in ty.upper():
                problems.append(f"{name}: {col} is {ty}")
    assert not problems, problems
