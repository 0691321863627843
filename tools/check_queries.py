"""Local replica of the driver's correctness gate.

Runs every REGISTRY entry on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted by their stringified tuple).

Usage: python tools/check_queries.py [sf_dir] [query ...]

When a query FAILS here, consult DETERMINISM.md at the repo root — the
rule-by-rule playbook of every cross-engine divergence class hit so far
(decimal widths, float bin keys, signed zero, HUGEINT, libm, iteration
schedules, NULL-skip, epoch flooring, ties) and the new-operator
checklist.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from iniz_exporters_spark.catalog import TESTDATA_TABLES
from iniz_exporters_spark.queries import REGISTRY
from iniz_exporters_spark.session import get_spark


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Sign-aware: -0.0 must NOT collapse to "0" — the driver hashes the
        # engines' stringified cells, where Spark's +0.0 and DuckDB's -0.0
        # differ (r7 red row cusum_changepoint_q). Keep the replica at least
        # as strict as the driver for signed zero.
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def has_negzero(v) -> bool:
    """True if the value (or any nested element) is IEEE -0.0.

    Lint hook: the sign of a zero is not semantically meaningful, flips with
    the engine's rounding path (Spark's BigDecimal ROUND emits +0.0 where
    DuckDB emits -0.0), and diverges under the driver's string-hash. Queries
    must normalize (``+ 0.0``) so neither engine ever emits one.
    """
    if isinstance(v, float):
        return v == 0.0 and math.copysign(1.0, v) < 0
    if isinstance(v, (list, tuple)):
        return any(has_negzero(x) for x in v)
    return False


def check(spark, sf_dir: str, only=None, quiet: bool = False) -> tuple[int, list[str]]:
    """Run the registry (or ``only`` names) against DuckDB at ``sf_dir``.

    Returns (checked_count, failures). ``quiet`` suppresses per-query PASS
    lines (failures always print) — used by tools/full_sweep.py, the
    standing three-scale close gate (VERDICT r12 #3). DuckDB spills to a
    temp dir that is removed afterwards, never to ``./.tmp`` in the cwd.
    """
    tmp_dir = tempfile.mkdtemp(prefix="check-queries-duckdb-")
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    try:
        return _check(con, spark, sf_dir, set(only or ()), quiet)
    finally:
        con.close()
        shutil.rmtree(tmp_dir, ignore_errors=True)


def _check(con, spark, sf_dir: str, only: set, quiet: bool) -> tuple[int, list[str]]:
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    checked = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if spec.oracle is None:
            if any(has_negzero(list(r)) for r in srows):
                print(f"FAIL  {name}: lint: -0.0 cell in Spark output")
                failures.append(name)
            elif not quiet:
                print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if any(has_negzero(list(r)) for r in srows):
            problems.append("lint: -0.0 cell in Spark output (normalize with + 0.0)")
        if any(has_negzero(list(r)) for r in orows):
            problems.append("lint: -0.0 cell in oracle output (normalize with + 0.0)")
        if not problems:
            a, b = canon(srows, scols), canon(orows, ocols)
            if a != b:
                for i, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        problems.append(f"first diff row {i}: spark={x} oracle={y}")
                        break
                else:
                    problems.append("value diff (length mismatch after canon)")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        elif not quiet:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    return checked, failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("check-queries")
    _, failures = check(spark, sf_dir, only=sys.argv[2:])
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
