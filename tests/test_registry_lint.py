"""Registry-wide output-contract lint.

The external driver canonicalizes query results through pandas, which
cannot hash list/dict cells: round 5's ``array_set_ops`` returned
``ArrayType`` columns and was recorded as ``err`` (TypeError: unhashable
type 'list') even though the values were correct. The fix stringified the
arrays (``array_join``); this lint keeps the whole class closed — no
registry query may emit ArrayType / MapType / StructType output columns.

Plan-build only (schema resolution, no job execution beyond whatever a
query's builder does eagerly), so the sweep over all ~290 entries stays
cheap at sf0.001.
"""

import pytest
from pyspark.sql import types as T

from iniz_exporters_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


# The full 491-entry sweeps are slow-marked (VERDICT r15 gate budget):
# building every query's frame triggers each builder's eager driver work
# (Lloyd init collects, guard counts, …) — several minutes per sweep.
# The fast path lints the driver-facing surface (headline + this round's
# plan-changed names); the registry-wide sweep runs at round close via
# --runslow. One query builder per entry either way, so the class stays
# closed: a NEW query cannot register without riding _PLAN_CHANGED or
# the rotation window into the fast scope or failing the close sweep.


def _fast_scope():
    import __spark_entry__ as entry

    names = {n for n, s in REGISTRY.items() if s.headline}
    names.update(n for n in entry._PLAN_CHANGED if n in REGISTRY)
    names.update(n for n in entry._WINDOW if n in REGISTRY)
    return names


def _lint_frame(df):
    """(complex-typed output columns, duplicated output column names)."""
    complex_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
    ]
    cols = df.columns
    dupe_cols = sorted({c for c in cols if cols.count(c) > 1})
    return complex_cols, dupe_cols


def _offenders(spark, names):
    """(complex, duplicate) offenders, each name -> columns, over every
    query in ``names`` with one frame build per query."""
    complex_off, dupe_off = {}, {}
    for name in sorted(names):
        bad, dupes = _lint_frame(REGISTRY[name].fn(spark, SF))
        if bad:
            complex_off[name] = bad
        if dupes:
            dupe_off[name] = dupes
    return complex_off, dupe_off


def test_driver_facing_query_outputs_are_canonicalizable(spark):
    """Complex-type AND duplicate-name lint over the driver-facing scope
    in ONE frame-build pass — building each query's frame is the whole
    cost of these lints (~60 s per sweep), so the two driver-facing
    variants share it (r15 gate-budget trim; the registry-wide sweeps
    below still run one pass per lint at round close)."""
    complex_off, dupe_off = _offenders(spark, _fast_scope())
    assert complex_off == {}, (
        "driver-facing queries with pandas-unhashable output columns: "
        f"{complex_off}"
    )
    assert dupe_off == {}, f"duplicate output column names: {dupe_off}"


@pytest.mark.slow
def test_no_query_outputs_complex_types(spark):
    offenders = _offenders(spark, set(REGISTRY))[0]
    assert offenders == {}, (
        "queries with pandas-unhashable (complex-typed) output columns — the "
        f"driver canonicalizer will record them as err: {offenders}"
    )


@pytest.mark.slow
def test_no_query_outputs_duplicate_column_names(spark):
    """Duplicate output names break the sorted-by-name canonicalization."""
    offenders = _offenders(spark, set(REGISTRY))[1]
    assert offenders == {}, f"duplicate output column names: {offenders}"


# ---------------------------------------------------------------------------
# Signed-zero class (round-7 red row cusum_changepoint_q): the driver hashes
# each engine's stringified cells, so a rounded double that lands on IEEE
# -0.0 in one engine and +0.0 in the other diverges despite numeric
# equality. The replica gate (tools/check_queries.py) must (a) distinguish
# the signs in its canonicalizer and (b) lint away -0.0 in either engine's
# output so the class cannot re-enter.
# ---------------------------------------------------------------------------


def test_norm_cell_is_sign_aware():
    from tools.check_queries import norm_cell

    assert norm_cell(0.0) == "0"
    assert norm_cell(-0.0) == "-0"
    assert norm_cell(0.0) != norm_cell(-0.0)
    # nested lists are canonicalized through the same cell path
    assert norm_cell([0.0, -0.0]) == "[0,-0]"


def test_has_negzero_detects_nested():
    from tools.check_queries import has_negzero

    assert has_negzero(-0.0)
    assert not has_negzero(0.0)
    assert not has_negzero(None)
    assert not has_negzero("x")
    assert has_negzero([1.0, [2.0, -0.0]])
    assert not has_negzero([1.0, 2.0])


def test_regressed_cusum_fails_sign_aware_gate(spark):
    """A deliberately-regressed cusum (no ``+ 0.0`` normalization) must
    diverge under the sign-aware canonicalizer: DuckDB's pre-fix oracle
    emits -0.0 on the final day at sf0.01 while Spark emits +0.0."""
    import duckdb

    from tools.check_queries import canon, has_negzero

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    prefix_oracle = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*) AS DECIMAL(18,6)) AS m
        FROM events WHERE event_type = 'error'
        GROUP BY CAST(ts AS DATE)
    ),
    mu AS (
        SELECT day, m,
               CAST(CAST(SUM(m) OVER () AS DOUBLE) / COUNT(*) OVER ()
                    AS DECIMAL(18,6)) AS mu
        FROM daily
    ),
    c AS (SELECT day, SUM(m - mu) OVER (ORDER BY day) AS cusum FROM mu)
    SELECT day, CAST(ROUND(CAST(cusum AS DOUBLE), 4) AS DOUBLE) AS cusum
    FROM c
    """
    res = con.execute(prefix_oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    # the regression is present in the unnormalized oracle ...
    assert any(has_negzero(list(r)) for r in orows)
    # ... and the sign-aware canon sees it differ from the fixed query
    fixed = REGISTRY["cusum_changepoint_q"].fn(spark, sf)
    srows = [(r["day"], r["cusum"]) for r in fixed.collect()]
    assert canon(srows, ["day", "cusum"]) != canon(orows, ocols)
    # the fixed query itself never emits -0.0 in any column
    assert not any(has_negzero(list(r)) for r in fixed.collect())
