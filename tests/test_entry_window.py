"""Driver-interface contract: the first-50 rotation window.

The external gate hash-checks the FIRST 50 entries of
``__spark_entry__.queries()`` (PERFORMANCE.md §driver-window), so the
window composition is itself a correctness surface: q1 must stay first
(it backs ``entry()``), every window name must resolve to a registered
query with an oracle, and the full registry must round-trip through
``queries()``/``oracle_sql()`` without loss.
"""

import importlib.util
import json
import os

# Relocation-safe paths (same rule as test_registry_growth_cap, per
# ADVICE r13 #2): everything derives from this file's location.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPEC = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
)
ENTRY = importlib.util.module_from_spec(SPEC)
SPEC.loader.exec_module(ENTRY)


def test_window_head_is_flagship():
    assert next(iter(ENTRY.queries())) == "q1_pricing_summary"


def test_window_names_all_registered_with_oracles():
    from iniz_exporters_spark.queries import REGISTRY

    missing = [n for n in ENTRY._WINDOW if n not in REGISTRY]
    assert missing == [], f"window names not in REGISTRY: {missing}"
    osql = ENTRY.oracle_sql()
    window = list(ENTRY.queries())[:50]
    assert len(window) == 50
    no_oracle = [n for n in window if n not in osql]
    assert no_oracle == [], f"window names without oracle: {no_oracle}"


def test_window_targets_never_driver_checked_queries():
    """Rotation only helps if the window actually reaches queries with no
    prior GREEN driver row — pin against every recorded correctness file.
    Rows that errored (r5's array_set_ops canonicalizer TypeError) do not
    count as checked and may legitimately re-enter the window."""
    import glob

    prev: set = set()
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if isinstance(row, dict) and not row.get("hash_match"):
                continue  # err / mismatch row: never verified
            prev.add(name)
    if not prev:
        return
    # Only the explicit rotation list is asserted: once fewer than 49 names
    # remain unchecked (the r8 closing batch is 42), the tail of the first-50
    # slice legitimately re-covers already-green registry-order names.
    already = [n for n in ENTRY._WINDOW if n in prev]
    assert already == [], (
        f"[EXIT:ROTATION_DUE] window wastes slots on driver-checked names: "
        f"{already}. "
        "REMEDY (the post-drain round-open convention, PERFORMANCE.md "
        "'\u00a7driver-window — r13 plan'): seat an EMPTY rotation — set "
        "_WINDOW = [] (frozen registry) in __spark_entry__.py; "
        "_reseat_names() derives "
        "every remaining first-50 slot from the committed "
        "CORRECTNESS_r*.json artifacts — plan-changed names first "
        "(extend _PLAN_CHANGED with the round's edits), then "
        "oldest-green-first. Then re-run."
    )


def test_registry_round_trips_completely():
    from iniz_exporters_spark.queries import REGISTRY

    assert set(ENTRY.queries()) == set(REGISTRY)
    assert set(ENTRY.oracle_sql()) == {
        n for n, s in REGISTRY.items() if s.oracle is not None
    }
