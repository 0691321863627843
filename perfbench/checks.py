"""Output checks, run outside the timed region.

* ``concepts_export``: the CSV has one row per non-retired concept, every
  ``Members``/``Answers`` referent comes before its referrer, and the CSV
  digest is the same for every process of a run and for every run of a
  seed.
* ``analytics_pyworker``: the rows of the cold pass equal the rows DuckDB's
  oracle SQL gives on the same parquet files, order-insensitively, with
  cells compared as canonical strings. Two decimal cells that differ by
  one unit in their last place count as equal and are reported as a
  rounding tie: the engine rounds some doubles half-up on their decimal
  form where DuckDB rounds the binary value (DETERMINISM.md), so a value
  that lands exactly on a .5 boundary rounds apart.
"""

from __future__ import annotations

import csv
import datetime
import decimal
import json
import math
import os

import pyarrow.parquet as pq


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return norm_cell(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(rows, cols) -> list[list[str]]:
    """Rows as canonical strings, columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([norm_cell(r[i]) for i in order] for r in rows)


def rounding_tie(a: str, b: str) -> bool:
    """True when ``a`` and ``b`` are decimals one last-place unit apart."""
    if "." not in a + b:
        return False
    try:
        fa, fb = float(a), float(b)
    except ValueError:
        return False
    places = max(len(x.partition(".")[2]) for x in (a, b))
    return abs(fa - fb) <= 10.0 ** -places * (1 + 1e-9)


def rows_match(got: list[list[str]], want: list[list[str]]) -> tuple[
        bool, int]:
    """(equal up to rounding ties, number of tied cells)."""
    if len(got) != len(want):
        return False, 0
    ties = 0
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if a != b:
                if not rounding_tie(a, b):
                    return False, ties
                ties += 1
    return True, ties


def check_oracle(data_dir: str, outputs: dict, oracles: dict,
                 tmp_dir: str) -> tuple[list[str], dict[str, int]]:
    """(problems, rounding ties per query)."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 4})
    try:
        con.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, f)}'")
        problems, ties = [], {}
        for name, sql in oracles.items():
            got = outputs.get(name)
            if got is None:
                problems.append(f"{name}: no output")
                continue
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            want = canon(res.fetchall(), cols)
            if sorted(cols) != sorted(got["columns"]):
                problems.append(f"{name}: columns {got['columns']} != {cols}")
            else:
                same, n_ties = rows_match(got["rows"], want)
                if not same:
                    diff = next((i for i, (a, b) in enumerate(
                        zip(got["rows"], want)) if a != b), None)
                    problems.append(
                        f"{name}: {len(got['rows'])} rows vs oracle "
                        f"{len(want)}, first difference at sorted row {diff}")
                if n_ties:
                    ties[name] = n_ties
        return problems, ties
    finally:
        con.close()


def check_concepts(data_dir: str, outputs: dict, digests: list[str],
                   digest_file: str) -> list[str]:
    if "path" not in outputs or not digests:
        return ["concepts: the export wrote no CSV"]
    problems = []
    concept = pq.read_table(os.path.join(data_dir, "concept.parquet"),
                            columns=["retired"])
    live = concept.num_rows - sum(concept.column("retired").to_pylist())
    with open(outputs["path"], newline="") as f:
        rows = list(csv.DictReader(f))
    if len(rows) != live:
        problems.append(f"concepts: {len(rows)} rows, {live} non-retired")
    key = "Fully specified name:en"
    pos = {r[key]: i for i, r in enumerate(rows)}
    late = 0
    for i, r in enumerate(rows):
        for cell in (r.get("Members", ""), r.get("Answers", "")):
            late += sum(1 for c in cell.split(";") if c and pos.get(c, -1) > i)
    if late:
        problems.append(f"concepts: {late} referents after their referrer")
    if len(set(digests)) != 1:
        problems.append("concepts: CSV digest differs between processes")
    # the digest of a seed must not change between runs of one program
    known = {}
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            known = json.load(f)
    seed_key = os.path.basename(data_dir)
    if known.setdefault(seed_key, digests[0]) != digests[0]:
        problems.append(f"concepts: CSV digest differs from an earlier run "
                        f"of {seed_key}")
    with open(digest_file, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return problems
