"""Concept-set CSV creator (reference util/src/concept_set_csv_creator.py).

Pure reshape: row 0 of a concepts CSV defines the set; every following row
becomes a membership row with a positional Sort Weight. Row order is the
semantic input (SURVEY §2.5 near-miss), so the transform is a plain
row-list function over the file's rows, read on the driver.
"""

from __future__ import annotations

import csv


def concept_set_rows(concepts: list[dict]) -> tuple[list[str], list[dict]]:
    """R4 reshape on ordered rows (reference concept_set_csv_creator.py:40-77)."""
    if not concepts:
        raise ValueError("input CSV has no rows")
    set_uuid = concepts[0]["uuid"]
    names = [k for k in concepts[0] if "Fully specified name:" in k]
    fieldnames = (
        ["Concept", "Member"]
        + ["#" + n for n in names]
        + ["Member Type", "Sort Weight", "Void/Retire"]
    )
    out = []
    for idx, c in enumerate(concepts[1:]):
        row = {
            "Concept": set_uuid,
            "Member": c["uuid"],
            "Member Type": "CONCEPT-SET",
            "Sort Weight": idx + 1,
            "Void/Retire": c.get("Void/Retire"),
        }
        for n in names:
            row["#" + n] = c[n]
        out.append(row)
    return fieldnames, out


def concept_set_csv(infile: str, outfile: str) -> None:
    """File-to-file CLI behavior, byte-compatible with the reference."""
    with open(infile) as f:
        concepts = list(csv.DictReader(f, dialect="excel"))
    fieldnames, rows = concept_set_rows(concepts)
    with open(outfile, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=fieldnames)
        w.writeheader()
        w.writerows(rows)
