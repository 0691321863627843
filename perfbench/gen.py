"""Deterministic input generators for the benchmark.

Two sets of tables, written as one ``<table>.parquet`` per table:

* ``concept_tables`` — a CIEL-like OpenMRS concept dictionary: the 13
  tables ``cli concepts --tables-dir`` reads, with four export locales
  (plus one that is never exported), the reference's 15 default mapping
  sources (PIH split into Number/Name by its code), acyclic set and
  answer trees, retired concepts and terms, and voided names.
* ``documents_table`` — the ``documents`` table the Python-worker registry
  queries read, with the columns, types and value domains of the engine's
  test data.

Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
gives byte-identical parquet files. Run ``python3 perfbench/gen.py
{concepts|documents} SEED OUT_DIR ROWS`` to write one set by hand.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base source names behind the exporter's default 15 mapping columns; the
# exporter splits PIH into "PIH|Number" and "PIH|Name" by code shape.
SOURCES = (
    "PIH", "CIEL", "AMPATH", "ICD-10-WHO", "ICD-10-WHO 2nd", "ICD-11-WHO",
    "Liberia MoH", "LOINC", "org.openmrs.module.emrapi", "PIH Malawi",
    "RxNORM", "SES Lab", "SNOMED CT", "SNOMED UK",
    # present in real dictionaries but not exported by default
    "IMO ProblemIT", "HL-7 CVX",
)
MAP_TYPES = ("SAME-AS", "NARROWER-THAN", "BROADER-THAN", "IS-A",
             "Associated finding")
CLASSES = ("Test", "Procedure", "Drug", "Diagnosis", "Finding", "Symptom",
           "Question", "Misc", "ConvSet", "LabSet", "MedSet", "Program",
           "Anatomy", "Frequency", "Specimen", "Units of Measure")
SET_CLASSES = (8, 9, 10)  # ConvSet, LabSet, MedSet
DATATYPES = ("Numeric", "Coded", "Text", "N/A", "Document", "Date", "Time",
             "Datetime", "Boolean", "Rule", "Structured Numeric", "Complex")
WORDS = ("acute", "chronic", "blood", "serum", "left", "right", "upper",
         "lower", "fever", "pain", "count", "level", "test", "history",
         "screening", "dose", "tablet", "injection", "syndrome", "infection",
         "pressure", "rate", "volume", "status", "result", "culture",
         "antibody", "antigen", "urine", "plasma", "cell", "score")
UNITS = ("mg/dL", "mmol/L", "kg", "cm", "%", "bpm", "mmHg", "g/dL", "IU/L")


def _write(out_dir: str, name: str, cols: dict, schema: dict) -> None:
    table = pa.table(cols, schema=pa.schema(list(schema.items())))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _phrase(rng, n: int, k: int) -> list[str]:
    w = np.array(WORDS)[rng.integers(0, len(WORDS), (n, k))]
    return [" ".join(r) for r in w]


def _tree_edges(rng, parents, pool, rank, lo: int, hi: int):
    """Edges parent -> child with rank[child] < rank[parent], so the graph
    is acyclic whatever the id order; sizes uniform in [lo, hi]."""
    order = pool[np.argsort(rank[pool])]
    src, dst, w = [], [], []
    for p in parents:
        below = np.searchsorted(rank[order], rank[p])
        if below == 0:
            continue
        k = min(int(rng.integers(lo, hi + 1)), below)
        kids = order[rng.choice(below, k, replace=False)]
        src.extend([p] * k)
        dst.extend(kids.tolist())
        w.extend(rng.permutation(k).astype(float).tolist())
    return src, dst, w


def concept_tables(seed: int, out_dir: str, n: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(1, n + 1, dtype=np.int64)
    klass = rng.integers(0, len(CLASSES), n)
    is_set = np.isin(klass, SET_CLASSES).astype(np.int32)
    dtype = np.where(is_set == 1, 3, rng.choice(
        len(DATATYPES), n,
        p=[.18, .14, .12, .40, .02, .03, .01, .02, .03, .01, .02, .02]))
    retired = (rng.random(n) < 0.03).astype(np.int32)
    _write(out_dir, "concept", {
        "concept_id": ids,
        "uuid": [f"{i:08x}-{seed % 65536:04x}-4000-8000-{h:012x}"
                 for i, h in zip(ids, rng.integers(0, 2**47, n))],
        "class_id": klass + 1, "datatype_id": dtype + 1,
        "retired": retired, "is_set": is_set,
    }, {"concept_id": pa.int64(), "uuid": pa.string(),
        "class_id": pa.int64(), "datatype_id": pa.int64(),
        "retired": pa.int32(), "is_set": pa.int32()})
    _write(out_dir, "concept_class", {
        "concept_class_id": np.arange(1, len(CLASSES) + 1, dtype=np.int64),
        "name": list(CLASSES)},
        {"concept_class_id": pa.int64(), "name": pa.string()})
    _write(out_dir, "concept_datatype", {
        "concept_datatype_id": np.arange(1, len(DATATYPES) + 1,
                                         dtype=np.int64),
        "name": list(DATATYPES)},
        {"concept_datatype_id": pa.int64(), "name": pa.string()})

    # names: one live en FSN per concept (the export key, unique by id),
    # other locales and short names sparser, plus voided history rows
    base = _phrase(rng, n, 3)
    nm_cid, nm_name, nm_loc, nm_type, nm_void = [], [], [], [], []

    def add(mask, names, loc, typ, void=0):
        sel = np.flatnonzero(mask)
        nm_cid.extend(ids[sel].tolist())
        nm_name.extend(names[i] for i in sel)
        nm_loc.extend([loc] * len(sel))
        nm_type.extend([typ] * len(sel))
        nm_void.extend([void] * len(sel))

    fsn = [f"{b.capitalize()} {i}" for b, i in zip(base, ids)]
    add(np.ones(n, bool), fsn, "en", "FULLY_SPECIFIED")
    add(rng.random(n) < 0.45, [f"{b[:12].upper()} {i}" for b, i in
                               zip(base, ids)], "en", "SHORT")
    for loc, share in (("es", .6), ("fr", .55), ("ht", .3), ("pt", .2)):
        add(rng.random(n) < share, [f"{b} ({loc}) {i}" for b, i in
                                    zip(base, ids)], loc, "FULLY_SPECIFIED")
        add(rng.random(n) < share / 3, [f"{b[:10]}-{loc}" for b in base],
            loc, "SHORT")
    add(rng.random(n) < 0.04, [f"Old, \"former\" {b}" for b in base], "en",
        "FULLY_SPECIFIED", void=1)
    _write(out_dir, "concept_name", {
        "concept_id": nm_cid, "name": nm_name, "locale": nm_loc,
        "concept_name_type": nm_type, "voided": nm_void},
        {"concept_id": pa.int64(), "name": pa.string(), "locale": pa.string(),
         "concept_name_type": pa.string(), "voided": pa.int32()})

    d_en = rng.random(n) < 0.7
    d_fr = rng.random(n) < 0.2
    desc_words = _phrase(rng, n, 8)
    brk = rng.integers(0, 3, n)
    dc, dd, dl = [], [], []
    for i in np.flatnonzero(d_en):
        sep = ("\n", "\r\n", " ")[brk[i]]
        dc.append(ids[i])
        dd.append(desc_words[i].replace(" ", sep, 1))
        dl.append("en")
    for i in np.flatnonzero(d_fr):
        dc.append(ids[i])
        dd.append("Description " + desc_words[i])
        dl.append("fr")
    _write(out_dir, "concept_description",
           {"concept_id": dc, "description": dd, "locale": dl},
           {"concept_id": pa.int64(), "description": pa.string(),
            "locale": pa.string()})

    num = np.flatnonzero(dtype == 0)
    m = len(num)

    def maybe(vals, share):
        keep = rng.random(m) < share
        return [float(v) if k else None for v, k in zip(vals, keep)]

    hi = np.round(rng.uniform(50, 500, m), 1)
    _write(out_dir, "concept_numeric", {
        "concept_id": ids[num],
        "hi_absolute": maybe(hi * 2, .5), "hi_critical": maybe(hi * 1.5, .2),
        "hi_normal": maybe(hi, .6), "low_absolute": maybe(np.zeros(m), .5),
        "low_critical": maybe(hi * .1, .2), "low_normal": maybe(hi * .3, .6),
        "units": [UNITS[u] if u < len(UNITS) else None
                  for u in rng.integers(0, len(UNITS) + 2, m)],
        "display_precision": rng.integers(0, 3, m).astype(np.int32),
        "allow_decimal": rng.integers(0, 2, m).astype(np.int32)},
        {"concept_id": pa.int64(), "hi_absolute": pa.float64(),
         "hi_critical": pa.float64(), "hi_normal": pa.float64(),
         "low_absolute": pa.float64(), "low_critical": pa.float64(),
         "low_normal": pa.float64(), "units": pa.string(),
         "display_precision": pa.int32(), "allow_decimal": pa.int32()})
    cx = np.flatnonzero(dtype == 11)
    _write(out_dir, "concept_complex", {
        "concept_id": ids[cx],
        "handler": [("ImageHandler", "TextHandler", "BinaryDataHandler")[h]
                    for h in rng.integers(0, 3, len(cx))]},
        {"concept_id": pa.int64(), "handler": pa.string()})

    _write(out_dir, "concept_reference_source", {
        "concept_source_id": np.arange(1, len(SOURCES) + 1, dtype=np.int64),
        "name": list(SOURCES)},
        {"concept_source_id": pa.int64(), "name": pa.string()})
    _write(out_dir, "concept_map_type", {
        "concept_map_type_id": np.arange(1, len(MAP_TYPES) + 1,
                                         dtype=np.int64),
        "name": list(MAP_TYPES)},
        {"concept_map_type_id": pa.int64(), "name": pa.string()})

    # mappings: every concept has a CIEL SAME-AS code; other sources are
    # sparser, some concepts carry two codes of one source, and ~2% of
    # terms are retired
    share = {"PIH": .5, "CIEL": 1.0, "AMPATH": .25, "ICD-10-WHO": .2,
             "ICD-10-WHO 2nd": .03, "ICD-11-WHO": .08, "Liberia MoH": .05,
             "LOINC": .12, "org.openmrs.module.emrapi": .01,
             "PIH Malawi": .1, "RxNORM": .06, "SES Lab": .02,
             "SNOMED CT": .35, "SNOMED UK": .04, "IMO ProblemIT": .1,
             "HL-7 CVX": .01}
    map_cid, map_type, map_term = [], [], []
    t_code, t_src, t_ret = [], [], []
    for s_id, src in enumerate(SOURCES, start=1):
        sel = np.flatnonzero(rng.random(n) < share[src])
        twice = sel[rng.random(len(sel)) < 0.05]
        owners = np.concatenate([sel, twice])
        k = len(owners)
        if src == "CIEL":
            codes = [str(i) for i in ids[sel]] + [
                str(n + j) for j in range(len(twice))]
        elif src == "PIH":
            numeric = rng.random(k) < 0.6
            codes = [str(1000 + c) if is_num else w.upper().replace(" ", "_")
                     for c, is_num, w in zip(ids[owners], numeric,
                                             _phrase(rng, k, 2))]
        elif src.startswith("ICD"):
            codes = [f"{chr(65 + a)}{b:02d}.{c}" for a, b, c in zip(
                rng.integers(0, 26, k), rng.integers(0, 100, k),
                rng.integers(0, 10, k))]
        elif src == "LOINC":
            codes = [f"{a}-{a % 9}" for a in rng.integers(1000, 99999, k)]
        else:
            codes = [str(a) for a in rng.integers(10**5, 10**9, k)]
        first = len(t_code) + 1
        t_code.extend(codes)
        t_src.extend([s_id] * k)
        t_ret.extend((rng.random(k) < 0.02).astype(int).tolist())
        map_cid.extend(ids[owners].tolist())
        map_term.extend(range(first, first + k))
        map_type.extend(rng.choice(len(MAP_TYPES), k,
                                   p=[.8, .08, .07, .03, .02]) + 1)
    _write(out_dir, "concept_reference_term", {
        "concept_reference_term_id": np.arange(1, len(t_code) + 1,
                                               dtype=np.int64),
        "code": t_code, "concept_source_id": t_src, "retired": t_ret},
        {"concept_reference_term_id": pa.int64(), "code": pa.string(),
         "concept_source_id": pa.int64(), "retired": pa.int32()})
    _write(out_dir, "concept_reference_map", {
        "concept_id": map_cid, "concept_map_type_id": map_type,
        "concept_reference_term_id": map_term},
        {"concept_id": pa.int64(), "concept_map_type_id": pa.int64(),
         "concept_reference_term_id": pa.int64()})

    # set and answer trees: a random rank orders every edge, so the graph
    # is acyclic but the exporter's (is_set, concept_id) order is not a
    # topological order and the topo pass has real work
    rank = rng.permutation(n + 1)
    sets = ids[is_set == 1]
    src, dst, w = _tree_edges(rng, sets, ids, rank, 2, 12)
    _write(out_dir, "concept_set",
           {"concept_set": src, "concept_id": dst, "sort_weight": w},
           {"concept_set": pa.int64(), "concept_id": pa.int64(),
            "sort_weight": pa.float64()})
    coded = ids[(dtype == 1) & (is_set == 0)]
    answers = ids[np.isin(klass, (3, 4, 5, 7)) & (is_set == 0)]
    src, dst, w = _tree_edges(rng, coded, answers, rank, 2, 8)
    _write(out_dir, "concept_answer",
           {"concept_id": src, "answer_concept": dst, "sort_weight": w},
           {"concept_id": pa.int64(), "answer_concept": pa.int64(),
            "sort_weight": pa.float64()})


DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window")
LANGS = ("de", "en", "es", "fr", "zh")


def documents_table(seed: int, out_dir: str, n: int) -> None:
    """Random word streams of 10-100 words with a share of exact and near
    duplicates, the case the dedup and similarity queries look for."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(
                vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[.14, .41, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
         "source": pa.string(), "n_chars": pa.int64()})


if __name__ == "__main__":
    kind, seed, out, size = sys.argv[1], int(sys.argv[2]), sys.argv[3], int(
        sys.argv[4])
    t0 = datetime.now()
    (concept_tables if kind == "concepts" else documents_table)(seed, out,
                                                                size)
    print(f"wrote {kind} seed {seed} to {out} in "
          f"{(datetime.now() - t0).total_seconds():.1f} s")
