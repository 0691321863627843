"""Concepts exporter — the reference's primary pipeline, Spark-first.

Reference: concept_csv_export.py (760 LoC of SQL templating + in-memory
Python). Key restructurings (identical declared semantics, different
dataflow — SURVEY §2 J3/J6 notes):

  * The reference's ~60-relation single statement (45 generated mapping
    subquery joins + 2×|locales| name joins + member/answer chains, all
    collapsed by one GROUP BY with MAX() de-dup) becomes **per-facet
    pre-aggregations joined on concept_id**: one mappings pivot, one names
    pivot, one members roll-up, one answers roll-up. No row fan-out is ever
    produced, so no MAX() wrapper is needed — each facet contributes ≤1 row
    per concept by construction. At 100 TB-equivalent scale this is the
    difference between shuffling |concept|×45 joined rows and shuffling each
    facet once.
  * The PIH|Name / PIH|Number cast discriminator (reference
    concept_csv_export.py:299-306) is a broadcast spec-table join + the
    mysql_cast_unsigned shim, not 45 filtered subqueries.
  * The whole wide frame is collected to the driver, and the graph passes
    (tree filter, cycle check, topo order) order those rows there via
    plans/graph.py before the CSV write. A concept dictionary is metadata
    scale: at 8,000 concepts a repeat collect of the executed frame takes
    under a second and the graph passes plus the CSV write 0.17 s, so the
    export's cost is its Spark jobs, not the row transfer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iniz_exporters_spark.functions.mysql import (
    mysql_cast_unsigned,
    mysql_group_concat,
    strip_newlines,
)
from iniz_exporters_spark.plans import graph
from iniz_exporters_spark.session import metadata_df

NAME_TYPE_INIZ_NAMES = {"full": "Fully specified name", "short": "Short name"}
NAME_TYPE_SQL_NAMES = {"full": "FULLY_SPECIFIED", "short": "SHORT"}

DEFAULT_MAPPING_TYPES = ["SAME-AS", "NARROWER-THAN", "BROADER-THAN"]
DEFAULT_CONCEPT_SOURCES = [
    "PIH|Name", "PIH|Number", "CIEL", "AMPATH", "ICD-10-WHO", "ICD-10-WHO 2nd",
    "ICD-11-WHO", "Liberia MoH", "LOINC", "org.openmrs.module.emrapi",
    "PIH Malawi", "RxNORM", "SES Lab", "SNOMED CT", "SNOMED UK",
]


def _version_tuple(v: str) -> tuple[int, ...]:
    return tuple(int(p) for p in v.split(".") if p.isdigit())


@dataclass
class ConceptExportConfig:
    locales: list[str] = field(default_factory=lambda: ["en"])
    default_locale: str = "en"
    name_types: list[str] = field(default_factory=lambda: ["full", "short"])
    mapping_types: list[str] = field(default_factory=lambda: list(DEFAULT_MAPPING_TYPES))
    concept_sources: list[str] = field(
        default_factory=lambda: list(DEFAULT_CONCEPT_SOURCES)
    )
    version: str = "2.3"
    set_name: str | None = None  # export only this set's tree (G1)
    exclude_keys: list[str] = field(default_factory=list)  # P6 anti-join
    concept_key_mapping: str | None = None  # G4 key indirection
    limit: int | None = None

    @property
    def key(self) -> str:
        # reference get_key(), concept_csv_export.py:599-604
        if self.concept_key_mapping:
            return "_mapping:" + self.concept_key_mapping
        return "Fully specified name:" + self.default_locale

    def name_column_headers(self) -> list[str]:
        # reference name_column_headers, concept_csv_export.py:632-637
        return [
            f"{NAME_TYPE_INIZ_NAMES[nt]}:{l}"
            for l in self.locales
            for nt in self.name_types
        ]


def _mappings_facet(
    spark: SparkSession, t: dict[str, DataFrame], cfg: ConceptExportConfig
) -> DataFrame:
    """One row per concept: `Mappings|<type>|<source>` pivot columns.

    Replaces the reference's 45 generated LEFT JOIN subqueries
    (concept_csv_export.py:297-314) with one join + one pivot. Source specs
    of the form ``NAME|Number`` / ``NAME|Name`` split one source's terms by
    the MySQL unsigned-cast discriminator.
    """
    specs = []  # (spec, source_name, discriminator)
    for cs in cfg.concept_sources:
        base, _, dtype = cs.partition("|")
        specs.append((cs, base, dtype or None))
    spec_df = F.broadcast(
        metadata_df(spark,
            specs, "spec string, source_name string, dtype string"
        )
    )

    mapped = (
        t["concept_reference_map"].alias("crm")
        .join(
            F.broadcast(t["concept_map_type"]).alias("mt"),
            F.col("crm.concept_map_type_id") == F.col("mt.concept_map_type_id"),
        )
        .join(
            t["concept_reference_term"].alias("crt"),
            (F.col("crm.concept_reference_term_id")
             == F.col("crt.concept_reference_term_id"))
            & (F.col("crt.retired") == 0),
        )
        .join(
            F.broadcast(t["concept_reference_source"]).alias("src"),
            F.col("crt.concept_source_id") == F.col("src.concept_source_id"),
        )
        .join(spec_df, F.col("src.name") == F.col("source_name"))
        .filter(
            F.col("dtype").isNull()
            | ((F.col("dtype") == "Number") & (mysql_cast_unsigned(F.col("crt.code")) != 0))
            | ((F.col("dtype") == "Name") & (mysql_cast_unsigned(F.col("crt.code")) == 0))
        )
        .filter(F.col("mt.name").isin(cfg.mapping_types))
        .select(
            F.col("crm.concept_id").alias("concept_id"),
            F.concat_ws("|", F.lit("Mappings"), F.col("mt.name"), F.col("spec")).alias(
                "map_col"
            ),
            F.col("crt.code").alias("code"),
        )
    )
    declared = [
        f"Mappings|{mt}|{cs}"
        for cs in cfg.concept_sources
        for mt in cfg.mapping_types
    ]
    return (
        mapped.groupBy("concept_id")
        .pivot("map_col", declared)
        .agg(mysql_group_concat(F.col("code"), sep=";"))
    )


def _names_facet(t: dict[str, DataFrame], cfg: ConceptExportConfig) -> DataFrame:
    """One row per concept: `<Name type>:<locale>` pivot columns.

    Replaces 2×|locales| per-(locale, name_type) LEFT JOINs
    (concept_csv_export.py:270-284) with one filtered pivot; MAX() keeps the
    reference's de-dup rule when several names share a (locale, type).
    """
    cn = t["concept_name"]
    sql_to_iniz = {
        NAME_TYPE_SQL_NAMES[nt]: NAME_TYPE_INIZ_NAMES[nt] for nt in cfg.name_types
    }
    mapping_expr = F.create_map(
        *[x for k, v in sql_to_iniz.items() for x in (F.lit(k), F.lit(v))]
    )
    filtered = cn.filter(
        (F.col("voided") == 0)
        & F.col("locale").isin(cfg.locales)
        & F.col("concept_name_type").isin(list(sql_to_iniz))
    ).select(
        "concept_id",
        F.concat_ws(
            ":", mapping_expr[F.col("concept_name_type")], F.col("locale")
        ).alias("name_col"),
        "name",
    )
    return (
        filtered.groupBy("concept_id")
        .pivot("name_col", cfg.name_column_headers())
        .agg(F.max("name"))
    )


def _edge_rollup(
    edge: DataFrame,
    t: dict[str, DataFrame],
    cfg: ConceptExportConfig,
    parent_col: str,
    child_col: str,
    out_name: str,
) -> DataFrame:
    """Members/Answers roll-up: edge table → per-concept ';'-joined child
    FSNs ordered by sort_weight (reference concept_csv_export.py:348-349,
    365-376). Chained left joins filter retired children and voided names."""
    child = t["concept"].alias("child")
    name = t["concept_name"].alias("nm")
    return (
        edge.alias("e")
        .join(
            child,
            (F.col(f"e.{child_col}") == F.col("child.concept_id"))
            & (F.col("child.retired") == 0),
        )
        .join(
            name,
            (F.col("child.concept_id") == F.col("nm.concept_id"))
            & (F.col("nm.locale") == cfg.default_locale)
            & (F.col("nm.concept_name_type") == "FULLY_SPECIFIED")
            & (F.col("nm.voided") == 0),
        )
        .groupBy(F.col(f"e.{parent_col}").alias("concept_id"))
        .agg(
            mysql_group_concat(F.col("nm.name"), F.col("e.sort_weight"), ";").alias(
                out_name
            )
        )
    )


def build_concepts_wide(
    spark: SparkSession, t: dict[str, DataFrame], cfg: ConceptExportConfig
) -> DataFrame:
    """The wide concepts DataFrame (pre-graph-passes), one row per
    non-retired concept — reference get_sql_code's result set
    (concept_csv_export.py:256-389)."""
    v = _version_tuple(cfg.version)

    base = (
        t["concept"].alias("c")
        .filter(F.col("c.retired") == 0)
        .join(
            F.broadcast(t["concept_class"]).alias("cl"),
            F.col("c.class_id") == F.col("cl.concept_class_id"),
        )
        .join(
            F.broadcast(t["concept_datatype"]).alias("dt"),
            F.col("c.datatype_id") == F.col("dt.concept_datatype_id"),
        )
        .select(
            F.col("c.concept_id").alias("concept_id"),
            F.col("c.uuid").alias("uuid"),
            F.col("c.is_set").alias("is_set"),
            F.col("cl.name").alias("Data class"),
            F.col("dt.name").alias("Data type"),
        )
    )

    desc = (
        t["concept_description"]
        .filter(F.col("locale") == cfg.default_locale)
        .groupBy("concept_id")
        .agg(
            F.max(strip_newlines(F.col("description"))).alias(
                "Description:" + cfg.default_locale
            )
        )
    )

    numeric_cols = [
        ("hi_absolute", "Absolute high"),
        ("hi_critical", "Critical high"),
        ("hi_normal", "Normal high"),
        ("low_absolute", "Absolute low"),
        ("low_critical", "Critical low"),
        ("low_normal", "Normal low"),
        ("units", "Units"),
    ]
    if v >= (1, 11):
        numeric_cols.append(("display_precision", "Display precision"))
        allow_col = "allow_decimal" if v >= (2, 2) else "precise"
        numeric_cols.append((allow_col, "Allow decimals"))
    c_num = t["concept_numeric"].select(
        "concept_id", *[F.col(src).alias(dst) for src, dst in numeric_cols]
    )

    c_cx = t["concept_complex"].select(
        "concept_id", F.col("handler").alias("Complex data handler")
    )

    members = _edge_rollup(
        t["concept_set"].select(
            F.col("concept_set").alias("parent_id"),
            F.col("concept_id").alias("child_id"),
            "sort_weight",
        ),
        t, cfg, "parent_id", "child_id", "Members",
    )
    answers = _edge_rollup(
        t["concept_answer"].select(
            F.col("concept_id").alias("parent_id"),
            F.col("answer_concept").alias("child_id"),
            "sort_weight",
        ),
        t, cfg, "parent_id", "child_id", "Answers",
    )

    wide = (
        base.join(desc, "concept_id", "left")
        .join(_mappings_facet(spark, t, cfg), "concept_id", "left")
        .join(_names_facet(t, cfg), "concept_id", "left")
        .join(c_num, "concept_id", "left")
        .join(c_cx, "concept_id", "left")
        .join(members, "concept_id", "left")
        .join(answers, "concept_id", "left")
        .withColumn("Void/Retire", F.lit(None).cast("string"))
        # reference ORDER BY c.is_set (pre-topo pass). concept_id tiebreak
        # added: is_set alone is not a total order, so row order would
        # otherwise depend on source partitioning (parquet vs JDBC gave
        # different — both "valid" — exports). Deterministic output is a
        # hard requirement for a reproducible 100 TB pipeline.
        .orderBy("is_set", "concept_id")
    )
    if cfg.limit is not None:
        wide = wide.limit(cfg.limit)
    return wide


def _finalize_columns(cfg: ConceptExportConfig, rows: list[dict]) -> list[str]:
    """reference get_columns (concept_csv_export.py:607-629): fixed prefix +
    discovered remainder; drop all-empty columns except Void/Retire; hide
    _mapping* internals."""
    initial = (
        ["uuid", "Void/Retire"]
        + cfg.name_column_headers()
        + ["Description:" + cfg.default_locale, "Data class", "Data type",
           "Answers", "Members"]
    )
    other = [
        k
        for k in rows[0].keys()
        if k not in initial and not k.startswith("_mapping")
        and k not in ("concept_id", "is_set")
    ]
    all_keys = initial + other
    # Only None/'' count as empty (matching operators/pruning.nonempty_flags):
    # the reference sees TSV strings where '0' is truthy, so a column whose
    # only populated values are numeric zero (e.g. 'Absolute low' 0.0) must
    # survive pruning here too.
    return [
        k
        for k in all_keys
        if k == "Void/Retire"
        or any(r.get(k) not in (None, "") for r in rows)
    ]


def export_concepts(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    cfg: ConceptExportConfig | None = None,
    outfile: str | None = None,
) -> tuple[list[str], list[dict]]:
    """Full pipeline: wide query → key mapping → tree filter → cycle check →
    topo order → exclude → column pruning (reference main(),
    concept_csv_export.py:124-190). Returns (columns, ordered rows); writes
    the Initializer CSV when ``outfile`` is given."""
    cfg = cfg or ConceptExportConfig()
    wide = build_concepts_wide(spark, tables, cfg)

    # The graph passes + final CSV operate on the collected result —
    # concept dictionaries are metadata-scale (reference header comment,
    # concept_csv_export.py:3-5). For data-scale graphs use
    # plans.graph.distributed_* and join the rank back instead.
    rows = [r.asDict() for r in wide.collect()]
    for r in rows:
        for k, val in r.items():
            if val is None:
                r[k] = ""  # reference NULL→"" (concept_csv_export.py:577)

    key = cfg.key
    if cfg.concept_key_mapping:
        # reference append_key_mapping (concept_csv_export.py:392-404)
        src_col = "Mappings|SAME-AS|" + cfg.concept_key_mapping
        for r in rows:
            first = str(r.get(src_col, "")).split(";")[0]
            if not first:
                raise IndexError(
                    "The following concept does not have a non-retired mapping "
                    f"for source '{cfg.concept_key_mapping}': {r}"
                )
            r[key] = first

    if cfg.set_name:
        rows = graph.get_all_concepts_in_tree(rows, cfg.set_name, key)
    graph.detect_cycles_rows(rows, key)
    rows = graph.move_referring_concepts_down(rows, key)
    if cfg.exclude_keys:
        rows = graph.exclude(rows, cfg.exclude_keys, key=key)

    columns = _finalize_columns(cfg, rows)
    out_rows = [
        {k: (r.get(k, "") if k != "Void/Retire" else None) for k in columns}
        for r in rows
    ]
    if outfile:
        import csv

        with open(outfile, "w", newline="") as f:
            w = csv.DictWriter(f, columns)
            w.writeheader()
            w.writerows(out_rows)
    return columns, out_rows
