"""Single-file ordered CSV sink (SURVEY §2.1 S4).

The Initializer-CSV contract is: one file, header row, caller-specified
column order, NULL rendered as the empty string (reference
concept_csv_export.py:183-190, location_csv_export.py:98-102).

A distributed engine writes one file per partition, so this helper keeps the
plan distributed through the final sort and only merges at the very end:
``write_single_csv`` uses ``coalesce(1)`` for metadata-scale exports (the
reference's regime); ``write_merged_csv`` streams range-ordered part files
into one file for data-scale outputs.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def write_single_csv(
    df: DataFrame,
    path: str,
    columns: list[str] | None = None,
) -> None:
    if columns:
        df = df.select(*[f"`{c}`" for c in columns])
    # NULL→"" policy: emptyValue/nullValue write empty strings, matching the
    # reference's NULL collapse (concept_csv_export.py:577) without its
    # literal-"NULL" corruption bug.
    tmp = tempfile.mkdtemp(prefix="iniz_csv_")
    try:
        df.coalesce(1).write.option("header", True).option("nullValue", "").option(
            "emptyValue", ""
        ).mode("overwrite").csv(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.csv"))
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_merged_csv(
    df: DataFrame,
    path: str,
    order_by: list[str],
    columns: list[str] | None = None,
    partitions: int | None = None,
) -> None:
    """Data-scale ordered single-file export (SURVEY §7.3 watch-list #4's
    "streamed part-merge at scale" alternative to ``coalesce(1)``).

    Global order comes from ``repartitionByRange(order_by)`` +
    ``sortWithinPartitions`` — a range exchange plus partition-local sorts,
    never a one-task global sort — and part files, whose lexicographic
    names follow the range order, are streamed into one file under a
    single header. Driver cost is sequential byte copying with constant
    memory; the cluster never executes a 1-partition stage. Ties across a
    range boundary stay in one partition (range partitioning is
    key-complete), so any total ``order_by`` reproduces ``orderBy`` bytes
    exactly. Same header/NULL→"" policy as ``write_single_csv``.
    """
    import csv as _csv
    import io

    if columns:
        df = df.select(*[f"`{c}`" for c in columns])
    keyed = df.repartitionByRange(
        *([partitions] if partitions else []), *order_by
    ).sortWithinPartitions(*order_by)
    tmp = tempfile.mkdtemp(prefix="iniz_csv_merge_")
    try:
        keyed.write.option("header", False).option("nullValue", "").option(
            "emptyValue", ""
        ).mode("overwrite").csv(tmp)
        # Numeric sort on the part index: %05d overflows to 6 digits past
        # 99,999 partitions, where "part-100000" sorts lexicographically
        # before "part-99999" and would break the merged global order.
        parts = sorted(
            glob.glob(os.path.join(tmp, "part-*.csv")),
            key=lambda p: int(os.path.basename(p).split("-")[1]),
        )
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        buf = io.StringIO()
        _csv.writer(buf, lineterminator="\n").writerow(df.columns)
        with open(path, "wb") as out:
            out.write(buf.getvalue().encode("utf-8"))
            for p in parts:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
