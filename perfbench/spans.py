"""Python-side spans around the engine's public entry points.

The wrappers are installed at run time from the benchmark's own files; the
engine is not edited. ``pin`` is bound into the engine's modules when they
are imported (``from iniz_exporters_spark.pinning import pin``), so
:func:`install` must run after ``iniz_exporters_spark.pinning`` is imported
and before anything that imports the query registry or the exporters.

Spans are kept in memory per pass label and summed by :meth:`Tracer.layer`.
"""

from __future__ import annotations

import csv
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.pass_label = "setup"
        self.stack: list[str] = []
        # (pass label, span name) -> seconds
        self.spans: dict[tuple[str, str], float] = defaultdict(float)
        self.counts: dict[tuple[str, str], float] = defaultdict(float)

    def add(self, name: str, seconds: float) -> None:
        self.spans[(self.pass_label, name)] += seconds

    def count(self, name: str, n: float) -> None:
        self.counts[(self.pass_label, name)] += n

    def wrap(self, name: str, fn, on_result=None, calls: str | None = None):
        """``fn`` timed as span ``name``; ``calls`` names a call counter;
        ``on_result(args, result)`` may add counts."""
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if calls:
                self.count(calls, 1)
            self.stack.append(name)
            t0 = time.perf_counter()
            try:
                out = fn(*a, **k)
            finally:
                self.add(name, time.perf_counter() - t0)
                self.stack.pop()
            if on_result is not None:
                on_result(a, out)
            return out
        return wrapper

    def layer(self, labels: list[str]) -> dict[str, float]:
        """Per-pass means over the pass labels given."""
        out: dict[str, float] = defaultdict(float)
        for (lab, name), sec in self.spans.items():
            if lab in labels:
                out[name + "_s"] += sec / len(labels)
        for (lab, name), n in self.counts.items():
            if lab in labels:
                out[name] += n / len(labels)
        return dict(out)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries. Call before importing the query
    registry or the exporters (see module docstring)."""
    # the session's frames are the classic (py4j) DataFrame subclass
    from pyspark.sql.classic.dataframe import DataFrame

    import iniz_exporters_spark.pinning as pinning

    pinning.pin = tracer.wrap("pinning.pin", pinning.pin,
                              calls="pinning.pins")

    import iniz_exporters_spark.cli as cli
    import iniz_exporters_spark.exporters.concepts as concepts
    from iniz_exporters_spark.plans import graph

    cli.load_tables = tracer.wrap("cli.load_tables", cli.load_tables)
    concepts.build_concepts_wide = tracer.wrap(
        "exporters.build_wide", concepts.build_concepts_wide)
    concepts.export_concepts = tracer.wrap(
        "exporters.export", concepts.export_concepts)
    graph.get_all_concepts_in_tree = tracer.wrap(
        "graph.tree", graph.get_all_concepts_in_tree)
    graph.detect_cycles_rows = tracer.wrap(
        "graph.cycles", graph.detect_cycles_rows)

    def graph_size(args, _out) -> None:
        rows, key = args[0], args[1]
        edges = graph.edges_from_rows(rows, key)
        tracer.count("graph.nodes", len(rows))
        tracer.count("graph.edges", sum(len(v) for v in edges.values()))

    graph.move_referring_concepts_down = tracer.wrap(
        "graph.topo", graph.move_referring_concepts_down, graph_size)

    collect = DataFrame.collect

    def traced_collect(self):
        if "exporters.export" not in tracer.stack:
            return collect(self)
        t0 = time.perf_counter()
        rows = collect(self)
        tracer.add("exporters.collect", time.perf_counter() - t0)
        tracer.count("exporters.rows_collected", len(rows))
        return rows

    DataFrame.collect = traced_collect

    # the exporter writes its CSV with csv.DictWriter from Python
    class TracedDictWriter(csv.DictWriter):
        def writerows(self, rowdicts):
            t0 = time.perf_counter()
            try:
                return super().writerows(rowdicts)
            finally:
                tracer.add("sink.csv_write", time.perf_counter() - t0)

    csv.DictWriter = TracedDictWriter
