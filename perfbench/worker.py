"""One fresh driver process of a benchmark run (started by run.py).

Usage: python3 perfbench/worker.py WORKLOAD DATA_DIR TRACE OUT_JSON

In one driver process and one Spark session it does what a one-shot user
of the engine pays for:

1. setup: import the engine and build a ``get_spark`` session (timed);
2. cold pass: the first pass in that session (timed). Its output is kept
   for the output checks: the export's CSV, or the analytics queries'
   collected rows.

run.py takes medians over several such processes.

Outside a traced run the process exits without stopping Spark; run.py
kills and reaps the whole process group, which is faster than a clean stop
and leaves nothing behind.

The pass tags its Spark jobs with the job group ``cold`` so the event log
of a traced run can be cut to it. The process writes its record to
OUT_JSON; run.py reads it, checks outputs and prints the result.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

T_START = time.perf_counter()

# MapInPandas / FlatMapGroupsInPandas nodes and eager pins
PYWORKER_QUERIES = ["minhash_signatures", "phash_neardup",
                    "ngram_jaccard_pairs"]
LOCALES = "en,es,fr,ht"

_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of ``root`` and every live descendant, including
    their reaped children (the JVM and its Python workers)."""
    parent, stat = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        stat[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    while todo:
        p = todo.pop()
        total += stat.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total / _CLK


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def main() -> int:
    workload, data, trace, out_json = sys.argv[1:5]
    trace = trace == "1"
    tmp = os.path.dirname(os.path.abspath(out_json))
    tracer = None
    if trace:
        from spans import Tracer, install

        tracer = Tracer()
        install(tracer)
    from iniz_exporters_spark.session import get_spark

    if workload == "concepts_export":
        from iniz_exporters_spark import cli
    else:
        from iniz_exporters_spark.queries import REGISTRY
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    from checks import canon

    rec: dict = {
        "setup_s": t1 - T_START, "get_spark_s": t1 - t0,
        "conf": {k: spark.conf.get(k) for k in (
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "spark.driver.memory", "spark.sql.execution.arrow.pyspark.enabled",
        )},
        "spark_version": spark.version,
        "attempted": 0, "failed": 0, "errors": [],
    }
    sc = spark.sparkContext
    me = os.getpid()

    label = "cold"
    sc.setJobGroup(label, label)
    if tracer is not None:
        tracer.pass_label = label
    outputs: dict = {}
    reset_peak_rss()
    c0, w0 = tree_cpu_s(me), time.time()
    t0 = time.perf_counter()
    if workload == "concepts_export":
        rec["attempted"] += 1
        path = os.path.join(tmp, "concepts.csv")
        try:
            cli.concepts_main([
                "perfbench", "--tables-dir", data, "-l", LOCALES, "-o", path,
            ])
            with open(path, "rb") as f:
                outputs["digest"] = hashlib.sha256(f.read()).hexdigest()
            outputs["path"] = path
            if tracer is not None:
                tracer.count("sink.csv_bytes", os.path.getsize(path))
        except Exception as e:  # recorded as a failed operation
            rec["failed"] += 1
            rec["errors"].append(f"{label}: {type(e).__name__}: {e}")
    else:
        for name in PYWORKER_QUERIES:
            rec["attempted"] += 1
            try:
                q0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, data)
                q1 = time.perf_counter()
                outputs[name] = (df.columns, df.collect())
                if tracer is not None:
                    tracer.add("queries.build", q1 - q0)
                    tracer.add("queries.exec", time.perf_counter() - q1)
            except Exception as e:  # recorded as a failed operation
                rec["failed"] += 1
                rec["errors"].append(
                    f"{label}/{name}: {type(e).__name__}: {e}")
    rec["cold_s"] = time.perf_counter() - t0
    rec["cpu_s"] = tree_cpu_s(me) - c0
    rec["py_peak_mb"] = peak_rss_mb()
    rec["passes"] = [{"label": label, "wall_s": rec["cold_s"],
                      "cpu_s": rec["cpu_s"], "start_ms": int(w0 * 1000),
                      "end_ms": int(time.time() * 1000)}]
    rec["timed"] = [label]
    if workload == "concepts_export":
        rec["check"] = outputs
    else:
        rec["check"] = {n: {"columns": cols, "rows": canon(rows, cols)}
                        for n, (cols, rows) in outputs.items()}
        rec["oracle"] = {n: REGISTRY[n].oracle for n in PYWORKER_QUERIES}
    if tracer is not None:
        rec["layers"] = tracer.layer([label])
        spark.stop()  # closes the event log
    with open(out_json, "w") as f:
        json.dump(rec, f, default=str)
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
