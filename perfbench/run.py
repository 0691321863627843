#!/usr/bin/env python3
"""The repo benchmark: one measured run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json and perfbench/README.md):

* ``concepts_export`` — ``cli concepts --tables-dir … -l en,es,fr,ht -o
  <tmp>`` over a generated CIEL-like dictionary;
* ``analytics_pyworker`` — registry queries with pandas nodes and eager
  pins.

A run generates its inputs from the seed (cached under ``.bench_build``,
never timed), measures fresh driver processes (worker.py) one after another
until ``--seconds`` have passed and at least three have run, checks every
process's outputs, and prints one JSON line of medians over the processes. With ``--trace 0`` the line carries the end-to-end metrics; with
``--trace 1`` the run also writes Spark's event log and wraps the engine's
layer boundaries, and the line carries the per-layer metrics instead.
Every run's full record, including the environment fingerprint, is kept
under ``.bench_build/perfbench/results`` for ``perfbench/report.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("concepts_export", "analytics_pyworker")
CONCEPTS = 8_000  # dictionary size, in concepts
DOCUMENTS = 1_000  # documents table rows
PROCESSES = 3  # fresh measured processes per run, at least
# local[k] with k at most MAX_CORES, and the driver JVM told it has k
# processors, so that it sizes its JIT compiler and GC threads to match:
# the run keeps fewer threads busy than the guest has cores
MAX_CORES = 2
RUN_TIMEOUT_S = 170  # the whole run, generation excluded

END_TO_END = {"setup_s": "s", "cold_s": "s", "py_peak_mb": "MB"}

# per-layer metric -> unit, in the order the traced run reports them
PER_LAYER = {
    "session.get_spark_s": "s",
    "cli.load_tables_s": "s",
    "exporters.build_wide_s": "s",
    "exporters.collect_s": "s",
    "exporters.rows_collected": "count",
    "graph.cycles_s": "s",
    "graph.topo_s": "s",
    "graph.tree_s": "s",
    "graph.nodes": "count",
    "graph.edges": "count",
    "sink.csv_write_s": "s",
    "sink.csv_bytes": "B",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "pinning.pins": "count",
    "pinning.pin_s": "s",
    "pyworker.init_s": "s",
    "pyworker.run_s": "s",
    "pyworker.mb_sent": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.residue_s": "s",
    "log.error_lines": "count",
}


def cores() -> int:
    """k of local[k]: MAX_CORES, or fewer if the process may use fewer."""
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[5:8]), "idle": v[3] + v[4],
            "steal": v[7]}


def fingerprint() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "ticks": cpu_ticks()}


def java_version() -> str:
    java = shutil.which("java")
    if not java:
        return "unknown"
    out = subprocess.run([java, "-version"], capture_output=True, text=True,
                         timeout=30).stderr
    return out.splitlines()[0] if out else "unknown"


def inputs(build: str, workload: str, seed: int) -> str:
    """Generate (once per seed and size) and return the input directory."""
    if workload == "concepts_export":
        kind, size, make = "concepts", CONCEPTS, gen.concept_tables
    else:
        kind, size, make = "documents", DOCUMENTS, gen.documents_table
    out = os.path.join(build, "data", f"{kind}-{size}-seed{seed}")
    if not os.path.isdir(out):
        part = f"{out}.part{os.getpid()}"
        make(seed, part, size)
        os.rename(part, out)
    return out


def run_child(cmd: list[str], env: dict, cwd: str, log: str,
              deadline: float) -> None:
    """Run one child process group to completion, or kill it whole."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=err, stderr=err,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and the Python workers share the child's group
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            wait_group_gone(p.pid)
    if rc != 0:
        raise RuntimeError(f"worker.py {cmd[2]} exited with {rc}; see {log}")


def wait_group_gone(pgid: int, limit: float = 30.0) -> None:
    end = time.time() + limit
    while time.time() < end:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        s = f.read()
                except OSError:
                    continue
                state, _, group = s[s.rindex(")") + 2:].split()[:3]
                if int(group) == pgid and state != "Z":  # zombies have ended
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through run_child, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iniz_exporters_spark",
                                       "session.py")):
        print("perfbench: run from the root of a checkout of the engine",
              file=sys.stderr)
        return 2
    build = os.path.join(root, ".bench_build", "perfbench")
    phases = {}
    t = time.time()
    data = inputs(build, a.workload, a.seed)
    phases["inputs_s"] = time.time() - t

    run = os.path.join(build, "runs",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    k = cores()
    log = os.path.join(run, "stderr.log")
    worker = os.path.join(HERE, "worker.py")
    deadline = time.time() + RUN_TIMEOUT_S

    def env(logs: str | None) -> dict:
        # no hsperfdata file under /tmp: the run writes only inside the
        # checkout
        java = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-XX:ActiveProcessorCount={k}")
        submit = ["--driver-java-options", f"'{java}'"]
        if logs:
            submit += ["--conf", "spark.eventLog.enabled=true",
                       "--conf", f"spark.eventLog.dir=file://{logs}"]
        # a fixed hash seed gives every process the same set/dict iteration
        # order, so plans built from sets do not differ between processes
        return dict(os.environ, PYTHONPATH=root, PYTHONHASHSEED="0",
                    TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                    SPARK_GRAFT_CPUS=str(k),
                    PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]))

    before = fingerprint()
    procs, logs = [], []
    t = time.time()
    while len(procs) < PROCESSES or time.time() - t < a.seconds:
        # each process writes its outputs into a directory of its own
        proc_dir = os.path.join(tmp, f"process{len(procs)}")
        os.makedirs(proc_dir)
        proc_logs = None
        if a.trace:
            proc_logs = os.path.join(run, f"eventlog{len(procs)}")
            os.makedirs(proc_logs)
            logs.append(proc_logs)
        out = os.path.join(proc_dir, "record.json")
        run_child([sys.executable, worker, a.workload, data, str(a.trace),
                   out], env(proc_logs), tmp, log, deadline)
        with open(out) as f:
            procs.append(json.load(f))
    after = fingerprint()
    phases["processes_s"] = time.time() - t

    t = time.time()
    ties: dict[str, int] = {}
    if a.workload == "concepts_export":
        problems = checks.check_concepts(
            data, procs[0]["check"],
            [p["check"].get("digest") for p in procs],
            os.path.join(build, "digests.json"))
    else:
        problems = []
        for i, rec in enumerate(procs):
            found, proc_ties = checks.check_oracle(data, rec["check"],
                                                   rec["oracle"], tmp)
            problems += [f"process {i}: {p}" for p in found]
            for q, n in proc_ties.items():
                ties[q] = ties.get(q, 0) + n
    phases["checks_s"] = time.time() - t
    with open(log, errors="replace") as f:
        error_lines = sum(1 for line in f if " ERROR " in line)

    failed = sum(p["failed"] for p in procs) + len(problems)
    # every export call or query, plus the output check of each process
    attempted = sum(p["attempted"] for p in procs) + len(procs)
    metrics = {m: statistics.median(p[m] for p in procs)
               for m in ("setup_s", "cold_s", "cpu_s", "py_peak_mb")}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed}
    if a.trace:
        # layers of each process's cold pass, averaged over the processes
        per_proc = []
        for rec, proc_logs in zip(procs, logs):
            d = dict(rec["layers"], **eventlog.summarize(
                proc_logs, rec["passes"], rec["timed"]))
            d["session.get_spark_s"] = rec["get_spark_s"]
            per_proc.append(d)
        layers = {n: statistics.fmean(d.get(n, 0.0) for d in per_proc)
                  for n in PER_LAYER}
        layers["log.error_lines"] = error_lines
        result["metrics"] = {n: {"value": layers[n], "unit": u}
                             for n, u in PER_LAYER.items()}
    else:
        result["metrics"] = {n: {"value": metrics[n], "unit": u}
                             for n, u in END_TO_END.items()}

    steal = after["ticks"]["steal"] - before["ticks"]["steal"]
    total = (after["ticks"]["busy"] + after["ticks"]["idle"]
             - before["ticks"]["busy"] - before["ticks"]["idle"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "metrics": metrics,
        "processes": [{m: p[m] for m in (
            "setup_s", "get_spark_s", "cold_s", "cpu_s", "py_peak_mb",
            "errors")} for p in procs],
        "problems": problems, "rounding_ties": ties, "phases": phases,
        "error_lines": error_lines,
        "layers": result["metrics"] if a.trace else None,
        "env": {
            "nproc": os.cpu_count(), "local_k": k,
            "session": procs[0]["conf"],
            "loadavg_before": before["loadavg"],
            "loadavg_after": after["loadavg"],
            "steal_share": steal / total if total else 0.0,
            "spark": procs[0]["spark_version"], "java": java_version(),
            "python": platform.python_version(),
        },
    }
    results = os.path.join(build, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(
            results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
            "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)
    for p in problems + [e for rec in procs for e in rec["errors"]]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
