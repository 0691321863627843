"""The driver JVM's class-data-sharing (CDS) start in ``get_spark``.

The fast tests start no JVM: they drive ``_cds_launch`` (when CDS applies,
which conf dir the launch uses, which archive) and ``get_spark`` against a
builder whose ``getOrCreate`` only records what it would launch. The slow
test starts two fresh driver processes against one empty cache: the first
dumps the archive, the second starts from it, and both export the same
bytes.
"""

import glob
import json
import logging
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from iniz_exporters_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """As if no driver JVM ran yet, with the cache under tmp_path and a
    templates-only conf dir."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return conf


def _launched(monkeypatch):
    """Make getOrCreate record the builder's options and SPARK_CONF_DIR."""
    seen = []

    def record(self):
        seen.append((dict(self._options), os.environ.get("SPARK_CONF_DIR")))
        return None

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    monkeypatch.setattr(session, "_dump_archive", lambda spark, archive: None)
    return seen


def test_cds_conf_dir_rule(no_jvm, tmp_path, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        opts, conf_dir, archive = session._cds_launch()
    # templates only: the launch gets an empty dir in the cache
    assert conf_dir == str(tmp_path / "cache" / "iniz-exporters-spark"
                           / "empty-conf")
    assert os.listdir(conf_dir) == []
    assert os.path.basename(archive).startswith("driver-")
    assert archive.endswith(".jsa")
    # no archive yet: this launch records what the dump needs
    assert opts.split()[0] == "-XX:+RecordDynamicDumpInfo"
    assert "-Xlog:cds=off" in opts.split()
    assert os.environ["SPARK_CONF_DIR"] == str(no_jvm)

    open(archive, "wb").close()
    opts, _, _ = session._cds_launch()
    assert opts.split()[0] == f"-XX:SharedArchiveFile={archive}"

    # a real conf file: the user's conf dir stays, so no CDS, no warning
    (no_jvm / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert session._cds_launch() is None
    assert not caplog.records


def test_cds_skipped_when_driver_jvm_runs(no_jvm, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._cds_launch() is None


def test_cds_key_changes_with_jar_size(tmp_path):
    java, spark = tmp_path / "java", tmp_path / "spark"
    java.mkdir()
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (spark / "jars").mkdir(parents=True)
    jar = spark / "jars" / "spark-core.jar"
    jar.write_bytes(b"x" * 10)
    key = session._archive_key(str(java), str(spark))
    assert session._archive_key(str(java), str(spark)) == key
    st = jar.stat()
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))  # same mtime
    assert session._archive_key(str(java), str(spark)) != key
    (java / "release").write_text('JAVA_VERSION="21.0.1"\n')
    assert session._archive_key(str(java), str(spark)) != key


def test_cds_unwritable_cache_gives_normal_start(no_jvm, tmp_path,
                                                 monkeypatch, caplog):
    seen = _launched(monkeypatch)
    session.get_spark("cds-test")
    cds_opts, cds_conf_dir = seen[0]
    assert cds_conf_dir.endswith("empty-conf")
    assert os.environ["SPARK_CONF_DIR"] == str(no_jvm)  # restored

    # a cache path that cannot be a directory: normal start, one warning
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.get_spark("cds-test")
    opts, conf_dir = seen[1]
    assert conf_dir == str(no_jvm)
    assert len(caplog.records) == 1
    assert "without a CDS archive" in caplog.records[0].getMessage()
    # the same session conf, less the CDS java options only
    assert "spark.driver.defaultJavaOptions" not in opts
    del cds_opts["spark.driver.defaultJavaOptions"]
    assert opts == cds_opts


def test_runtime_conf_is_one_table(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "2MB")
    conf = dict(session._runtime_conf())
    assert [k for k, _, _ in session.RUNTIME_CONF] == list(conf)
    assert conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] \
        == "2MB"
    seen = _launched(monkeypatch)
    monkeypatch.setattr(session, "_cds_launch", lambda: None)
    session.get_spark("conf-test")
    assert conf.items() <= seen[0][0].items()


_CHILD = """
import json, sys
from iniz_exporters_spark import cli
from iniz_exporters_spark.session import get_spark

spark = get_spark("cds-child")
args = spark.sparkContext._jvm.java.lang.management.ManagementFactory \\
    .getRuntimeMXBean().getInputArguments()
cli.concepts_main(["testdb", "--tables-dir", sys.argv[1], "-o", sys.argv[2],
                   "-l", "en,es", "-s", "PIH|Name,PIH|Number,CIEL"])
print(json.dumps(list(args)))
"""


# slow: two fresh driver JVMs; the fast siblings above
# (test_cds_conf_dir_rule, test_cds_unwritable_cache_gives_normal_start)
# cover the launch decision without a JVM
@pytest.mark.slow
def test_cds_archive_dumped_then_used(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=REPO,
               SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_CONF_DIR", None)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    tables = os.path.join(REPO, "fixtures", "concepts")
    runs = []
    for i in range(2):
        out = str(tmp_path / f"concepts{i}.csv")
        p = subprocess.run([sys.executable, "-c", _CHILD, tables, out],
                           env=env, cwd=str(tmp_path), capture_output=True,
                           text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        args = json.loads(p.stdout.strip().splitlines()[-1])
        archives = glob.glob(str(tmp_path / "iniz-exporters-spark"
                                 / "driver-*.jsa"))
        assert len(archives) == 1
        with open(out, "rb") as f:
            runs.append((args, f.read()))
    (first, csv0), (second, csv1) = runs
    assert "-XX:+RecordDynamicDumpInfo" in first
    assert f"-XX:SharedArchiveFile={archives[0]}" in second
    assert csv0 == csv1 and csv0.count(b"\n") > 1
