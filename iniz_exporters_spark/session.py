"""SparkSession factory with scale-appropriate defaults.

The defaults below are chosen for the 100 TB design point and merely sized
down by env vars for local testing:

  * AQE on — runtime re-planning (skew-join splitting, partition coalescing,
    broadcast-join demotion/promotion) replaces hand-tuned plans.
  * ``spark.sql.shuffle.partitions`` — env-tunable; on a real cluster this is
    set to ~2-3× total cores (or left to AQE coalescing with a high initial
    value); locally 32 matches local[32].
  * Arrow enabled — every pandas interchange (mapInPandas / applyInPandas in
    the multimodal path) is Arrow-batched, never row-at-a-time pickled.
  * Session timezone pinned to UTC so timestamp semantics are engine-stable
    (and match the DuckDB oracle, which uses naive/UTC timestamps).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

try:
    from py4j.protocol import Py4JError, Py4JJavaError
except ImportError:  # Spark Connect images ship no py4j; the narrowed
    # except-sites must still import (they then catch AnalysisException
    # only, and _jdf-style access failures propagate as designed)
    class Py4JError(Exception):
        """Placeholder: never raised when py4j is absent."""

    class Py4JJavaError(Py4JError):
        """Placeholder: never raised when py4j is absent."""

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = "32"

# AQE partition-coalescing floor (r15, guide §2.2/§2.5). With
# ``parallelismFirst`` (Spark's default) AQE coalesces post-shuffle
# partitions down to this byte floor, NOT to the advisory size — and the
# stock 1 MB floor assumes byte-dense work. The engine's hot shuffle
# consumers are COMPUTE-dense per byte (pair-explodes over capped baskets,
# Python/Arrow kernels, window seats over narrow id+hash rows): a few MB
# of shuffle bytes can carry minutes of CPU, and a byte-based floor
# serializes that CPU onto a handful of cores. Measured r15 at sf0.1
# (interleaved same-session A/B, order-reversed control): 16 KB vs 1 MB =
# ngram_jaccard_pairs −29/−45 %, pipeline_clean_corpus −39 %,
# association_rules_q −41 %, canonical_longest_q −29 %, session_window
# −43 %, fast scan-bound queries neutral (−3 % within noise). At the
# 100 TB design point the floor is inert: any real post-shuffle stage
# carries ≫ cores × 16 KB, so coalescing is governed by the advisory
# size exactly as before — the env override exists for clusters that
# want the stock floor back.
DEFAULT_AQE_MIN_PARTITION_SIZE = "16KB"


# Runtime-settable session conf, as (key, env override or None, default).
# get_spark builds its session with it and tune_for_session applies it to a
# session built elsewhere.
RUNTIME_CONF = (
    ("spark.sql.adaptive.enabled", None, "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", None, "true"),
    (
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE",
        DEFAULT_AQE_MIN_PARTITION_SIZE,
    ),
    ("spark.sql.adaptive.skewJoin.enabled", None, "true"),
    ("spark.sql.session.timeZone", None, "UTC"),
)


def _runtime_conf() -> list[tuple[str, str]]:
    return [
        (k, os.environ.get(env, v) if env else v) for k, env, v in RUNTIME_CONF
    ]


def get_spark(app_name: str = "iniz-exporters-spark") -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    Local parallelism comes from ``$SPARK_GRAFT_CPUS`` (default ``*``);
    shuffle width from ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` (default 32).

    When this call launches the driver JVM, the JVM starts from a
    class-data-sharing archive of Spark's start-up classes
    (``_cds_launch``), which the first such launch dumps.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries timestamp[ns]; Spark has no nanos type, so
        # read as long up front (Catalog restores microsecond timestamps) —
        # avoids a failed-and-retried first read job
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _runtime_conf():
        builder = builder.config(k, v)
    launch = _cds_launch()
    if launch is None:
        return builder.getOrCreate()
    java_opts, conf_dir, archive = launch
    builder = builder.config("spark.driver.defaultJavaOptions", java_opts)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if _DUMP_FLAG in java_opts:
        _dump_archive(spark, archive)
    return spark


# Class-data sharing (CDS) for the driver JVM. A one-shot run (``cli
# concepts``) pays the JVM's start on every call, and most of that start is
# loading and parsing Spark's classes. A dynamic CDS archive maps them
# already parsed. On a 4-vCPU KVM guest at local[2] (perfbench
# concepts_export, 10 interleaved pairs) the median set-up fell from 7.17 s
# to 4.68 s, and the cold export did not slow. The archive lives in the
# user's cache, is keyed on the Java install and Spark's jars, and is
# written once by the first launch that finds it missing (``VM.cds
# dynamic_dump`` right after the session starts, so nothing depends on a
# clean JVM exit). The JVM silently ignores an archive that does not match
# its classpath.
_DUMP_FLAG = "-XX:+RecordDynamicDumpInfo"
# the dump otherwise prints dozens of signed-jar and preload warnings
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _templates_only(conf_dir: str) -> bool:
    """True iff ``conf_dir`` holds nothing Spark reads (only ``*.template``
    files, or nothing at all), so an empty directory can stand in for it:
    the dump refuses a non-empty directory on the classpath."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def _java_home() -> str:
    """The Java install spark-submit runs: ``$JAVA_HOME``, else ``java``
    on the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("no JAVA_HOME and no java on the PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _archive_key(java_home: str, spark_home: str) -> str:
    """Hash of the Java release file and of every Spark jar's name, size
    and mtime: a new JDK or a changed jar means a new archive."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _cds_launch() -> tuple[str, str, str] | None:
    """How get_spark launches the driver JVM with CDS, as (driver java
    options, SPARK_CONF_DIR for the launch, archive path), or None for a
    normal start.

    None when the driver JVM already runs (a live gateway, or a
    spark-submit parent), or when the conf directory holds real files (they
    must stay on the classpath). Any failure to set up the cache also gives
    None, with one warning.
    """
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    try:
        # the conf dir spark-submit puts on the driver's classpath
        if not _templates_only(os.environ.get("SPARK_CONF_DIR")
                               or os.path.join(spark_home, "conf")):
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"),
            "iniz-exporters-spark",
        )
        conf_dir = os.path.join(cache, "empty-conf")
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(cache, os.W_OK):
            raise PermissionError(f"cache {cache} is not writable")
        archive = os.path.join(
            cache, f"driver-{_archive_key(_java_home(), spark_home)}.jsa"
        )
    except OSError as e:
        log.warning("driver JVM starts without a CDS archive: %s", e)
        return None
    if any(c.isspace() or c in "'\"\\" for c in archive):
        # spark-submit splits the java options on whitespace and quotes
        log.warning("driver JVM starts without a CDS archive: "
                    "cache path %r needs quoting", archive)
        return None
    use = (f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
           else _DUMP_FLAG)
    return f"{use} {_CDS_QUIET}", conf_dir, archive


def _dump_archive(spark: SparkSession, archive: str) -> None:
    """Dump the running driver JVM's loaded classes to ``archive`` (via the
    DiagnosticCommand MBean's ``vmCds``), then drop archives of other keys.
    A failure leaves no archive and logs one warning."""
    jvm = spark.sparkContext._jvm
    cls, system = jvm.java.lang.Class, jvm.java.lang.System
    # JDK 17 refuses (and exits the JVM) when a non-empty directory is on
    # the classpath: check first
    for entry in system.getProperty("java.class.path").split(os.pathsep):
        if os.path.isdir(entry) and os.listdir(entry):
            log.warning("no CDS archive dumped: non-empty directory %s on "
                        "the driver classpath", entry)
            return
    tmp = f"{archive}.{os.getpid()}.tmp"
    gw = spark.sparkContext._gateway

    def array(of, *items):
        a = gw.new_array(of, len(items))
        for i, x in enumerate(items):
            a[i] = x
        return a

    try:
        # JmxMBeanServer is not exported: call invoke through its interface
        invoke = cls.forName("javax.management.MBeanServerConnection").getMethod(
            "invoke", array(cls, *(cls.forName(n) for n in (
                "javax.management.ObjectName", "java.lang.String",
                "[Ljava.lang.Object;", "[Ljava.lang.String;"))))
        String, Object = jvm.java.lang.String, jvm.java.lang.Object
        args = array(
            Object,
            jvm.javax.management.ObjectName(
                "com.sun.management:type=DiagnosticCommand"),
            "vmCds",
            array(Object, array(String, "dynamic_dump", tmp)),
            array(String, "[Ljava.lang.String;"),
        )
        # the dump announces its file on the JVM's stdout, which is the
        # caller's: a CLI's stdout must carry only its own output
        stdout = system.out
        system.setOut(jvm.java.io.PrintStream(
            jvm.java.io.OutputStream.nullOutputStream()))
        try:
            invoke.invoke(
                jvm.java.lang.management.ManagementFactory
                .getPlatformMBeanServer(), args)
        finally:
            system.setOut(stdout)
        os.replace(tmp, archive)
    except (OSError, Py4JError) as e:
        log.warning("no CDS archive dumped: %s", e)
        with contextlib.suppress(OSError):
            os.remove(tmp)
        return
    keep = os.path.basename(archive)
    for old in glob.glob(os.path.join(os.path.dirname(archive), "driver-*.jsa")):
        if os.path.basename(old) != keep:
            with contextlib.suppress(OSError):
                os.remove(old)


def metadata_df(spark: SparkSession, rows, schema):
    """A DataFrame over driver-side metadata rows in ONE partition.

    ``SparkSession.createDataFrame(list, schema)`` parallelizes the list
    into ``defaultParallelism`` pickle slices — on local[32] every job
    that materializes the frame (typically a BroadcastExchange build)
    dispatches 32 tasks, each paying a Python-worker round-trip to
    deserialize a mostly-empty slice. Measured r15: a 3-row broadcast
    build costs 1.22 s/job at 32 slices vs 0.82 s at one (and the slice
    count scales with cluster parallelism, so a real cluster pays more).
    Every engine frame built from a driver list is metadata-scale by
    construction (LUTs, offsets, query sets, band tables), so one slice
    is always right: same rows, same order, same types — only the
    slicing changes.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The driver hands us a SparkSession it built itself; only conf keys that
    are runtime-mutable can be set here (AQE + timezone are; master/memory
    are not).
    """
    for k, v in _runtime_conf():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # CANNOT_MODIFY_CONFIG: static key in this session — fine,
            # it's an optimization. Anything else propagates.
    return spark


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_max: str = "500MB",
    application_side_min: str = "1KB",
) -> SparkSession:
    """Turn on Catalyst's runtime row-level Bloom-filter injection.

    For a shuffle join where one side carries a selective filter, the
    optimizer aggregates a Bloom filter of the small side's join keys
    (``bloom_filter_agg``) and injects ``might_contain`` into the BIG
    side's scan — rows that cannot join are dropped before the shuffle.
    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only the ~matching fraction.

    Spark's defaults only trigger on cluster-scale inputs (application
    side ≥ 10GB); the thresholds are parameters so tests can exercise the
    injection locally. Broadcast joins don't need it — the broadcast side
    already prunes via DPP/hash lookup.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_max,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_min,
    )
    return spark


def _estimated_scan_splits(df, target: int):
    """Estimate the file-scan split count from analysis-time metadata only.

    Replays Spark's file bin-packing formula (FilePartition: maxSplitBytes
    = min(maxPartitionBytes, max(openCostInBytes, total/parallelism));
    splits ~= ceil(sum(size_i + openCost) / maxSplitBytes)) over
    ``df.inputFiles()`` — no physical planning, unlike
    ``df.rdd.getNumPartitions()`` which forces the full logical->RDD
    conversion on every call. Returns None when the input is not a plain
    local file scan (in-memory relations, non-file URIs) so the caller can
    fall back to the cached physical count.
    """
    try:
        files = df.inputFiles()
    except (AnalysisException, Py4JJavaError):
        # Spark-side only: streaming relations reject inputFiles() with
        # AnalysisException; exotic relations may fail JVM-side. A repo bug
        # must propagate, not silently disable the estimate.
        return None
    if not files:
        return None
    # production layout shortcut: at >= 4x target files the packed split
    # count can only fall below target under a pathological all-tiny-file
    # layout — skip the per-file stat calls
    if len(files) >= 4 * target:
        return len(files)
    from urllib.parse import unquote, urlparse

    sizes = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return None
    spark = df.sparkSession
    jvm_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    max_part = jvm_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    open_cost = jvm_utils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    )
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_part, max(open_cost, total // max(target, 1) or 1))
    return max(1, -(-total // max(max_split, 1)))


_SPREAD_CACHE: dict = {}

# Analyzed-plan node prefixes that cannot change the scan's partitioning.
# Anything else (Join, Aggregate, Sort, Repartition, Window, Distinct,
# Union, …) means the physical partition count is a (possibly
# AQE-coalesced) shuffle count, NOT the file-split count — using the scan
# estimate there can wrongly skip the repartition for an expensive kernel.
_BARE_SCAN_NODES = ("Project", "Filter", "Relation", "SubqueryAlias", "View")


def _is_bare_scan(df) -> bool:
    """True iff the analyzed logical plan is scan + narrow ops only, so
    the file-split estimate equals the physical partition count. Analysis
    already ran when the DataFrame was built; no physical planning here."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except (AnalysisException, Py4JJavaError):
        # JVM-side plan rendering failed — treat as not-a-bare-scan and let
        # the caller take the physical-count fallback. Repo-side errors
        # (e.g. _jdf missing under a connect-style session) propagate.
        return False
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        if node and not node.startswith(_BARE_SCAN_NODES):
            return False
    return True


def spread_for_kernel(df, min_factor: int = 1):
    """Ensure an expensive Python/Arrow kernel gets at least the session's
    core count of input partitions.

    A small single-file parquet input plans as ONE scan split (scan cost is
    trivial either way), which would serialize the per-row kernel work onto
    one core — the dominant cost for shingling/hashing kernels. Inputs that
    already carry >= cores partitions (any production-scale table) pass
    through UNTOUCHED, so no shuffle is added at scale; the round-robin
    repartition only triggers exactly when the input is small enough that
    the shuffle is trivial.

    The split count comes from the relation's file-scan metadata
    (``_estimated_scan_splits``) — NOT ``df.rdd.getNumPartitions()``,
    which would force a full logical-to-RDD physical plan conversion per
    call on hot kernel paths. Non-file inputs fall back to one physical
    count per distinct plan, memoized by ``semanticHash``.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    # file-split estimate ONLY for bare scans: a plan containing a shuffle
    # (join/agg/repartition/…) has the shuffle's partition count, which the
    # scan metadata cannot see — fall back to the memoized physical count
    n = _estimated_scan_splits(df, target) if _is_bare_scan(df) else None
    if n is None:
        try:
            key = (df.semanticHash(), target)
        except (AnalysisException, Py4JJavaError):
            key = None  # unhashable plan shape: skip memoization only
        if key is not None and key in _SPREAD_CACHE:
            n = _SPREAD_CACHE[key]
        else:
            n = df.rdd.getNumPartitions()
            if key is not None:
                _SPREAD_CACHE[key] = n
                if len(_SPREAD_CACHE) > 512:
                    _SPREAD_CACHE.clear()
    if n < target:
        return df.repartition(target)
    return df
