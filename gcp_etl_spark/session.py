"""SparkSession construction.

Reproduces the session-tuning surface of the reference job
(``k8s/submit/etl-on-gcp-vinicius-campos.py:67-88``): AQE on, partition
coalescing with a 128 MB advisory size, sort-merge-join preference,
Kryo, broadcast timeout — re-expressed for Spark 4.x, minus
cluster-manager-only knobs (dynamicAllocation, external shuffle service)
which do not apply to local mode and are left to spark-submit conf on a
real cluster.

Scale notes (100 TB design point):
- ``spark.sql.shuffle.partitions`` is a *local* default here (≈ cores);
  on a 1000-executor cluster AQE's ``coalescePartitions`` +
  ``advisoryPartitionSizeInBytes=128m`` make the initial number mostly
  irrelevant as long as it is high enough — set
  ``initialPartitionNum`` large (e.g. 8192) cluster-side and let AQE
  coalesce down, exactly the reference's strategy
  (init 10 → min 1 at its toy scale).
- AQE skew-join splitting is enabled so a hot join key at scale is
  split instead of stalling one task.
- Arrow is enabled for every pandas/Python boundary (the slow path the
  LLM operators use when built-ins can't express the semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The avro datasource is an external module (reference pins
# spark-avro_2.12-3.1.2 at ``k8s/submit/spark-avro_2.12-3.1.2.jar``
# and submits it via --jars). Stock pyspark does not bundle it; honor
# an explicit ``SPARK_GRAFT_AVRO_JAR`` (a jar path or a directory to
# search), then probe the standard local artifact caches, and wire it
# at session build (jars cannot be added after JVM start).
# io.write_avro still falls back to parquet when absent.
_AVRO_JAR_CANDIDATES = (
    os.path.expanduser("~/.ivy2/jars"),
    os.path.expanduser("~/.ivy2/cache/org.apache.spark"),
    os.path.expanduser("~/.m2/repository/org/apache/spark"),
)


def find_avro_jar() -> str | None:
    import glob

    override = os.environ.get("SPARK_GRAFT_AVRO_JAR")
    roots = list(_AVRO_JAR_CANDIDATES)
    if override:
        if os.path.isfile(override):
            return override
        roots.insert(0, override)
    for root in roots:
        hits = sorted(glob.glob(os.path.join(root, "**", "spark-avro*.jar"),
                                recursive=True))
        if hits:
            return hits[-1]
    return None


def get_spark(
    app_name: str = "gcp_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Mirrors reference session configs at
    ``k8s/submit/etl-on-gcp-vinicius-campos.py``: AQE ``:73``, coalesce
    ``:76-79``, advisory 128 MB ``:79``, preferSortMergeJoin ``:85``,
    broadcastTimeout ``:72``, Kryo ``:80``, speculation off ``:71``.

    DataFrame debugging is off: with it on, PySpark 4 wraps every
    ``functions``/``Column`` call to capture its Python call site, which
    costs a stack walk and 3-5 py4j round trips per call (one
    ``analytics_rolling_origin_backtest`` build makes 954 py4j calls
    with it and 243 without). The capture only adds the Python
    file:line fragment to error messages; the JVM's expression context
    is still reported. PySpark reads the flag once per process, from
    the active session on the first wrapped call, so it is set on the
    builder: a ``spark.conf.set`` afterwards would have no effect.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- correctness-critical for the DuckDB oracle --
        .config("spark.sql.session.timeZone", "UTC")
        # -- reference parity (AQE + coalesce + advisory 128m) --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.broadcastTimeout", "900")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.speculation", "false")
        # -- local sizing --
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        # -- python/arrow boundary --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- quiet & headless --
        .config("spark.ui.enabled", "false")
        # -- no Python call-site capture per Column call (see docstring) --
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    avro_jar = find_avro_jar()
    if avro_jar:
        b = b.config("spark.jars", avro_jar)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_QUIET_BENIGN") == "1":
        _quiet_benign_warnings(spark)
    return spark


def _quiet_benign_warnings(spark: SparkSession) -> None:
    """Raise the log4j2 level for loggers whose WARNs are known-benign
    in this corpus, so REAL executor warnings stay visible in the
    driver's tail capture (round-3 VERDICT ask #6).

    The only such logger today is WindowExec's "No Partition Defined"
    warning: every global window in the declared corpus runs over a
    constant-size aggregate relation (documented per query), and the
    repeated warning drowned the bench tail. Done via the log4j2 core
    Configurator through py4j; failure-tolerant in case a deployment
    swaps the logging backend.

    Gated behind SPARK_GRAFT_QUIET_BENIGN=1 (set by bench.py) and
    called directly by tools/verify_local.py and the pytest session
    fixture (r11 ask #4: one LOGGING-layer mechanism for the whole
    bench/verify/test tooling — never plan-changing markers, whose
    extra Exchanges are real cost for a cosmetic warning). LIBRARY
    users keep the warning — a future non-calendar-bounded global
    window should be loud everywhere except the tooling sessions,
    where the plan-hygiene fingerprints police it instead."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for name in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        ):
            configurator.setLevel(name, level)
    except Exception:  # noqa: BLE001 - logging tuning must never break a session
        pass
