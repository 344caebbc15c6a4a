"""SparkSession factory.

Reproduces the configuration discipline the reference proved out for its
Spark stages (AQE + partition coalescing, snappy parquet, UTC session
timezone — reference silver_processor.py:39-52) and adds the settings a
100 TB deployment needs from day one: Arrow interchange, skew-join
handling, and a shuffle-partition count sized to the environment instead
of the 200 default.

In local mode one JVM hosts all executor threads, so ``driver.memory``
is the only memory knob; on a real cluster the same builder is driven by
spark-submit ``--conf`` overrides (everything here is a default, not a
pin).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Shuffle partitions: ~cores in local mode. On a cluster this should be
# 2-3x total executor cores, or left to AQE coalescing by setting
# spark.sql.adaptive.coalescePartitions.initialPartitionNum high via
# spark-submit (deliberately NOT pinned here: the right initial value is
# a property of the fleet, and local[N] gains nothing from over-splitting).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)


def get_spark(
    app_name: str = "data_mastery_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target local[N] testing; every value is overridable so the
    identical code deploys to a 1000-executor cluster via spark-submit.
    """
    cpus = int(_DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # The driver-side Python runners for Python Data Sources (the
    # streaming source planner in particular) are child processes of the
    # JVM that see neither the driver's sys.path nor addPyFile shipping
    # — they import from the JVM's inherited PYTHONPATH. Export the
    # package's parent dir BEFORE the JVM launches so a driver started
    # from any cwd (pytest in tests/, the grading driver in /tmp) still
    # resolves the package in those workers. No-op if the JVM is already
    # up — addPyFile covers executor tasks either way.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- proven reference config (silver_processor.py:39-52) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale discipline ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects outright; read the raw int64 nanos and convert
        # (tables.load_table) — floor to µs matches DuckDB's truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UTC-session discipline: parquet TIMESTAMP(isAdjustedToUTC=false)
        # infers as session-zoned timestamp, not TIMESTAMP_NTZ, so footer
        # schemas agree with the registry (tables.check_drift)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # one benchmark lake pass (perfbench's five lake ops) generates
        # 118-119 distinct classes; at the default cache of 100 every
        # warm pass recompiled 87-89 of them (LRU thrash across ops; at
        # this size a second pass compiles 0, tests/test_codegen_cache).
        # Static conf: takes effect when the session is first built.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (``addPyFile`` — the
    programmatic twin of ``spark-submit --py-files``).

    Python UDFs (mapInPandas/pandas_udf) are pickled by reference to
    module functions, so every worker must be able to import the package
    regardless of the driver process's cwd/sys.path. On a real cluster
    this is mandatory; in local mode it also protects against drivers
    launched outside the repo directory.

    Dedup key is ``applicationId`` (unique per context), NOT ``id(sc)``:
    CPython recycles object addresses after GC, so a stop()/recreate
    cycle could land the new context on a cached id and silently skip
    the ship — every worker-side import then dies with
    ModuleNotFoundError (review r6; same class as the kafkawire/rest
    register caches).
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)
