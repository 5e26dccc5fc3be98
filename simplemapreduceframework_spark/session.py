"""SparkSession factory with scale-oriented defaults.

The reference framework hand-rolls parallelism (blocks sized to the
worker count, reference message_tools.py:290-302) and scheduling
(capacity max-heap, reference jobtracker.py:583-647). On Spark all of
that is platform-provided; what we own is the *configuration*: AQE for
runtime re-planning and skew handling, shuffle partition sizing, Arrow
for the Python boundary, and a UTC session so timestamp semantics are
deterministic and oracle-comparable.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Directory holding the package, put on the Python workers' path so they
# can import the engine's worker daemon whatever the driver's cwd.
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[1])
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


# Java 17's G1 can throw a SPURIOUS OutOfMemoryError when an
# allocation keeps losing the race against JNI critical sections
# (GCLocker starvation, JDK-8192647 lineage): the default
# GCLockerRetryAllocationCount=2 gives up after two retries even for
# a 5-WORD allocation. Long sessions mixing Arrow/Parquet native
# access with a busy heap hit it under load — the r13 sf10 audit died
# twice around query ~73 with "Retried waiting for GCLocker too often
# allocating 5 words" immediately before the OOM, on a heap that two
# r12 audits had proven sufficient. Raising the retry count is the
# documented mitigation; result- and plan-neutral.
#
# JDK 22 removed the GCLocker needs-gc path (and with it this
# diagnostic flag), and an unrecognized -XX option aborts JVM startup,
# so IgnoreUnrecognizedVMOptions leads the group: on JDK >= 22 the
# obsolete flag is skipped instead of killing every session.
_GCLOCKER_JAVA_OPTS = (
    "-XX:+IgnoreUnrecognizedVMOptions"
    " -XX:+UnlockDiagnosticVMOptions"
    " -XX:GCLockerRetryAllocationCount=64"
)


def _driver_java_options() -> str:
    """Driver JVM options: an operator-supplied base (the
    SPARK_GRAFT_DRIVER_JAVA_OPTS env var, mirroring how
    SPARK_GRAFT_DRIVER_MEM overrides driver memory) with the GCLocker
    mitigation appended — setting extraJavaOptions unconditionally
    would clobber site-specific driver flags.

    A base that already pins GCLockerRetryAllocationCount wins
    outright (r14 ADVICE: appending the repo's =64 after it would
    silently override the site value, JVM last-occurrence semantics) —
    in that case the base must carry its own Unlock/Ignore guards,
    since UnlockDiagnosticVMOptions only unlocks flags that follow it.
    "Pins" means an actual ``-XX:GCLockerRetryAllocationCount=`` flag
    token (r15 ADVICE: a loose substring match let a base that merely
    MENTIONS the name — e.g. inside a -D system-property value —
    silently suppress the OOM mitigation)."""
    base = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    if not base:
        return _GCLOCKER_JAVA_OPTS
    if any(
        tok.startswith("-XX:GCLockerRetryAllocationCount=")
        for tok in base.split()
    ):
        return base
    return f"{base} {_GCLOCKER_JAVA_OPTS}"


def get_spark(
    app_name: str = "smrf-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are chosen for local[] testing but express the knobs that
    matter on a 1000-executor cluster:

    - AQE on (runtime partition coalescing + skew-join splitting) so the
      shuffle partition count self-corrects at any scale factor.
    - ``spark.sql.shuffle.partitions`` ~ 2x cores locally; on a real
      cluster this is overridden upward and AQE coalesces back down.
    - Arrow enabled so every pandas_udf / mapInPandas boundary is
      columnar-batched, never row-pickled.
    - UTC session timezone: timestamps behave as naive/UTC, matching
      the oracle engine and avoiding DST-dependent window boundaries.
    - Python workers fork from the engine's daemon (``_pydaemon``). The
      stock worker calls ``importlib.invalidate_caches()`` before every
      task, which on CPython < 3.12 re-reads every zip archive on the
      worker path (~0.25 s per task); the daemon re-reads an archive
      only when it changed. CPython >= 3.12 made that invalidation lazy,
      so there the daemon changes nothing and can be dropped. The
      package root is prepended to the executors' ``PYTHONPATH`` so the
      workers can import it.
    """
    cpus = cpus or _default_parallelism()
    parts = shuffle_partitions or max(2 * cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # GCLocker-starvation mitigation + operator base opts; see
        # _driver_java_options / _GCLOCKER_JAVA_OPTS above.
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Parquet files annotated isAdjustedToUTC=false would otherwise
        # surface as TIMESTAMP_NTZ, which watermarks / unix_micros reject;
        # with a UTC session the micros are identical either way, so read
        # them as plain TIMESTAMP for uniform semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.python.daemon.module", "simplemapreduceframework_spark._pydaemon")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    pythonpath = [_PACKAGE_ROOT, extra_conf.get(_EXECUTOR_PYTHONPATH)]
    builder = builder.config(
        _EXECUTOR_PYTHONPATH, os.pathsep.join(p for p in pythonpath if p)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
