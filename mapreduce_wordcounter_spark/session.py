"""SparkSession factory tuned for the local[N] test harness.

The settings mirror what we would set on a real cluster for the 100 TB
target (AQE on, skew-join handling, sane shuffle parallelism); locally
the shuffle-partition count is pinned to the core count instead of the
200 default (SURVEY.md §7 phase 0 / phase 7).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "mapreduce-wordcounter-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. At cluster
    scale the same conf applies, minus ``master``/``driver.memory`` which
    the cluster manager owns.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). Measured both
        # ways at c32/sf0.1 (r13): false (size-based coalescing,
        # guide §2.2) removes sliver tasks on tiny reduce stages but
        # AQE's byte-based sizing starves CPU-dense post-shuffle
        # stages whose bytes are small (join fan-outs, hash fan-outs:
        # part_affinity_lift +53%, tf_idf +19%, graph family +20%) —
        # a net 4% regression across the 180-query bench. Width for
        # the relations where sliver layouts demonstrably hurt is
        # instead set explicitly at pin time (data-derived
        # repartition before persist).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Hundreds of distinct whole-stage-codegen classes JIT-compile
        # over a long session; the JVM default 240m code cache fills,
        # flushes hot compiled methods, and re-JITs them mid-query —
        # uniform fixed overhead on sub-second queries (the r7 drift).
        # 512m is the standard Spark recommendation for codegen-heavy
        # workloads. Applies at JVM launch; ignored on an already-
        # running gateway (harmless).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
    )
    # Opt-in RocksDB state store (SPARK_GRAFT_ROCKSDB=1): the 100 TB
    # posture for streaming state (SCALE.md §9) — state lives off-heap /
    # on-disk per executor instead of on the JVM heap, so watermark-
    # bounded state can exceed executor memory. Off by default locally
    # because the HDFS-backed default is faster for the tiny test
    # states; the provider is exercised by
    # tests/test_streaming.py::test_rocksdb_state_store_equals_batch.
    if os.environ.get("SPARK_GRAFT_ROCKSDB", "") not in ("", "0"):
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_whitelisted_window_warns(spark)
    return spark


def _quiet_whitelisted_window_warns(spark: SparkSession) -> None:
    """Raise the JVM log level for WindowExec to ERROR.

    Every unpartitioned window in this codebase is a CONSTANT-BOUNDED
    relation (≤1025-row offset/grid tables) with a per-query justified
    whitelist, mechanically enforced by tests/test_plan_hygiene.py's
    single-partition-window detector over every registered batch query
    — so WindowExec's per-execution "No Partition Defined" WARN carries
    no information here and only sprays dozens of lines into the bench
    tail (r6/r7 verdicts). Any NEW unpartitioned window over an
    unbounded relation still fails the hygiene sweep; suppressing the
    runtime WARN does not weaken that gate. Best-effort: log4j2 may be
    absent/shaded differently on exotic deployments."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


_PINNED_DFS: list = []


def pin(df, storage_level=None):
    """persist() with bookkeeping: every query-path cache goes through
    here so a long-lived session can drop them all with
    :func:`release_pinned` — persist without a matching unpersist leaks
    executor memory across queries. Spark's cache manager dedups by
    logical plan, so re-pinning the same relation shares one entry."""
    from pyspark import StorageLevel

    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _PINNED_DFS.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every pinned relation (bench harness calls this after
    each query; the grading driver's one-query sessions never need to).
    Returns the number of entries released."""
    n = len(_PINNED_DFS)
    while _PINNED_DFS:
        try:
            _PINNED_DFS.pop().unpersist()
        except Exception:
            pass
    return n


_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str = "mrwc_") -> str:
    """Process-scoped scratch directory for operators that need a
    filesystem target (bucketed-table snapshots, foreachBatch sinks and
    their checkpoints). Every directory is registered for atexit
    removal, so repeated harness/bench invocations don't accumulate
    orphaned temp state."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


_DERIVED: dict[tuple, object] = {}


def derived(spark: SparkSession, sf_dir: str | None, name: str, build, valid=None):
    """Session memo for state derived from the inputs: at-rest
    artifacts (a versioned lineage, a sorted copy, a sink directory —
    the value is its path) and small driver-side results (a model fit,
    a schema probe). Keyed by (applicationId, sf_dir, name); pass
    ``sf_dir=None`` for state that does not depend on the input tables.

    A stored value is returned while ``valid(value)`` holds (always,
    when ``valid`` is None); otherwise ``build()`` runs and its result
    is stored. At-rest artifacts can vanish under a live session
    (scratch cleaners, a partial earlier build), so their ``valid``
    checks the artifact itself. The value is stored only after
    ``build()`` returns: a build that raises leaves no entry, and the
    next call builds again."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key in _DERIVED:
        value = _DERIVED[key]
        if valid is None or valid(value):
            return value
    value = build()
    _DERIVED[key] = value
    return value


_SCRATCH_TABLES: list[str] = []


def register_scratch_table(name: str) -> str:
    """Catalog entries created against scratch paths (snapshot tables)
    must be dropped as well as their data: the atexit hook below removes
    the scratch *directories*, but with a persistent metastore — or many
    bench passes in one session — the table metadata would otherwise
    dangle. Registered names are dropped at exit, before the dirs go."""
    _SCRATCH_TABLES.append(name)
    return name


@atexit.register
def _cleanup_scratch_dirs() -> None:
    # Drop catalog entries first (their data lives in the scratch dirs).
    spark = SparkSession.getActiveSession()
    while _SCRATCH_TABLES:
        t = _SCRATCH_TABLES.pop()
        if spark is not None:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC.

    Called at the top of every query that formats or buckets timestamps,
    because the driver's harness may hand us a session it built itself;
    DuckDB timestamps are naive-UTC so parity requires this.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
