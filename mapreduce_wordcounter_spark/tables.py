"""Table access helpers for the driver-generated parquet corpus.

Tables (TESTDATA.md): TPC-H-ish ``region nation customer supplier part
orders lineitem`` plus ``events`` (stream-shaped), ``documents`` (the
word-count corpus analog of the reference's text files,
reference main.go:61-66) and ``embeddings``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduce_wordcounter_spark.session import derived

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _stat_fingerprint(paths) -> tuple | None:
    """(inode, mtime ns, size) of each path; None if any stat fails."""
    try:
        return tuple(
            (st.st_ino, st.st_mtime_ns, st.st_size) for st in map(os.stat, paths)
        )
    except OSError:
        return None


def _stat_memo(spark: SparkSession, name: str, paths, compute):
    """``compute()`` served through ``session.derived`` while ``paths``
    still stat the same: a file replaced under the same path (new
    inode, mtime or size) is computed again. A path that does not stat
    is never served from the memo. The fingerprint is taken before
    ``compute()`` runs, so a change during it is caught next call."""

    def build():
        return _stat_fingerprint(paths), compute()

    def valid(entry):
        return entry[0] is not None and _stat_fingerprint(paths) == entry[0]

    return derived(spark, None, name, build, valid)[1]


def read_parquet(spark: SparkSession, *paths: str, merge: bool = False) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema inferred once per
    session. Schema inference reads footers in a Spark job on every
    read; here it runs on the first read of exactly this path list
    (``mergeSchema`` when ``merge``) and later reads pass the stored
    schema, so building the read runs no job. The path order is part
    of the key: merged column order follows it.

    For base tables (fixed for a session, like ``table_rows``) and
    files the versioned protocol never rewrites; the stat fingerprint
    re-infers a table replaced under the same path. Mutable scratch
    and sink reads stay on ``spark.read``. Schema confs must not change
    within a session: the engine sets only ``nanosAsLong``, always to
    true, before reading ``events``."""

    def infer():
        reader = spark.read.option("mergeSchema", "true") if merge else spark.read
        return reader.parquet(*paths).schema

    key = f"parquet_schema:{int(merge)}:" + "\n".join(paths)
    return spark.read.schema(_stat_memo(spark, key, paths, infer)).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one table. Column pruning + predicate pushdown
    happen automatically once callers ``select``/``filter`` (Catalyst).
    The schema is inferred once per session (``read_parquet``), so
    only the first load of a table runs a footer-read job. ``events``
    gets its ``ts`` normalized (``events_ts``)."""
    if name == "events":
        return events_ts(read_events_raw(spark, sf_dir))
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` batch read before ``events_ts``: TIMESTAMP(NANOS)
    columns come back as int64 (``nanosAsLong``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet"))


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` of a raw events frame, batch or streaming.

    ``events.ts`` has shipped in two physical encodings across corpus
    generations, so this adapts to whichever ``df`` carries:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it — read as
      raw int64 nanos and convert with integer arithmetic (``div``, not
      ``/``: epoch-nanos ≈ 1.7e18 exceeds a double's 2^53 integer
      range, so float division corrupts the low digits). Truncation
      (not rounding) to µs matches DuckDB.
    - TIMESTAMP(MICROS), no tz: Spark reads TIMESTAMP_NTZ natively —
      cast to session-tz TIMESTAMP (sessions pin UTC, so wall-clock and
      unix_micros are unchanged) so every downstream window/as-of query
      sees one stable type either way.
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v, default: int = 134217728) -> int:
    """Spark byte-string conf values: bare ints are bytes; '128m',
    '128MB', '1g' carry a size suffix. (r12's rstrip('b') crashed on
    every suffixed value — ADVICE r12.)"""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in _BYTE_SUFFIX:
        mult = _BYTE_SUFFIX[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


def _dataset_bytes(path: str) -> int | None:
    """On-disk bytes of a parquet dataset: a single file OR a directory
    tree (the realistic 100 TB layout — r12's getsize on a directory
    returned the inode size, defeating the already-wide guard)."""
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith((".", "_")):
                    continue  # commit markers / hidden metadata
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    try:
        return os.path.getsize(path)
    except OSError:
        return None


def task_width(spark: SparkSession, rows: int, rows_per_task: int) -> int:
    """The engine's data-derived width: one task per ``rows_per_task``
    rows, ``clamp(ceil(rows / rows_per_task), 1, defaultParallelism)``.
    Never more tasks than cores (the reference's maxWorkers = NumCPU,
    main.go:31), and never a task whose fixed cost outweighs its rows."""
    p = spark.sparkContext.defaultParallelism
    return max(1, min(p, -(-rows // rows_per_task)))


def spread_narrow_scan(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    name: str,
    key: str | None = None,
    rows_per_task: int | None = None,
) -> DataFrame:
    """Scale-ADAPTIVE map-side parallelism for CPU-heavy per-row work
    (hashing, n-gram generation, signature votes — NOT plain
    tokenize+count, where the extra exchange costs more than it buys).

    Parquet scan parallelism is bounded by splits: a table whose bytes
    fit inside defaultParallelism x maxPartitionBytes planned splits
    yields FEWER scan tasks than cores (at sf0.1 every base table is a
    single split), so everything fused into the scan stage — exactly
    the expensive expressions this engine deliberately pushes map-side
    — runs on one core of 32 (measured: the bootstrap's 3.2M-row md5
    stage 3.6 s -> 0.85 s once spread; guide §2.5 "input skew: one
    huge unsplittable file — repartition immediately after the read").
    The exchange moves only the scan's raw rows and is added ONLY when
    the scan is narrower than the cluster: at the 100 TB design point
    every fact scan has >= cores splits and this is a structural no-op
    — the decision derives from input size vs. cluster width.

    Width is DATA-BOUNDED, not cluster-bounded (VERDICT r12 #3):
    ``rows_per_task`` declares how many rows keep one core busy for
    this call site's map work, and the spread width is
    ``clamp(rows / rows_per_task, 1, defaultParallelism)`` — tiny
    inputs no longer shatter into core-count slivers whose task
    overhead exceeds their work (the r12 negative-scaling signature).

    ``key`` (a high-cardinality column) switches the exchange from
    round-robin to deterministic hash partitioning: no
    sortBeforeRepartition local sort (guide §2.5), retry-safe by
    construction, and a downstream groupBy/join on the same key can
    reuse the partitioning instead of planning a second exchange."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    size = _stat_memo(
        spark, f"dataset_bytes:{path}", [path], lambda: _dataset_bytes(path)
    )
    if size is None:
        return df
    p = spark.sparkContext.defaultParallelism
    maxpb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if size >= p * maxpb:  # scan already at least cluster-wide
        return df
    width = p
    if rows_per_task:
        width = task_width(spark, table_rows(spark, sf_dir, name), rows_per_task)
    if width <= 1:
        return df
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(width, F.col(key))
    return df.repartition(width)


_ROWS_CACHE: dict[tuple[str, str, str], int] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a base table, cached per (session, sf_dir, table) —
    CATALOG-STATISTICS semantics: the count is a parquet-footer
    metadata read (no data pages) and base tables are immutable for a
    session, so strategy probes (e.g. orders_rfm_segments' size-
    adaptive NTILE) read it like an optimizer reads table stats
    instead of re-running a count job per query build. A production
    deployment gets this number from the catalog/manifest for free;
    the cache is that catalog."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _ROWS_CACHE.get(key)
    if n is None:
        n = load_table(spark, sf_dir, name).count()
        _ROWS_CACHE[key] = n
    return n


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
