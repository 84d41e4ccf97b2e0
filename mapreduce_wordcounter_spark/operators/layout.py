"""Data-layout operators: Z-order clustering and layout audits.

At 100 TB the dominant cost of most queries is the scan, and the
dominant scan optimization is file skipping: every parquet file
carries min/max stats per column, and a predicate prunes a file only
when the file's value span for that column is narrow. A table sorted
linearly by one column (the usual ingest order: time) has perfect
spans on that column and useless spans on every other. Z-ordering —
sorting by the bit-interleaved value of two (or more) columns — makes
BOTH columns' per-file spans narrow at the cost of each being slightly
wider than a dedicated sort, which is why Delta/Iceberg expose it as
their multi-dimensional clustering primitive (public OPTIMIZE ZORDER
semantics; the interleaving is the classic Morton curve).

The reference (`main.go`) has no storage-layout story at all — it
re-reads its input files linearly every run (SURVEY.md §4.3 notes the
file-granularity skew this causes). These operators are the engine's
at-scale answer: plan the layout, measure the skipping win.

Everything here is engine-portable integer math (bit extraction via
``div``/``%`` and exact powers of two, sequential left-folds), so the
DuckDB oracles verify the exact z-values, tile assignments, and span
statistics — not a lookalike.

Scale posture (100 TB): z-values are a per-row projection (no
shuffle). Tile assignment needs an exact global rank; a bare
``NTILE() OVER (ORDER BY z)`` would collapse the table into one
window partition, so it is computed DISTRIBUTED instead: rows shuffle
on a coarse order-preserving bucket (the z-value's high bits — a
deterministic range partitioner, since z is bounded), each bucket
ranks locally, and bucket offsets (a few-hundred-row cumulative sum)
broadcast back. One balanced shuffle regardless of table size — the
same construction a real OPTIMIZE ZORDER write uses before handing
ranges to the file writer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.functions.portable import md5h, sql_md5h
from mapreduce_wordcounter_spark.registry import ORACLE, query
from mapreduce_wordcounter_spark.tables import load_table

N_FILES = 32  # target file count for the layout plan
_BITS = 16  # bits interleaved per dimension (32-bit z-value)
_COARSE_SHIFT = 2 ** (2 * _BITS - 6)  # top 6 z bits -> 64 range buckets

# Bit-interleaved (Morton) z-value of two non-negative ints x, y using
# div/% bit extraction — identical integer arithmetic in Spark and
# DuckDB, no dialect-specific shift operators. The 16 per-bit terms are
# UNROLLED with literal power-of-two constants: the folded
# aggregate(sequence(...)) form computes the same value but as a
# per-row higher-order function it falls out of whole-stage codegen
# and measured ~10× slower on the 100k-row scan.
_SPARK_Z = " + ".join(
    f"((({{x}}) div {2**b}) % 2) * {2 ** (2 * b)}L"
    f" + ((({{y}}) div {2**b}) % 2) * {2 ** (2 * b + 1)}L"
    for b in range(_BITS)
)
_DUCK_Z = "CAST(" + " + ".join(
    f"((({{x}}) // {2**b}) % 2) * {2 ** (2 * b)}"
    f" + ((({{y}}) // {2**b}) % 2) * {2 ** (2 * b + 1)}"
    for b in range(_BITS)
) + " AS BIGINT)"

# The two clustered dimensions over events: user and hour-of-epoch,
# masked to the interleaved bit width for totality. Before
# interleaving, each dimension is min-max normalized INTO the bit
# budget (integer scale to [0, 2^BITS-1]): raw values waste interleave
# bits when the two ranges differ (a 150-value user domain against a
# 14-bit hour domain leaves half the x bits constant-zero, so the
# curve degenerates toward a y-sort). Normalizing first is what real
# OPTIMIZE ZORDER implementations do (rank/range-normalize, then
# interleave), and it is two exact integer expressions per row fed by
# one tiny min/max aggregate.
_MASK = 2**_BITS
_SPARK_X = f"user_id % {_MASK}"
_SPARK_Y = f"(unix_timestamp(ts) div 3600) % {_MASK}"
_DUCK_X = f"user_id % {_MASK}"
_DUCK_Y = f"((epoch_us(ts) // 1000000) // 3600) % {_MASK}"

_NORM = "((({v}) - ({lo})) * {top}) div greatest(({hi}) - ({lo}), 1)"
_DUCK_NORM2 = "((({v}) - ({lo})) * {top}) // greatest(({hi}) - ({lo}), 1)"


def _distributed_ntile(
    df: DataFrame, bucket_col: str, order_cols: list[str], k: int
) -> DataFrame:
    """Exact NTILE(k) over a global (order_cols) sort, computed without
    a single-partition window.

    ``bucket_col`` must be a coarse key that preserves the global
    order BETWEEN buckets (rows in bucket i all sort before rows in
    bucket i+1). Rows rank locally within their bucket (the window
    partitions on the bucket, so it shuffles once on a balanced key),
    bucket row-counts cumulative-sum into offsets (a tiny relation —
    one row per bucket — where a global window is fine), and the
    broadcast-joined offset lifts local ranks to global, and the
    NTILE tile for a global rank has a closed form (first n % k tiles
    one row larger than the rest).

    Returns df plus a ``file_id`` column; ``n_total`` is read as one
    driver-side scalar (same bounded-scalar class as the graph m/n
    reads).
    """
    n_total = df.count()
    counts = df.groupBy(bucket_col).agg(F.count("*").alias("bucket_n"))
    w_off = W.orderBy(bucket_col).rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "bucket_offset", F.coalesce(F.sum("bucket_n").over(w_off), F.lit(0))
    ).select(bucket_col, "bucket_offset")
    w_local = W.partitionBy(bucket_col).orderBy(*order_cols)
    ranked = (
        df.join(F.broadcast(offsets), bucket_col)
        .withColumn("rn", F.row_number().over(w_local))
        .withColumn("rank", F.col("bucket_offset") + F.col("rn"))
    )
    # NTILE's exact split: the first n % k tiles take ceil(n/k) rows,
    # the rest floor(n/k) — all larger tiles FIRST (not Bresenham-
    # interleaved, which floor(k*(rank-1)/n) would give). Integer div
    # end-to-end (the pack_id convention ADVICE r5 pinned).
    n_big = n_total % k
    size_big = n_total // k + 1
    size_small = n_total // k
    cut = n_big * size_big
    return ranked.withColumn(
        "file_id",
        F.expr(
            f"CASE WHEN rank <= {cut} THEN (rank - 1) div {size_big} + 1"
            f" ELSE {n_big} + (rank - 1 - {cut}) div {size_small} + 1 END"
        ),
    ).drop("bucket_offset", "rn", "rank")


def distributed_rank(
    df: DataFrame, order_cols: list, out: str = "rank", n_parts: int | None = None
) -> DataFrame:
    """Global ROW_NUMBER() over a TOTAL order (``order_cols`` must be
    tie-free — include a unique key) without a single-partition
    window — the construction Spark's own global sort scales by.

    Rows range-repartition on the order keys (balanced boundaries
    from Spark's per-partition-seeded sampling), each range ranks
    locally (window partitioned on the range id), and the per-range
    row counts cumulative-sum into offsets — an ``n_parts``-row
    (bounded by the session's core count) relation whose tiny global
    window is the only unpartitioned one — broadcast-joined back to
    lift local ranks to global.

    ``n_parts`` defaults to max(4, defaultParallelism // 8): the
    ranked relation is key-grain (vocabulary, customers) — far
    smaller than the corpus — so a fraction of the session's cores
    keeps every range a real unit of work while bounding the fixed
    per-range scheduling cost (measured at local[32] on a
    vocabulary-sized relation: 32 ranges 0.78 s, 8 ranges 0.56 s,
    4 ranges 0.45 s — pure task overhead). On a 1000-executor
    cluster defaultParallelism scales the range count with the
    hardware; pass n_parts explicitly to override either
    direction.

    The partitioned relation is PERSISTED (session.pin) and both the
    offsets subtree and the ranking subtree read that one
    materialization — the correctness invariant is that both consumers
    see the SAME range assignment, and Spark does not guarantee it
    otherwise: range-exchange boundaries come from sampling seeded by
    the physical RDD id, so two plan-identical exchanges CAN sample
    different boundaries (observed: inside a multi-rank join
    composition exchange-reuse stopped firing, the offsets/ranking
    subtrees planned 2 independent exchanges per rank, and ranks went
    wrong at tile boundaries — caught by the both-paths-equal pin in
    tests/test_plans.py). Exchange reuse, when it fires, merely makes
    the cache read cheap; the persist is what makes it CORRECT. A
    cache-evicted partition recomputes through the same RDD lineage
    (same sampling seed), so eviction cannot re-split ranges. No
    driver collect: offsets are the n_parts-row cumulative sum,
    broadcast-joined back. Contrast with layout._distributed_ntile,
    which needs a caller-supplied order-preserving bucket key: this
    helper derives balanced buckets from the data, so it also handles
    keys with huge tie-plateaus (e.g. word counts, where half the
    vocabulary shares cnt=1 and any value-banded bucket collapses)."""
    from mapreduce_wordcounter_spark.session import pin

    if n_parts is None:
        n_parts = max(
            4, df.sparkSession.sparkContext.defaultParallelism // 8
        )
    part = pin(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    counts = part.groupBy("__pid").agg(F.count("*").alias("__bn"))
    offs = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__bn").over(
                W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__pid", "__off")
    w_loc = W.partitionBy("__pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(offs), "__pid")
        .withColumn(out, F.col("__off") + F.row_number().over(w_loc))
        .drop("__pid", "__off")
    )


def _zed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_wordcounter_spark.session import pin

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        "ts",
        F.expr(_SPARK_X).alias("x"),
        F.expr(_SPARK_Y).alias("y"),
    )
    bounds = pts.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    top = _MASK - 1
    # normalized coords as named columns so the unrolled z expression
    # references two simple attributes, not 32 copies of the
    # normalization arithmetic. Pinned: the NTILE construction reads
    # this relation three times (count, bucket histogram, rank join) —
    # and span_compare twice more — so one materialization serves all
    # consumers (the graph _adj_pinned posture).
    return pin(
        pts.crossJoin(F.broadcast(bounds))
        .withColumn("xn", F.expr(_NORM.format(v="x", lo="xlo", hi="xhi", top=top)))
        .withColumn("yn", F.expr(_NORM.format(v="y", lo="ylo", hi="yhi", top=top)))
        .withColumn("z", F.expr(_SPARK_Z.format(x="xn", y="yn")))
        .drop("xlo", "xhi", "ylo", "yhi", "xn", "yn")
        .withColumn("zbucket", F.expr(f"z div {_COARSE_SHIFT}"))
        # unmasked epoch-hour: monotone in ts, so it is a safe coarse
        # range key for the linear layout even if the masked y wraps
        .withColumn("lbucket", F.expr("unix_timestamp(ts) div 3600"))
    )


_DUCK_ZED = f"""
        SELECT event_id, ts, x, y,
               {_DUCK_Z.format(x='xn', y='yn')} AS z
        FROM (
            SELECT pts.*,
                   {_DUCK_NORM2.format(v='x', lo='b.xlo', hi='b.xhi', top=_MASK - 1)} AS xn,
                   {_DUCK_NORM2.format(v='y', lo='b.ylo', hi='b.yhi', top=_MASK - 1)} AS yn
            FROM pts CROSS JOIN (
                SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                       MIN(y) AS ylo, MAX(y) AS yhi FROM pts) b) n
"""


@query(
    "zorder_layout",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, ts, {_DUCK_X} AS x, {_DUCK_Y} AS y
        FROM events),
    zed AS ({_DUCK_ZED}),
    tiled AS (
        SELECT *, NTILE({N_FILES}) OVER (ORDER BY z, event_id) AS file_id
        FROM zed)
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS u_min, MAX(x) AS u_max,
           MIN(y) AS h_min, MAX(y) AS h_max,
           MIN(z) AS z_min, MAX(z) AS z_max
    FROM tiled GROUP BY file_id
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan a Z-ordered file layout for ``events`` clustered on
    (user_id, hour) and emit the per-file min/max stats a scan planner
    would skip on.

    Each output row is one target file: its row count and its value
    span on BOTH clustered dimensions. Narrow u-span AND h-span per
    file is the whole point — a predicate on either column prunes most
    files. See `layout_span_compare` for the quantified win over the
    ingest-order (time-linear) layout.

    Scale: per-row z projection, then the distributed exact-NTILE
    construction (coarse z-bucket shuffle + broadcast offsets — module
    docstring); the per-file stats aggregate is map-combined on
    file_id. The oracle states the same assignment as one NTILE window
    — semantics identical, physical plan deliberately not.
    """
    tiled = _distributed_ntile(
        _zed(spark, sf_dir), "zbucket", ["z", "event_id"], N_FILES
    )
    return tiled.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("u_min"),
        F.max("x").alias("u_max"),
        F.min("y").alias("h_min"),
        F.max("y").alias("h_max"),
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
    )


@query(
    "layout_span_compare",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, ts, {_DUCK_X} AS x, {_DUCK_Y} AS y
        FROM events),
    zed AS ({_DUCK_ZED}),
    ztiles AS (
        SELECT x, y,
               NTILE({N_FILES}) OVER (ORDER BY z, event_id) AS file_id
        FROM zed),
    ltiles AS (
        SELECT x, y,
               NTILE({N_FILES}) OVER (ORDER BY ts, event_id) AS file_id
        FROM zed),
    zspan AS (
        SELECT 'zorder' AS layout,
               CAST(SUM(u_span) AS BIGINT) AS sum_u_span,
               CAST(SUM(h_span) AS BIGINT) AS sum_h_span
        FROM (SELECT MAX(x) - MIN(x) AS u_span, MAX(y) - MIN(y) AS h_span
              FROM ztiles GROUP BY file_id)),
    lspan AS (
        SELECT 'linear_ts' AS layout,
               CAST(SUM(u_span) AS BIGINT) AS sum_u_span,
               CAST(SUM(h_span) AS BIGINT) AS sum_h_span
        FROM (SELECT MAX(x) - MIN(x) AS u_span, MAX(y) - MIN(y) AS h_span
              FROM ltiles GROUP BY file_id))
    SELECT * FROM zspan UNION ALL SELECT * FROM lspan
    """,
)
def layout_span_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify the file-skipping win of the Z-order layout vs the
    ingest-order (time-linear) layout: the summed per-file value span
    on each clustered dimension, per layout.

    Reading the output: `linear_ts` has near-zero h-span (time sorted)
    but close-to-full-range u-span in EVERY file — a user_id predicate
    skips nothing. `zorder` pays a modest h-span increase to collapse
    the u-span — both predicates now skip. Sums (not averages) keep
    the comparison in exact integer arithmetic end-to-end.

    Scale: two runs of the distributed exact-NTILE construction over
    the same projection (z-sort via z-high-bit buckets, ts-sort via
    hour buckets — both order-preserving coarse keys), one balanced
    shuffle each; span stats are map-combined aggregates on file_id.
    """
    zed = _zed(spark, sf_dir)

    def spans(tiled: DataFrame, label: str) -> DataFrame:
        per_file = tiled.groupBy("file_id").agg(
            (F.max("x") - F.min("x")).alias("u_span"),
            (F.max("y") - F.min("y")).alias("h_span"),
        )
        return per_file.select(
            F.lit(label).alias("layout"),
            F.sum("u_span").cast("bigint").alias("sum_u_span"),
            F.sum("h_span").cast("bigint").alias("sum_h_span"),
        )

    ztiles = _distributed_ntile(zed, "zbucket", ["z", "event_id"], N_FILES)
    ltiles = _distributed_ntile(zed, "lbucket", ["ts", "event_id"], N_FILES)
    return spans(ztiles, "zorder").unionAll(spans(ltiles, "linear_ts"))


# ---------------------------------------------------------------------------
# Z-order at rest: materialized z-sorted table + pruning probe
# ---------------------------------------------------------------------------

def _committed(path: str) -> bool:
    """`derived` validity check for a parquet copy at rest: the write
    committed (Spark's _SUCCESS marker) and the dir is still there."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


# Session-scoped materialization (the trigram_index_probe /
# ANN-index-at-rest posture, text.py:2192): build the z-sorted copy
# once per (session, sf_dir) through session.derived, probe it many
# times. At 100 TB this is the nightly OPTIMIZE job; here it is a
# scratch parquet dir cleaned at exit (session.scratch_dir), rebuilt
# if it is gone or its write never committed (_committed).
def _zorder_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_wordcounter_spark.session import derived, scratch_dir

    def build():
        path = os.path.join(scratch_dir("zorder_events_"), "events_z")
        e = load_table(spark, sf_dir, "events")
        zed = _zed(spark, sf_dir).select("event_id", "z")
        (
            e.join(zed, "event_id")
            # range-partition on z, sort within: every output file gets
            # one contiguous z range, so its parquet min/max stats are
            # narrow on BOTH clustered dimensions — this is the write
            # side of OPTIMIZE ZORDER.
            .repartitionByRange(N_FILES, "z", "event_id")
            .sortWithinPartitions("z", "event_id")
            .write.parquet(path)
        )
        return path

    return spark.read.parquet(
        derived(spark, sf_dir, "zorder_table", build, _committed)
    )


# Probe predicate: a user band x an hour band, both expressed relative
# to the data minimum so the same constants select a comparable slice
# at any sf. Shared verbatim with the oracle.
_PROBE_U_LO, _PROBE_U_HI = 40, 79
_PROBE_H_LO, _PROBE_H_HI = 24, 95  # hours since corpus start


@query(
    "zorder_probe",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN((epoch_us(ts) // 1000000) // 3600) AS h0 FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_micro
    FROM events CROSS JOIN bounds
    WHERE user_id BETWEEN {_PROBE_U_LO} AND {_PROBE_U_HI}
      AND (epoch_us(ts) // 1000000) // 3600
          BETWEEN bounds.h0 + {_PROBE_H_LO} AND bounds.h0 + {_PROBE_H_HI}
    GROUP BY event_type
    """,
)
def zorder_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A two-dimensional slice query (user band x hour band) against
    the AT-REST z-ordered events table. Results are identical to the
    same predicate over the raw table (a layout is lossless — the
    oracle reads the raw table); the difference is WHAT THE SCAN
    READS: on the z-sorted copy every parquet file/row-group carries
    narrow min/max stats on user_id AND ts, so both pushed predicates
    prune most of the table before a byte decompresses. On the
    ingest-ordered table the user predicate prunes nothing (full user
    range in every file — layout_span_compare measures exactly this).

    Scale: the z-write is the nightly OPTIMIZE job (one
    range-partitioned sort, amortized over every slice query after
    it); the probe is scan -> pushed filters -> map-combined groupBy
    on event_type — no join, no wide shuffle. The micro-quantized sum
    keeps the aggregate engine-exact."""
    ez = _zorder_table(spark, sf_dir)
    h = "(unix_timestamp(ts) div 3600)"
    bounds = ez.agg(F.expr(f"min({h})").alias("h0"))
    return (
        ez.crossJoin(F.broadcast(bounds))
        .filter(
            F.col("user_id").between(_PROBE_U_LO, _PROBE_U_HI)
            & F.expr(
                f"{h} BETWEEN h0 + {_PROBE_H_LO} AND h0 + {_PROBE_H_HI}"
            )
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")
            )
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Hive-partitioned at rest + dynamic partition pruning (DPP)
# ---------------------------------------------------------------------------

def _events_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events materialized hive-partitioned by event_date — the other
    canonical at-rest layout (coarse explicit partitions for pruning
    whole directories; z-order above handles intra-file skipping).
    Built once per (session, sf_dir), scratch-cleaned at exit."""
    from mapreduce_wordcounter_spark.session import derived, scratch_dir

    def build():
        path = os.path.join(scratch_dir("events_by_date_"), "events_pd")
        e = load_table(spark, sf_dir, "events")
        (
            e.withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .write.partitionBy("event_date")
            .parquet(path)
        )
        return path

    return spark.read.parquet(
        derived(spark, sf_dir, "events_by_date", build, _committed)
    )


# Day-of-week via integer epoch arithmetic (identical in both engines;
# no locale/ISO ambiguity): 0 = the Unix epoch's weekday (a Thursday).
_DPP_DOW = 3


@query(
    "dpp_partitioned_join",
    oracle=f"""
    WITH cal AS (
        SELECT DISTINCT CAST(ts AS DATE) AS event_date,
               ((epoch_us(ts) // 1000000) // 86400) % 7 AS dow
        FROM events)
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN cal ON CAST(e.ts AS DATE) = cal.event_date
    WHERE cal.dow = {_DPP_DOW}
    GROUP BY e.event_type
    """,
)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star-schema scan-pruning pattern at 100 TB: a fact table
    partitioned by date joined to a small calendar dimension filtered
    on an attribute (here: day-of-week). The partition keys that
    survive the dim filter are only known at RUN time — static pruning
    can't help — so Spark's dynamic partition pruning inserts a
    runtime subquery into the fact scan's PartitionFilters and reads
    ONLY the matching date directories (tests/test_layout.py pins
    `dynamicpruning` in the physical plan). With 2 qualifying days in
    a 14-day table, 6/7 of the I/O never happens; at a 100 TB / 3-year
    fact table the same plan reads the ~150 matching days out of
    ~1100.

    The calendar dim derives from the raw table (dates + epoch-day %
    7 — integer arithmetic, no locale ambiguity) and broadcasts; DPP
    reuses that broadcast as the pruning subquery, so the pruning is
    free. Results are layout-independent (the oracle reads the raw
    table)."""
    fact = _events_by_date(spark, sf_dir)
    cal = (
        load_table(spark, sf_dir, "events")
        .select(
            F.to_date("ts").alias("event_date"),
            F.expr("(unix_timestamp(ts) div 86400) % 7").alias("dow"),
        )
        .distinct()
    )
    dim = cal.filter(F.col("dow") == _DPP_DOW)
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# k-dimensional generalization: 3-column Z-order
# ---------------------------------------------------------------------------

# 10 bits per dimension -> 30-bit z3. The bit budget per dimension
# shrinks as dimensions are added (the classic z-order trade: each
# extra clustered column dilutes every column's per-file span), which
# is why production guidance caps ZORDER BY at 2-4 columns.
_BITS3 = 10
_MASK3 = 2**_BITS3
_COARSE3_SHIFT = 2 ** (3 * _BITS3 - 6)

_SPARK_Z3 = " + ".join(
    f"((({{x}}) div {2**b}) % 2) * {2 ** (3 * b)}L"
    f" + ((({{y}}) div {2**b}) % 2) * {2 ** (3 * b + 1)}L"
    f" + ((({{t}}) div {2**b}) % 2) * {2 ** (3 * b + 2)}L"
    for b in range(_BITS3)
)
_DUCK_Z3 = "CAST(" + " + ".join(
    f"((({{x}}) // {2**b}) % 2) * {2 ** (3 * b)}"
    f" + ((({{y}}) // {2**b}) % 2) * {2 ** (3 * b + 1)}"
    f" + ((({{t}}) // {2**b}) % 2) * {2 ** (3 * b + 2)}"
    for b in range(_BITS3)
) + " AS BIGINT)"

# third dimension: a deterministic portable code for event_type (no
# semantic order needed for clustering — only that equal types share
# a code)
_SPARK_T = f"({md5h('event_type')}) % {_MASK3}"
_DUCK_T = f"({sql_md5h('event_type')}) % {_MASK3}"


@query(
    "zorder3_layout",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, {_DUCK_X} AS x, {_DUCK_Y} AS y, {_DUCK_T} AS t
        FROM events),
    zed AS (
        SELECT event_id, x, y, t,
               {_DUCK_Z3.format(x='xn', y='yn', t='t')} AS z
        FROM (
            SELECT pts.*,
                   {_DUCK_NORM2.format(v='x', lo='b.xlo', hi='b.xhi', top=_MASK3 - 1)} AS xn,
                   {_DUCK_NORM2.format(v='y', lo='b.ylo', hi='b.yhi', top=_MASK3 - 1)} AS yn
            FROM pts CROSS JOIN (
                SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                       MIN(y) AS ylo, MAX(y) AS yhi FROM pts) b) n),
    tiled AS (
        SELECT *, NTILE({N_FILES}) OVER (ORDER BY z, event_id) AS file_id
        FROM zed)
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS u_min, MAX(x) AS u_max,
           MIN(y) AS h_min, MAX(y) AS h_max,
           MIN(t) AS t_min, MAX(t) AS t_max
    FROM tiled GROUP BY file_id
    """,
)
def zorder3_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-column Z-order (user, hour, event-type code): the k-dim
    generalization of zorder_layout — interleave stride 3, 10 bits
    per dimension. Demonstrates the construction is k-ary, and the
    trade that comes with it: the per-dimension bit budget (and so
    per-file span tightness) dilutes as columns are added, which is
    why production ZORDER BY guidance caps at 2-4 columns. The type
    dimension uses a portable content-hash code — clustering needs
    equal values co-located, not a semantic order.

    Scale: identical profile to zorder_layout — per-row integer
    projection, distributed exact NTILE on z3 high-bit buckets,
    map-combined per-file stats."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        F.expr(_SPARK_X).alias("x"),
        F.expr(_SPARK_Y).alias("y"),
        F.expr(_SPARK_T).alias("t"),
    )
    bounds = pts.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    from mapreduce_wordcounter_spark.session import pin

    top = _MASK3 - 1
    # pinned for the same reason as _zed: the NTILE construction reads
    # this relation three times (count, bucket histogram, rank join)
    zed = pin(
        pts.crossJoin(F.broadcast(bounds))
        .withColumn(
            "xn", F.expr(_NORM.format(v="x", lo="xlo", hi="xhi", top=top))
        )
        .withColumn(
            "yn", F.expr(_NORM.format(v="y", lo="ylo", hi="yhi", top=top))
        )
        .withColumn("z", F.expr(_SPARK_Z3.format(x="xn", y="yn", t="t")))
        .drop("xlo", "xhi", "ylo", "yhi", "xn", "yn")
        .withColumn("zbucket", F.expr(f"z div {_COARSE3_SHIFT}"))
    )
    tiled = _distributed_ntile(zed, "zbucket", ["z", "event_id"], N_FILES)
    return tiled.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("u_min"),
        F.max("x").alias("u_max"),
        F.min("y").alias("h_min"),
        F.max("y").alias("h_max"),
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout: the locality-tighter alternative to Z-order
# ---------------------------------------------------------------------------

# Order-H Hilbert curve on a 2^H x 2^H grid. Unlike Morton/Z (a plain
# bit-interleave sum), the Hilbert mapping is a per-bit STATEFUL loop
# (quadrant rotations), so both engines compute it as H chained
# closed-form steps over named intermediates — linear expression
# growth, no exponential inlining. The classic xy2d recurrence
# (Hamilton's compact form, public domain; same loop Delta Lake's
# liquid clustering and Iceberg's hilbert-order use): per bit s from
# high to low,
#   rx = (x div s) % 2 ; ry = (y div s) % 2
#   d += s*s * ((3*rx) XOR ry)        -- = ry if rx=0 else 3-ry
#   if ry = 0: { if rx = 1: x,y = N-1-x, N-1-y }; swap x,y
_HILBERT_BITS = 8
_HN = 2**_HILBERT_BITS  # 256x256 grid, d in [0, 65535]
_HCOARSE_SHIFT = 2 ** (2 * _HILBERT_BITS - 6)  # top 6 d bits


def _hilbert_spark(df: DataFrame, x: str, y: str, out: str) -> DataFrame:
    """Append the Hilbert d-value of integer grid coords (x, y) in
    [0, _HN) as column ``out`` — _HILBERT_BITS chained withColumn
    steps, all JVM integer arithmetic (whole-stage codegen)."""
    df = (
        df.withColumn("__hx", F.col(x))
        .withColumn("__hy", F.col(y))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for i in range(_HILBERT_BITS):
        s = _HN >> (i + 1)
        rx = f"((__hx div {s}) % 2)"
        ry = f"((__hy div {s}) % 2)"
        df = (
            df.withColumn(
                out,
                F.col(out)
                + F.expr(
                    f"{s * s} * (CASE WHEN {rx} = 0 THEN {ry} "
                    f"ELSE 3 - {ry} END)"
                ),
            )
            .withColumn(
                "__hx2",
                F.expr(
                    f"CASE WHEN {ry} = 1 THEN __hx "
                    f"WHEN {rx} = 1 THEN {_HN - 1} - __hy "
                    f"ELSE __hy END"
                ),
            )
            .withColumn(
                "__hy2",
                F.expr(
                    f"CASE WHEN {ry} = 1 THEN __hy "
                    f"WHEN {rx} = 1 THEN {_HN - 1} - __hx "
                    f"ELSE __hx END"
                ),
            )
            .drop("__hx", "__hy")
            .withColumnRenamed("__hx2", "__hx")
            .withColumnRenamed("__hy2", "__hy")
        )
    return df.drop("__hx", "__hy")


def _hilbert_duck(inner: str, keep: str) -> str:
    """The same chained recurrence as nested DuckDB subqueries:
    ``inner`` must yield columns hx0, hy0 (grid coords) plus ``keep``
    columns; the result exposes ``keep`` plus hd (the d-value)."""
    q = f"SELECT {keep}, hx0 AS hx, hy0 AS hy, 0 AS hd FROM ({inner}) h0"
    for i in range(_HILBERT_BITS):
        s = _HN >> (i + 1)
        q = f"""
        SELECT {keep},
               CASE WHEN ry = 1 THEN hx
                    WHEN rx = 1 THEN {_HN - 1} - hy
                    ELSE hy END AS hx,
               CASE WHEN ry = 1 THEN hy
                    WHEN rx = 1 THEN {_HN - 1} - hx
                    ELSE hx END AS hy,
               hd + {s * s} * (CASE WHEN rx = 0 THEN ry
                                    ELSE 3 - ry END) AS hd
        FROM (SELECT *, (hx // {s}) % 2 AS rx, (hy // {s}) % 2 AS ry
              FROM ({q}) g{i}) r{i}"""
    return q


def _hilbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events projected to the same (user, hour) coords as _zed, with
    the Hilbert d-value on the 256-grid normalization — pinned for the
    multi-read NTILE construction (the _zed posture)."""
    from mapreduce_wordcounter_spark.session import pin

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        "ts",
        F.expr(_SPARK_X).alias("x"),
        F.expr(_SPARK_Y).alias("y"),
    )
    bounds = pts.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    top = _HN - 1
    grid = (
        pts.crossJoin(F.broadcast(bounds))
        .withColumn("gx", F.expr(_NORM.format(v="x", lo="xlo", hi="xhi", top=top)))
        .withColumn("gy", F.expr(_NORM.format(v="y", lo="ylo", hi="yhi", top=top)))
        .drop("xlo", "xhi", "ylo", "yhi")
    )
    return pin(
        _hilbert_spark(grid, "gx", "gy", "hd")
        .drop("gx", "gy")
        .withColumn("hbucket", F.expr(f"hd div {_HCOARSE_SHIFT}"))
    )


_DUCK_HILBED = f"""
        {_hilbert_duck(
            f'''SELECT event_id, ts, x, y,
                {_DUCK_NORM2.format(v='x', lo='b.xlo', hi='b.xhi', top=_HN - 1)} AS hx0,
                {_DUCK_NORM2.format(v='y', lo='b.ylo', hi='b.yhi', top=_HN - 1)} AS hy0
                FROM pts CROSS JOIN (
                    SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                           MIN(y) AS ylo, MAX(y) AS yhi FROM pts) b''',
            'event_id, ts, x, y',
        )}
"""


@query(
    "hilbert_layout",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, ts, {_DUCK_X} AS x, {_DUCK_Y} AS y
        FROM events),
    hilbed AS ({_DUCK_HILBED}),
    tiled AS (
        SELECT *, NTILE({N_FILES}) OVER (ORDER BY hd, event_id) AS file_id
        FROM hilbed)
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS u_min, MAX(x) AS u_max,
           MIN(y) AS h_min, MAX(y) AS h_max,
           CAST(MIN(hd) AS BIGINT) AS d_min, CAST(MAX(hd) AS BIGINT) AS d_max
    FROM tiled GROUP BY file_id
    """,
)
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve file layout for ``events`` clustered on
    (user_id, hour): same shape as zorder_layout, with the space-
    filling curve swapped for the one with strictly better locality —
    every curve step moves one grid cell (no Z-shape jumps), so
    consecutive d-ranges tile the plane in connected blobs and
    per-file spans tighten on BOTH dimensions (quantified against
    Z-order by hilbert_vs_zorder_spans). This is the curve behind
    Delta liquid clustering and Iceberg's hilbert sort order.

    Scale: the d-value is _HILBERT_BITS chained integer CASE steps —
    per-row, shuffle-free, whole-stage-codegen'd (the stateful loop
    unrolls at plan time, it never becomes a Python UDF); then the
    same distributed exact-NTILE + map-combined stats as Z-order. The
    oracle replays the identical recurrence as nested subqueries."""
    tiled = _distributed_ntile(
        _hilbed(spark, sf_dir), "hbucket", ["hd", "event_id"], N_FILES
    )
    return tiled.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("u_min"),
        F.max("x").alias("u_max"),
        F.min("y").alias("h_min"),
        F.max("y").alias("h_max"),
        F.min("hd").cast("bigint").alias("d_min"),
        F.max("hd").cast("bigint").alias("d_max"),
    )


@query(
    "hilbert_vs_zorder_spans",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, ts, {_DUCK_X} AS x, {_DUCK_Y} AS y
        FROM events),
    zed AS ({_DUCK_ZED}),
    hilbed AS ({_DUCK_HILBED}),
    ztiles AS (
        SELECT x, y, NTILE({N_FILES}) OVER (ORDER BY z, event_id) AS file_id
        FROM zed),
    htiles AS (
        SELECT x, y, NTILE({N_FILES}) OVER (ORDER BY hd, event_id) AS file_id
        FROM hilbed),
    zspan AS (
        SELECT 'zorder' AS layout,
               CAST(SUM(u_span) AS BIGINT) AS sum_u_span,
               CAST(SUM(h_span) AS BIGINT) AS sum_h_span
        FROM (SELECT MAX(x) - MIN(x) AS u_span, MAX(y) - MIN(y) AS h_span
              FROM ztiles GROUP BY file_id)),
    hspan AS (
        SELECT 'hilbert' AS layout,
               CAST(SUM(u_span) AS BIGINT) AS sum_u_span,
               CAST(SUM(h_span) AS BIGINT) AS sum_h_span
        FROM (SELECT MAX(x) - MIN(x) AS u_span, MAX(y) - MIN(y) AS h_span
              FROM htiles GROUP BY file_id))
    SELECT * FROM zspan UNION ALL SELECT * FROM hspan
    """,
)
def hilbert_vs_zorder_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head locality: summed per-file (u, h) spans for the
    SAME points tiled into the same file count by each curve. Hilbert
    should match or beat Z-order's span totals (its d-adjacency is
    grid-adjacency; Z pays quadrant-jump seams) — the measured basis
    for preferring it when re-clustering a 100 TB table, and the
    pytest invariant (test_layout.py) pins the win on total span.

    Scale: two per-row curve projections over one pinned relation,
    two balanced NTILE shuffles, map-combined span stats — identical
    profile to layout_span_compare."""
    zed = _zed(spark, sf_dir)
    hil = _hilbed(spark, sf_dir)

    def spans(tiled: DataFrame, label: str) -> DataFrame:
        per_file = tiled.groupBy("file_id").agg(
            (F.max("x") - F.min("x")).alias("u_span"),
            (F.max("y") - F.min("y")).alias("h_span"),
        )
        return per_file.select(
            F.lit(label).alias("layout"),
            F.sum("u_span").cast("bigint").alias("sum_u_span"),
            F.sum("h_span").cast("bigint").alias("sum_h_span"),
        )

    ztiles = _distributed_ntile(zed, "zbucket", ["z", "event_id"], N_FILES)
    htiles = _distributed_ntile(hil, "hbucket", ["hd", "event_id"], N_FILES)
    return spans(ztiles, "zorder").unionAll(spans(htiles, "hilbert"))


# Hilbert at rest: materialized d-sorted table + the same slice probe
def _hilbert_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hilbert-sorted events copy at rest (the OPTIMIZE write for
    the Hilbert clustering — _zorder_table's posture with the curve
    swapped): range-partition on hd, sort within, so every file holds
    one contiguous d-range and, because consecutive d is
    grid-adjacent, a connected (user, hour) blob — narrow parquet
    min/max on BOTH dimensions."""
    from mapreduce_wordcounter_spark.session import derived, scratch_dir

    def build():
        path = os.path.join(scratch_dir("hilbert_events_"), "events_h")
        e = load_table(spark, sf_dir, "events")
        hil = _hilbed(spark, sf_dir).select("event_id", "hd")
        (
            e.join(hil, "event_id")
            .repartitionByRange(N_FILES, "hd", "event_id")
            .sortWithinPartitions("hd", "event_id")
            .write.parquet(path)
        )
        return path

    return spark.read.parquet(
        derived(spark, sf_dir, "hilbert_table", build, _committed)
    )


@query("hilbert_probe", oracle=ORACLE["zorder_probe"])
def hilbert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-dimensional slice as zorder_probe against the
    AT-REST hilbert-sorted table — byte-identical results (layouts
    are lossless; the shared oracle reads the raw table), tighter
    pruning: hilbert_vs_zorder_spans measures the per-file span win
    that makes this scan skip at least as many files. Same serve
    profile: scan -> pushed filters -> map-combined groupBy."""
    eh = _hilbert_table(spark, sf_dir)
    h = "(unix_timestamp(ts) div 3600)"
    bounds = eh.agg(F.expr(f"min({h})").alias("h0"))
    return (
        eh.crossJoin(F.broadcast(bounds))
        .filter(
            F.col("user_id").between(_PROBE_U_LO, _PROBE_U_HI)
            & F.expr(
                f"{h} BETWEEN h0 + {_PROBE_H_LO} AND h0 + {_PROBE_H_HI}"
            )
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")
            )
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )
