"""Layout-operator quality tests (oracle parity proves the tile
assignment and stats are exact; these prove the layout is WORTH
computing — the Z-order curve must actually beat the ingest order on
the dimension the linear sort ignores)."""

from __future__ import annotations

from mapreduce_wordcounter_spark.registry import all_queries

_QUERIES = all_queries()
SF = "/root/testdata/sf0.01"


def test_zorder_collapses_user_span(spark):
    """The point of the operator: vs the time-linear layout, Z-order
    must cut the summed per-file user-id span by a large factor while
    paying at most a bounded increase on the hour span."""
    df = _QUERIES["layout_span_compare"](spark, SF).toPandas().set_index("layout")
    z, lin = df.loc["zorder"], df.loc["linear_ts"]
    # user span: linear keeps ~full range in every file; zorder must
    # collapse it (2x is far below the measured win, but robust).
    assert z.sum_u_span * 2 < lin.sum_u_span, (z.sum_u_span, lin.sum_u_span)
    # hour span: zorder widens it, but must stay within ~the total
    # range times file count (it trades, it does not destroy).
    assert z.sum_h_span > 0


def test_zorder_tiles_are_balanced(spark):
    """Exact NTILE semantics survived the distributed construction:
    tile sizes differ by at most one row and cover every row."""
    pdf = _QUERIES["zorder_layout"](spark, SF).toPandas()
    assert len(pdf) == 32
    assert pdf.n_rows.max() - pdf.n_rows.min() <= 1
    assert pdf.n_rows.sum() == 10_000
    # z ranges of consecutive tiles must not interleave (global sort)
    pdf = pdf.sort_values("file_id")
    assert (pdf.z_min.values[1:] >= pdf.z_max.values[:-1]).all()


def test_zorder_at_rest_files_carry_narrow_stats(spark):
    """The materialized z-table's parquet footers must hold the
    promise the probe relies on: per-file user_id min/max spans far
    below the full range (the raw ingest-ordered table has ~full range
    in every file). Read the footers directly — this is exactly the
    metadata a scan planner prunes on."""
    import pyarrow.parquet as pq
    import glob as _glob

    from mapreduce_wordcounter_spark.operators.layout import _zorder_table

    ez = _zorder_table(spark, SF)
    path = ez.inputFiles()[0].replace("file://", "")
    base = path.rsplit("/", 1)[0]
    files = [f for f in _glob.glob(base + "/*.parquet")]
    assert len(files) >= 8
    full_lo, full_hi = None, None
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        ci = cols["user_id"]
        lo = min(
            md.row_group(g).column(ci).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(ci).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append(hi - lo)
        full_lo = lo if full_lo is None else min(full_lo, lo)
        full_hi = hi if full_hi is None else max(full_hi, hi)
    full = full_hi - full_lo
    # average per-file span must be well under the full range
    assert sum(spans) / len(spans) < full * 0.75, (spans, full)


def test_zorder_probe_matches_raw_scan(spark):
    """The layout is lossless: the probe over the z-sorted copy must
    return exactly what the same predicate over the raw table
    returns."""
    from pyspark.sql import functions as F

    probe = (
        _QUERIES["zorder_probe"](spark, SF)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    e = spark.read.parquet(f"{SF}/events.parquet")
    h = "(unix_timestamp(ts) div 3600)"
    bounds = e.agg(F.expr(f"min({h})").alias("h0"))
    raw = (
        e.crossJoin(F.broadcast(bounds))
        .filter(
            F.col("user_id").between(40, 79)
            & F.expr(f"{h} BETWEEN h0 + 24 AND h0 + 95")
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
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert probe.equals(raw), (probe, raw)


def test_zorder_table_rebuilds_after_scratch_eviction(spark):
    """The z-sorted copy is session state held at rest: when its
    scratch dir is removed under a live session, the next probe
    rebuilds the copy at a new path and returns the same rows."""
    import os
    import shutil

    from mapreduce_wordcounter_spark.session import _DERIVED

    def probe():
        return (
            _QUERIES["zorder_probe"](spark, SF)
            .toPandas()
            .sort_values("event_type")
            .reset_index(drop=True)
        )

    before = probe()
    key = (spark.sparkContext.applicationId, SF, "zorder_table")
    old = _DERIVED[key]
    shutil.rmtree(os.path.dirname(old))
    after = probe()
    assert _DERIVED[key] != old
    assert after.equals(before), (before, after)


def test_dpp_prunes_fact_partitions(spark):
    """The star-join must carry a runtime partition filter: the fact
    scan's PartitionFilters must contain a dynamicpruning expression
    (i.e., Spark reads only the date directories the filtered calendar
    dim selects), and the fact scan's data schema must be pruned to
    the one data column the query needs."""
    df = _QUERIES["dpp_partitioned_join"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:2000]
    assert "events_pd" in plan
    # column pruning: the partitioned fact scan reads event_type only
    import re

    fact_scans = [
        ln for ln in plan.splitlines() if "events_pd" in ln and "FileScan" in ln
    ]
    assert fact_scans and all(
        "ReadSchema: struct<event_type:string>" in ln for ln in fact_scans
    ), fact_scans


def test_hilbert_d_matches_reference_recurrence(spark):
    """The chained-CASE Hilbert projection must equal the classic
    xy2d loop bit-for-bit on a deterministic grid sample — the
    engine-side twin of the DuckDB-fragment check, proving both
    dialects implement the same curve."""
    from pyspark.sql import functions as F

    from mapreduce_wordcounter_spark.operators.layout import (
        _HN,
        _hilbert_spark,
    )

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(0, _HN, 19) for y in range(0, _HN, 23)]
    df = spark.createDataFrame(pts, "gx int, gy int")
    got = {
        (r["gx"], r["gy"]): r["hd"]
        for r in _hilbert_spark(df, "gx", "gy", "hd").collect()
    }
    assert got == {(x, y): xy2d(_HN, x, y) for x, y in pts}


def test_hilbert_beats_zorder_on_total_span(spark):
    """The reason the Hilbert layout exists: for the same points and
    file count, its summed per-file span across both clustered
    dimensions must not exceed Z-order's (unit-step adjacency vs
    quadrant seams). Pinned on the real testdata."""
    rows = {
        r["layout"]: (r["sum_u_span"], r["sum_h_span"])
        for r in _QUERIES["hilbert_vs_zorder_spans"](spark, SF).collect()
    }
    h, z = rows["hilbert"], rows["zorder"]
    assert h[0] + h[1] <= z[0] + z[1], rows


def test_hilbert_at_rest_files_carry_narrow_stats(spark):
    """The hilbert-sorted copy's parquet footers must carry the same
    prunable promise as the z-table: per-file user_id spans well
    under the full range — the metadata hilbert_probe's pushed
    filters skip on."""
    import glob as _glob

    import pyarrow.parquet as pq

    from mapreduce_wordcounter_spark.operators.layout import _hilbert_table

    eh = _hilbert_table(spark, SF)
    path = eh.inputFiles()[0].replace("file://", "")
    base = path.rsplit("/", 1)[0]
    files = [f for f in _glob.glob(base + "/*.parquet")]
    assert len(files) >= 8
    full_lo, full_hi, spans = None, None, []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        ci = cols["user_id"]
        lo = min(
            md.row_group(g).column(ci).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(ci).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append(hi - lo)
        full_lo = lo if full_lo is None else min(full_lo, lo)
        full_hi = hi if full_hi is None else max(full_hi, hi)
    full = full_hi - full_lo
    assert sum(spans) / len(spans) < full * 0.75, (spans, full)
