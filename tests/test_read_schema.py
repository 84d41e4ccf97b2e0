"""Parquet schemas are inferred once per session (tables.read_parquet):
a repeat base-table load, versioned-snapshot read or index-catalog
read builds without a footer-read Spark job, a table replaced under
the same path is inferred again, and the chokepoint modules read
parquet only through the helper."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark import tables
from mapreduce_wordcounter_spark.registry import all_queries
from mapreduce_wordcounter_spark.sources.versioned import VersionedTable
from mapreduce_wordcounter_spark.tables import load_table
from tests.conftest import SF_SMOKE

_PKG = pathlib.Path(tables.__file__).parent

# serve_mix (perfbench/run.py) without its streaming drain, which runs
# its micro-batches inside the build by design.
_SERVE_BATCH = (
    "wc_top100",
    "q1_pricing_summary",
    "dedup_exact",
    "join_asof_last_purchase",
    "quality_lr_predict",
    "ev_tumbling_hourly",
    "merge_into_versioned",
    "table_delete_versioned",
    "table_time_travel",
    "table_pruned_range",
)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _jobs_to_build(spark, build) -> int:
    j0 = _jobs(spark)
    build()
    return _jobs(spark) - j0


def test_repeat_load_table_runs_no_job(spark):
    for name in ("orders", "events"):
        first = load_table(spark, SF_SMOKE, name)
        assert _jobs_to_build(spark, lambda: load_table(spark, SF_SMOKE, name)) == 0
        assert load_table(spark, SF_SMOKE, name).schema == first.schema


def test_repeat_versioned_read_runs_no_job(spark, tmp_path):
    """The second read of one snapshot runs no job, and its schema is
    what mergeSchema inference over that snapshot's files gives."""
    vt = VersionedTable(str(tmp_path / "t"))
    vt.create(spark.range(20).select(F.col("id").alias("k"), F.lit(1.0).alias("v")))
    vt.append(spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string"))
    v = vt.latest_version()
    vt.read(spark, v)
    assert _jobs_to_build(spark, lambda: vt.read(spark, v)) == 0
    snap = vt.snapshot(v)
    inferred = spark.read.option("mergeSchema", "true").parquet(
        *[str(tmp_path / "t" / f) for f in snap["files"]]
    )
    assert vt.read(spark, v).schema == vt._project(inferred, snap).schema
    assert vt.read(spark, v).filter("tag = 'gold'").count() == 1


def test_table_replaced_under_same_path_is_reinferred(spark, tmp_path):
    """The stored schema is keyed by path but checked against each
    path's stat fingerprint: a table overwritten with an extra column
    surfaces it on the next load."""
    sf = str(tmp_path)
    path = str(tmp_path / "nation.parquet")
    base = spark.range(5).select(F.col("id").alias("n_nationkey"))
    base.write.mode("overwrite").parquet(path)
    assert load_table(spark, sf, "nation").columns == ["n_nationkey"]
    base.withColumn("n_name", F.lit("x")).write.mode("overwrite").parquet(path)
    again = load_table(spark, sf, "nation")
    assert again.columns == ["n_nationkey", "n_name"]
    assert again.filter("n_name = 'x'").count() == 5


def test_dataset_bytes_reused_until_the_table_changes(spark, tmp_path, monkeypatch):
    """spread_narrow_scan walks a dataset's tree once per session, and
    again only after the table's stat fingerprint changes."""
    sf = str(tmp_path)
    path = tmp_path / "orders.parquet"
    spark.range(50).write.parquet(str(path))
    df = spark.range(1)
    walks = []
    walk = tables._dataset_bytes
    monkeypatch.setattr(
        tables, "_dataset_bytes", lambda p: walks.append(p) or walk(p)
    )
    tables.spread_narrow_scan(spark, df, sf, "orders")
    tables.spread_narrow_scan(spark, df, sf, "orders")
    assert len(walks) == 1
    spark.range(500).write.mode("overwrite").parquet(str(path))
    tables.spread_narrow_scan(spark, df, sf, "orders")
    assert len(walks) == 2


@pytest.mark.parametrize("name", _SERVE_BATCH)
def test_serve_query_rebuild_runs_no_job(spark, name):
    """Once a serving query has run, building it again runs no Spark
    job: every eager step (schema inference, row counts, versioned
    lineages, model fits) is served from session state."""
    fn = all_queries()[name]
    fn(spark, SF_SMOKE).collect()
    assert _jobs_to_build(spark, lambda: fn(spark, SF_SMOKE)) == 0


def test_index_query_rebuild_runs_no_job(spark):
    """An index-backed query's second build reads the published index
    with its stored schema: no footer-read job (index_catalog reads
    through read_parquet)."""
    fn = all_queries()["search_phrase_positional"]
    fn(spark, SF_SMOKE).collect()
    assert _jobs_to_build(spark, lambda: fn(spark, SF_SMOKE)) == 0


def _parquet_reads(tree: ast.AST):
    """``.parquet(...)`` calls that are not on a writer chain
    (``df.write...``): reads, including through a reader variable."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        recv = node.func.value
        attrs = set()
        while isinstance(recv, (ast.Attribute, ast.Call)):
            if isinstance(recv, ast.Call):
                recv = recv.func
            else:
                attrs.add(recv.attr)
                recv = recv.value
        if "write" not in attrs:
            yield node


def test_parquet_reads_go_through_read_parquet():
    """tables.py, sources/versioned.py and sources/index_catalog.py
    read parquet only through read_parquet, so no build re-infers a
    schema the session holds. The scan must find read_parquet's own
    two reads, and passes over versioned.py's writes."""
    bad, n_allowed = [], 0
    for rel in ("tables.py", "sources/versioned.py", "sources/index_catalog.py"):
        tree = ast.parse((_PKG / rel).read_text())
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "read_parquet"
            for n in _parquet_reads(fn)
        }
        n_allowed += len(allowed)
        bad += [
            f"{rel}:{n.lineno}" for n in _parquet_reads(tree) if id(n) not in allowed
        ]
    assert n_allowed == 2
    assert not bad, bad
