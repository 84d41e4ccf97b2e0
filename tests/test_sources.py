"""Source/sink connector tests (SURVEY.md §2 O1/O3/O12/O15).

Covers the reference's input semantics re-expressed on Spark — text
corpus scan with per-file grain, corrupt-member tolerance, empty-input
rejection — plus the extension readers (schema-first CSV/JSON/parquet)
and sinks (partitioned parquet, bucketed tables, single-file exports).
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_wordcounter_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
    read_text_corpus,
)
from mapreduce_wordcounter_spark.sources.writers import (
    export_single_csv,
    write_bucketed_table,
    write_partitioned_parquet,
)
from mapreduce_wordcounter_spark.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture()
def corpus(tmp_path):
    """Two clean text files mirroring the reference's golden test
    corpus shape (main_test.go:16-26)."""
    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text("apple orange! banana? apple.\nbanana apple: apple. banana\n")
    b.write_text("apple orange! banana? apple.\nbanana apple: apple. banana\n")
    return [str(a), str(b)]


def test_text_corpus_lines_and_per_file_grain(spark, corpus):
    df = read_text_corpus(spark, corpus)
    assert df.columns == ["path", "text"]
    assert df.count() == 4  # 2 lines x 2 files
    per_file = df.groupBy("path").count().collect()
    assert sorted(r["count"] for r in per_file) == [2, 2]


def test_text_corpus_wholetext_is_per_file(spark, corpus):
    df = read_text_corpus(spark, corpus, whole_file=True)
    assert df.count() == 2
    texts = [r["text"] for r in df.collect()]
    assert all(t.count("\n") >= 1 for t in texts)


def test_text_corpus_flagship_counts(spark, corpus):
    """End-to-end: reference golden counts {apple: 8, orange: 2,
    banana: 6} (main_test.go:36-40)."""
    words = (
        read_text_corpus(spark, corpus)
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"[^\p{L}]+"), lambda x: x != ""
                )
            ).alias("word")
        )
        .groupBy("word")
        .count()
    )
    got = {r["word"]: r["count"] for r in words.collect()}
    assert got == {"apple": 8, "orange": 2, "banana": 6}


def test_text_corpus_empty_paths_rejected(spark):
    with pytest.raises(ValueError):
        read_text_corpus(spark, [])


def test_text_corpus_skips_corrupt_member(spark, corpus, tmp_path):
    """A truncated gzip member is skipped, not fatal — the reference's
    warn-and-continue on unreadable files (main.go:128-131)."""
    bad = tmp_path / "bad.txt.gz"
    bad.write_bytes(gzip.compress(b"zzz unreachable zzz\n" * 100)[:20])
    df = read_text_corpus(spark, [*corpus, str(bad)])
    words = df.filter(F.col("text").contains("unreachable"))
    assert df.count() == 4 and words.count() == 0


def test_csv_roundtrip_strict(spark, tmp_path):
    nation = load_table(spark, SF_ORACLE, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.option("header", "true").csv(out)
    back = read_csv(spark, out, nation.schema)
    assert back.schema == nation.schema
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in nation.collect()
    )


def test_csv_permissive_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text("k,v\n1,alpha\nnot_an_int,beta\n3,gamma\n")
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema, strict=False).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1 and "not_an_int" in bad.collect()[0]["_corrupt_record"]


def test_json_roundtrip(spark, tmp_path):
    region = load_table(spark, SF_ORACLE, "region")
    out = str(tmp_path / "region_json")
    region.write.json(out)
    back = read_json(spark, out, region.schema)
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in region.collect()
    )


def test_parquet_schema_drift_detection(spark, tmp_path):
    region = load_table(spark, SF_ORACLE, "region")
    out = str(tmp_path / "region_pq")
    region.write.parquet(out)
    read_parquet(spark, out, expected_schema=region.schema)  # no raise
    wrong = T.StructType([T.StructField("r_regionkey", T.StringType())])
    with pytest.raises(TypeError, match="schema drift"):
        read_parquet(spark, out, expected_schema=wrong)


def test_partitioned_parquet_prunes(spark, tmp_path):
    orders = load_table(spark, SF_ORACLE, "orders")
    out = str(tmp_path / "orders_part")
    write_partitioned_parquet(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    one = back.filter(F.col("o_orderstatus") == "F")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: the status predicate is a PartitionFilter on
    # the scan, so non-matching directories are never opened.
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert one.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join with zero Exchange
    operators — the pre-shuffled layout that replaces the reference's
    mutex-guarded global merge (main.go:191-193) at rest."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # The default in-memory catalog forgets tables between sessions
        # but their warehouse dirs persist; clear both.
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders = load_table(spark, SF_ORACLE, "orders")
    lineitem = load_table(spark, SF_ORACLE, "lineitem")
    write_bucketed_table(orders, "t_orders_b", ["o_orderkey"], 8)
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        8,
    )
    # Force the non-broadcast plan: at sf0.01 orders fits under the
    # broadcast threshold, but the point here is the co-located
    # sort-merge path a 100 TB fact-fact join would take.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_incremental_dedup_base_no_exchange(spark):
    """dedup_incremental_new's anti-join must plan ZERO exchanges on
    the bucketed base-snapshot side — the property that makes
    cross-snapshot dedup affordable when the base is accumulated
    history (~100 TB) and only the daily increment shuffles. Broadcast
    is disabled to force the sort-merge path a history-sized base would
    take; the base scan then feeds the join through its bucketing alone."""
    from mapreduce_wordcounter_spark.operators.dedup import dedup_incremental_new

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup_incremental_new(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        # Exactly one shuffle: the probe (increment) side. The bucketed
        # base side must reach the join without an Exchange.
        import re

        assert len(re.findall(r"Exchange hash", plan)) == 1, plan
        assert "SelectedBucketsCount" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively; the
    engine's readers/writers are format-agnostic DataFrame ops, so a
    round-trip plus predicate pushdown check covers it."""
    orders = load_table(spark, SF_ORACLE, "orders")
    out = str(tmp_path / "orders_orc")
    orders.write.orc(out)
    back = spark.read.orc(out)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_orderkey") == 42)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "orc" in plan.lower()


def test_export_single_csv(spark, tmp_path):
    region = load_table(spark, SF_ORACLE, "region")
    out = str(tmp_path / "region_export")
    export_single_csv(region.orderBy("r_regionkey"), out)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == region.count()


def test_binaryfile_source_for_media(spark, tmp_path):
    """The multimodal ingestion path: `binaryFile` reads whole files as
    (path, modificationTime, length, content: binary) — how raw
    image/audio payloads enter the engine before the mapInPandas
    feature extractors (operators/multimodal.py). Partition-parallel:
    one task per file group, content never touches the driver."""
    d = tmp_path / "media"
    d.mkdir()
    payloads = {f"blob_{i}.bin": bytes([i]) * (100 + i) for i in range(5)}
    for name, data in payloads.items():
        (d / name).write_bytes(data)
    df = spark.read.format("binaryFile").load(str(d))
    rows = df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"), "length", "content"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert bytes(r["content"]) == payloads[r["name"]]
        assert r["length"] == len(payloads[r["name"]])


def test_observe_metrics_like_reference_summary(spark):
    """The reference prints elapsed time + distinct-vocabulary size as
    its run summary (main.go:60,73 — SURVEY.md O13). Spark's native
    analog is `observe()`: named aggregates collected as a side effect
    of the action, no second scan. Pinned here so the metrics path
    stays wired."""
    from pyspark.sql import Observation
    from mapreduce_wordcounter_spark.operators.wordcount import wc_counts

    obs = Observation("summary")
    counts = wc_counts(spark, SF_ORACLE).observe(
        obs, F.count(F.lit(1)).alias("vocab"), F.sum("cnt").alias("total_tokens")
    )
    counts.write.format("noop").mode("overwrite").save()
    exact_vocab = wc_counts(spark, SF_ORACLE).count()
    assert obs.get["vocab"] == exact_vocab
    assert obs.get["total_tokens"] > exact_vocab  # corpus repeats words


def test_scratch_snapshot_tables_are_dropped_at_cleanup(spark):
    """write_base_snapshot creates a uuid-named catalog table per call;
    the atexit hook must DROP it as well as deleting its scratch dir,
    or dangling metadata accumulates across bench passes / persistent
    metastores (ADVICE r3). Calls the cleanup directly and checks the
    catalog."""
    from mapreduce_wordcounter_spark.operators.dedup import write_base_snapshot
    from mapreduce_wordcounter_spark.session import (
        _SCRATCH_TABLES,
        _cleanup_scratch_dirs,
    )

    table = write_base_snapshot(spark, SF_ORACLE)
    assert spark.catalog.tableExists(table)
    assert table in _SCRATCH_TABLES
    _cleanup_scratch_dirs()
    assert not spark.catalog.tableExists(table)
    assert not _SCRATCH_TABLES


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC as a first-class source: parquet → ORC → read back must be
    content-identical (orderless), the drift guard must fire on a
    wrong schema, and a filtered ORC scan must show pushed filters +
    a pruned read schema — the same scan hygiene the parquet readers
    are held to."""
    from pyspark.sql import types as T

    from mapreduce_wordcounter_spark.sources.readers import read_orc

    src = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    dest = str(tmp_path / "documents_orc")
    src.write.orc(dest)

    back = read_orc(spark, dest, expected_schema=src.schema)
    a = sorted(tuple(r) for r in src.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b

    with pytest.raises(TypeError, match="schema drift"):
        read_orc(
            spark,
            dest,
            expected_schema=T.StructType([T.StructField("nope", T.LongType())]),
        )

    plan = (
        read_orc(spark, dest)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "struct<doc_id:bigint,lang:string>" in plan.replace("ReadSchema: ", "")


def test_python_datasource_partitioned_read(spark):
    """The Spark 4 Python DataSource API as a first-class connector:
    register, read with options, and verify the content is exactly the
    deterministic generator's output AND that the work split into the
    declared partitions (one task each — the property that makes a
    custom source scale instead of funneling through the driver)."""
    from mapreduce_wordcounter_spark.sources.pydatasource import (
        _WORDS,
        register,
    )

    register(spark)
    df = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 50)
        .option("partitions", 5)
        .option("words_per_doc", 7)
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,n_words:int>"
    )
    assert df.rdd.getNumPartitions() == 5
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == 50
    for doc_id in (0, 17, 49):
        want = " ".join(
            _WORDS[(doc_id * 31 + j * 17) % len(_WORDS)] for j in range(7)
        )
        assert rows[doc_id]["text"] == want
        assert rows[doc_id]["n_words"] == 7
    # And it composes with the engine: the flagship word count runs
    # over the custom source like any other relation.
    n = (
        df.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .count()
        .count()
    )
    assert n == len(set(_WORDS))  # 50 affine seeds cover the vocabulary


def test_colocated_join_no_exchange(spark):
    """join_bucketed_colocated must plan ZERO exchanges on BOTH join
    inputs: each side is bucketed on its join key with the same bucket
    count, so the sort-merge join zips buckets locally and the only
    shuffle left is the final segment aggregate. Broadcast is disabled
    to force the path a fact-sized pair would take."""
    from mapreduce_wordcounter_spark.operators.relational import (
        join_bucketed_colocated,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = join_bucketed_colocated(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        import re

        # Exactly one shuffle: the c_mktsegment aggregate. Neither join
        # input may see an Exchange — bucketing feeds the join alone.
        assert len(re.findall(r"Exchange hash", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pyds_sink_commit_protocol(spark):
    """The Python DataSource writer's two-phase commit: after the
    round-trip query runs, the target dir must hold exactly the
    committed part files plus a _MANIFEST.json whose per-file counts
    sum to the total, and the total must equal the distinct-word
    count the query itself returns."""
    import glob
    import json as _json

    from mapreduce_wordcounter_spark.operators.wordcount import (
        pyds_roundtrip_wordcount,
    )
    from mapreduce_wordcounter_spark.session import _DERIVED

    row = pyds_roundtrip_wordcount(spark, "/root/testdata/sf0.001").collect()[0]
    key = (spark.sparkContext.applicationId, SF_SMOKE, "pyds_sink")
    path = _DERIVED[key]
    manifest = _json.load(open(path + "/_MANIFEST.json"))
    parts = sorted(glob.glob(path + "/part-*.jsonl"))
    assert len(parts) == 4  # repartition(4): one committed file per task
    assert len(manifest["files"]) == 4
    assert manifest["total_rows"] == sum(f["n_rows"] for f in manifest["files"])
    assert manifest["total_rows"] == row["n_words"]


def test_pyds_stream_sink_batch_manifests(spark):
    """The streaming writer commits one manifest PER BATCH, keyed by
    batch id (idempotent on replay): after the bounded stream drains,
    the sink dir must hold per-batch manifests whose totals sum to the
    full corpus, with no row lost or duplicated across batches."""
    import glob
    import json as _json

    from mapreduce_wordcounter_spark.operators.wordcount import (
        stream_pyds_sink_roundtrip,
    )
    from mapreduce_wordcounter_spark.session import _DERIVED

    total_tokens = (
        stream_pyds_sink_roundtrip(spark, "/root/testdata/sf0.001")
        .agg({"cnt": "sum"})
        .collect()[0][0]
    )
    assert total_tokens == 200 * 20
    path = _DERIVED[(spark.sparkContext.applicationId, None, "pyds_stream_sink")]
    manifests = sorted(glob.glob(path + "/_MANIFEST-*.json"))
    assert len(manifests) >= 1
    doc_total = sum(
        _json.load(open(m))["total_rows"] for m in manifests
    )
    assert doc_total == 200


def test_pyds_sink_manifest_read_excludes_orphans(spark):
    """The read path must trust ONLY the manifest: a part file left
    behind by a failed/speculative task attempt (present on disk,
    absent from _MANIFEST.json) and a .staging file from a task that
    crashed mid-write must both be invisible to the round-trip — the
    two-phase commit is only real if the reader honors it."""
    from mapreduce_wordcounter_spark.operators.wordcount import (
        pyds_roundtrip_wordcount,
    )
    from mapreduce_wordcounter_spark.session import _DERIVED

    before = pyds_roundtrip_wordcount(spark, "/root/testdata/sf0.001").collect()[0]
    path = _DERIVED[
        (spark.sparkContext.applicationId, SF_SMOKE, "pyds_sink")
    ]
    orphan = path + "/part-99999-424242.jsonl"
    staging = path + "/part-99998-424243.jsonl.staging"
    with open(orphan, "w") as fh:
        fh.write('{"word": "zombie", "cnt": 1000000}\n')
    with open(staging, "w") as fh:
        fh.write('{"word": "halfwri')  # truncated mid-write
    try:
        after = pyds_roundtrip_wordcount(
            spark, "/root/testdata/sf0.001"
        ).collect()[0]
        assert (after["n_words"], after["total_tokens"]) == (
            before["n_words"],
            before["total_tokens"],
        )
    finally:
        import os

        os.remove(orphan)
        os.remove(staging)


def test_pyds_readback_stderr_is_trace_free():
    """Regression for the round-5 bench-channel noise: reading the sink
    back through a part-* GLOB made Spark's FileStreamSink metadata
    probe stat the literal glob path, throw FileNotFoundException, and
    log a full JVM stack at WARN — ~1.3 KB of stack trace per read-back
    that scrolled the driver's captured bench tail. The manifest-driven
    read passes concrete file paths, so the probe never throws. This
    pins it: the full round-trip runs in a subprocess and its stderr
    must contain no FileStreamSink metadata-probe trace and no py4j
    stack frames."""
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
spark.sparkContext.setLogLevel("WARN")
from mapreduce_wordcounter_spark.registry import all_queries
qs = all_queries()
qs["pyds_roundtrip_wordcount"](spark, "/root/testdata/sf0.001").collect()
qs["stream_pyds_sink_roundtrip"](spark, "/root/testdata/sf0.001").collect()
print("DONE-OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/tmp",
    )
    assert r.returncode == 0 and "DONE-OK" in r.stdout, r.stderr[-2000:]
    for marker in (
        "Error while looking for metadata directory",
        "at py4j.Gateway.invoke",
        "AnalysisException",
    ):
        assert marker not in r.stderr, (
            marker + " leaked into stderr:\n" + r.stderr[-2000:]
        )


def test_arrow_stream_source_contract_and_equivalence(spark):
    """The Arrow-batched full DataSourceStreamReader twin
    (synthetic_corpus_arrow): (1) API-level — offsets advance by
    batch_docs to n_docs and stop; partitions(start,end) tile the
    range exactly; read() yields a RecordBatch whose content matches
    the affine formula (the replay contract: any committed range
    re-reads identically); (2) engine-level — a drained stream over
    the Arrow source equals the batch read of the row-tuple source
    (same schema, same rows: the two connector forms are one source)."""
    import pyarrow as pa

    from mapreduce_wordcounter_spark.sources.pydatasource import (
        _WORDS,
        make_arrow_datasource,
        register,
    )

    ds = make_arrow_datasource()(
        {"n_docs": "30", "batch_docs": "12", "words_per_doc": "5",
         "partitions": "3"}
    )
    r = ds.streamReader(None)
    assert r.initialOffset() == {"doc": 0}
    assert [r.latestOffset() for _ in range(4)] == [
        {"doc": 12}, {"doc": 24}, {"doc": 30}, {"doc": 30}
    ]
    parts = r.partitions({"doc": 12}, {"doc": 24})
    assert [(p.start, p.end) for p in parts] == [(12, 16), (16, 20), (20, 24)]
    batch = next(iter(r.read(parts[0])))
    assert isinstance(batch, pa.RecordBatch)
    got = batch.to_pydict()
    assert got["doc_id"] == [12, 13, 14, 15]
    want = " ".join(_WORDS[(13 * 31 + j * 17) % len(_WORDS)] for j in range(5))
    assert got["text"][1] == want and got["n_words"] == [5] * 4

    register(spark)
    import uuid

    name = "arrow_src_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.format("synthetic_corpus_arrow")
        .option("n_docs", 40)
        .option("batch_docs", 15)
        .option("words_per_doc", 6)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if spark.table(name).count() == 40:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("arrow stream did not drain 40 docs")
    finally:
        q.stop()
    batch_df = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 40)
        .option("words_per_doc", 6)
        .load()
    )
    assert spark.table(name).schema == batch_df.schema
    streamed = sorted(
        (r["doc_id"], r["text"], r["n_words"])
        for r in spark.table(name).collect()
    )
    batched = sorted(
        (r["doc_id"], r["text"], r["n_words"]) for r in batch_df.collect()
    )
    assert streamed == batched


# ---------------------------------------------------------------------------
# Versioned table as a streaming SOURCE (versioned_stream)
# ---------------------------------------------------------------------------


def _register_pyds(spark):
    from mapreduce_wordcounter_spark.sources.pydatasource import register

    register(spark)  # idempotent (session-local flag)


def _drain(df, name, ckpt, timeout=90):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_versioned_stream_source_drains_commits(spark, tmp_path):
    """availableNow over a 3-commit table equals the batch aggregate;
    a LATER commit is picked up incrementally by a second run on the
    SAME checkpoint (the offset is the table version)."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t")
    vt = VersionedTable(path)
    df = spark.range(30).select(
        F.col("k_id").alias("k") if False else F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
    )
    vt.create(df.filter("k < 10"))
    vt.append(df.filter("k >= 10 and k < 20"))
    vt.append(df.filter("k >= 20"))
    s = spark.readStream.format("versioned_stream").option("path", path).load()
    assert s.schema.simpleString() == "struct<k:bigint,g:string>"
    agg = s.groupBy("g").agg(F.count("*").alias("n"))
    _drain(agg, "vst_a", str(tmp_path / "ck"))
    got = sorted(map(tuple, spark.table("vst_a").collect()))
    assert got == [("0", 10), ("1", 10), ("2", 10)]
    # incremental pickup: only the NEW commit's rows enter batch 2
    vt.append(spark.createDataFrame([(100, "0"), (101, "0")], "k bigint, g string"))
    _drain(agg, "vst_b", str(tmp_path / "ck"))
    got2 = dict(map(tuple, spark.table("vst_b").collect()))
    assert got2["0"] == 12 and got2["1"] == 10


def test_versioned_stream_source_rejects_non_append(spark, tmp_path):
    """A commit removing files (CoW delete) fails the stream unless
    ignoreChanges=true, which re-emits the rewritten files' rows
    (Delta's documented semantics); a DV-only MoR delete removes no
    files and passes silently (metadata commit)."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t")
    vt = VersionedTable(path)
    vt.create(
        spark.range(10)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartition(1)  # one data file: the CoW delete rewrites IT
    )
    vt.delete_where(spark, F.col("k") == 0)  # CoW: removes + re-adds
    s = spark.readStream.format("versioned_stream").option("path", path).load()
    q = (
        s.groupBy().count().writeStream.outputMode("complete")
        .format("memory").queryName("vst_fail")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(90)
        if q.exception() is not None:
            raise q.exception()
    assert "ignoreChanges" in str(ei.value)

    s2 = (
        spark.readStream.format("versioned_stream")
        .option("path", path).option("ignoreChanges", "true").load()
    )
    q2 = (
        s2.groupBy().agg(F.count("*").alias("n"), F.sum("k").alias("sk"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("vst_ic")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(90)
    row = spark.table("vst_ic").collect()[0]
    # create's 10 rows + the rewrite re-emits its 9 survivors
    assert row["n"] == 19 and row["sk"] == 45 + 45

    # DV-only delete: no files removed -> stream continues clean
    vt.delete_where_mor(spark, F.col("k") == 1)
    vt.append(spark.createDataFrame([(50, 5.0)], "k bigint, v double"))
    q3 = (
        s.groupBy().count().writeStream.outputMode("complete")
        .format("memory").queryName("vst_dv")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception):
        q3.awaitTermination(90)  # ck3 replays the CoW delete: still fails
    # but with ignoreChanges the DV commit contributes nothing and the
    # append flows
    q4 = (
        s2.groupBy().agg(F.count("*").alias("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("vst_dv2")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True).start()
    )
    q4.awaitTermination(90)
    # full replay: 10 (create) + 9 (rewrite re-emit) + 0 (DV-only) + 1
    assert spark.table("vst_dv2").collect()[0]["n"] == 20


def test_versioned_stream_source_refuses_column_mapping(spark, tmp_path):
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t")
    vt = VersionedTable(path)
    vt.create(spark.range(5).select(F.col("id").alias("k")))
    vt.rename_column("k", "key")
    with pytest.raises(Exception) as ei:
        spark.readStream.format("versioned_stream").option("path", path).load().schema
    assert "column-mapped" in str(ei.value)


def test_versioned_stream_rate_limit(spark, tmp_path):
    """maxVersionsPerBatch=1 bounds every micro-batch AFTER the
    first: a 3-commit backlog drains as one catch-up batch (Spark
    calls the argument-less latestOffset before initialOffset, so the
    first answer must be the raw latest — anything lower risks offset
    REGRESSION below a restarted query's checkpoint, which re-emits
    committed versions as duplicates; ADVICE r9), then commits landing
    while the query runs arrive one version per trigger."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t")
    vt = VersionedTable(path)
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("string").alias("g")
    )
    vt.create(df.filter("k < 10"))
    vt.append(df.filter("k >= 10 and k < 20"))
    vt.append(df.filter("k >= 20 and k < 30"))
    s = (
        spark.readStream.format("versioned_stream")
        .option("path", path)
        .option("maxVersionsPerBatch", "1")
        .load()
    )
    agg = s.groupBy("g").agg(F.count("*").alias("n"))
    import time

    def _total(q):
        return sum(p["sources"][0]["numInputRows"] for p in q.recentProgress)

    def _wait_rows(q, n, what):
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if _total(q) >= n:
                return
            time.sleep(0.05)
        raise TimeoutError(f"stream never drained {n} rows ({what})")

    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("vst_rl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds").start()
    )
    try:
        _wait_rows(q, 30, "backlog")
        # steady state: two more commits, each must land in its OWN
        # bounded batch (the limiter floor is seeded now)
        vt.append(df.filter("k >= 30 and k < 40"))
        vt.append(df.filter("k >= 40"))
        _wait_rows(q, 50, "steady-state commits")
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("vst_rl").collect()))
    assert got == [(str(i), 10) for i in range(5)]
    batches = [
        p["sources"][0]["numInputRows"]
        for p in q.recentProgress
        if p["sources"][0]["numInputRows"] > 0
    ]
    # batch 1 = the whole 30-row backlog; every later non-empty batch
    # is a single 10-row commit (never two commits coalesced)
    assert batches[0] == 30
    assert all(b == 10 for b in batches[1:])
    assert sum(batches) == 50


def _drain_cdf(spark, path, start_version, target_version, tmp_path, tag):
    """Start a readChangeFeed stream over (start_version, target] and
    return its drained rows (memory sink, polled to target_version)."""
    from mapreduce_wordcounter_spark.operators.lakehouse import reached_version
    from mapreduce_wordcounter_spark.streaming.windows import drain

    s = (
        spark.readStream.format("versioned_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("key", "k")
        .option("startingVersion", str(start_version))
        .load()
    )
    return drain(
        s,
        None,
        checkpoint=str(tmp_path / f"ck_{tag}"),
        done=reached_version(target_version),
    )


def test_cdf_stream_matches_batch_feed_per_commit(spark, tmp_path):
    """readChangeFeed=true drains the SAME change events the batch
    log reader serves, commit by commit, across a mixed lineage:
    create (inserts), append (inserts), cdc merge (updates+inserts),
    cdc delete, metadata-only expectation commits (nothing), and a
    provably row-identical optimize (nothing)."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t")
    vt = VersionedTable(path)
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df.filter("k < 20"))                         # v0 inserts
    vt.append(df.filter("k >= 20"))                        # v1 inserts
    vt.merge_into(                                          # v2 cdc merge
        spark,
        spark.createDataFrame(
            [(5, 555.0), (100, 100.0)], "s_k bigint, nv double"
        ),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    vt.delete_keys(                                         # v3 cdc delete
        spark,
        spark.createDataFrame([(7,)], "dk bigint"),
        key="k", source_key="dk", cdc=True,
    )
    vt.set_expectation(spark, "v_nonneg", "v >= 0", mode="warn")  # v4 meta
    vt.optimize(spark, ["k"])                               # v5 layout-only

    got = _drain_cdf(spark, path, 1, vt.latest_version(), tmp_path, "mix")
    # per-commit equivalence: union of batch feeds (2,3]∪... == stream
    batch = vt.read_changes_log(spark, "k", 1, 3)  # v2 + v3 (disjoint keys)
    key_rows = lambda df_: sorted(
        map(tuple, df_.select("k", "change_type", "old_v", "new_v").collect())
    )
    assert key_rows(got) == key_rows(batch)

    # starting at -1 includes the create/append backlog as inserts
    got_all = _drain_cdf(spark, path, -1, vt.latest_version(), tmp_path, "all")
    inserts = got_all.filter("change_type = 'insert'")
    assert inserts.count() == 40 + 1  # initial rows + merged insert
    assert got_all.count() == 40 + 2 + 1  # + update(5) + delete(7)


def test_cdf_stream_serves_legacy_files_create(spark, tmp_path):
    """ADVICE r10 (low): a table whose CREATE is a legacy full
    manifest (pre-delta format: "files", no "add") must still feed its
    base rows as insert events — pre-fix the CDF create/append branch
    read only m["add"] and silently emitted ZERO inserts for the base
    data, while the non-CDF stream path had the fallback."""
    import json as _json
    import os as _os

    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "tlegacy")
    vt = VersionedTable(path)
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df.filter("k < 8"))
    # rewrite v0 into the legacy self-contained shape the oldest
    # tables on disk carry: "files", no "add"/"remove"
    mpath = _os.path.join(vt.snap_dir, "v00000.json")
    with open(mpath) as fh:
        m = _json.load(fh)
    legacy = {
        "version": 0,
        "parent": None,
        "operation": "create",
        "committed_at": m["committed_at"],
        "files": m["add"],
    }
    with open(mpath, "w") as fh:
        _json.dump(legacy, fh)
    vt2 = VersionedTable(path)  # fresh instance: no cached v0 snapshot
    vt2.append(df.filter("k >= 8"))  # v1: modern delta append
    got = _drain_cdf(spark, path, -1, vt2.latest_version(), tmp_path, "lgcy")
    inserts = {r["k"] for r in got.filter("change_type = 'insert'").collect()}
    assert inserts == set(range(12))  # base 8 rows + appended 4


def test_cdf_stream_refuses_unsafe_commits(spark, tmp_path):
    """The CDF stream REFUSES ranges it cannot serve incrementally: an
    optimize that may have dropped rows through a drop-mode
    expectation, and a rename (column-mapping) commit."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    _register_pyds(spark)
    path = str(tmp_path / "t2")
    vt = VersionedTable(path)
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df)
    v0 = vt.latest_version()
    vt.set_expectation(spark, "v_cap", "v < 18", mode="drop")
    vt.optimize(spark, ["k"])  # scrubs rows 18, 19 via the gate
    import pytest as _pytest

    with _pytest.raises(Exception) as ei:
        _drain_cdf(spark, path, v0, vt.latest_version(), tmp_path, "unsafe")
    assert "drop-mode expectation" in str(ei.value)
