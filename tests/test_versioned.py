"""Versioned-table tier (sources/versioned.py): snapshot isolation,
time travel after MERGE, file-pruned copy-on-write, and the
optimistic-concurrency commit protocol."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.sources.versioned import (
    VersionConflictError,
    VersionedTable,
)


def _mk(spark, tmp_path, n=100, files=4):
    """A tiny versioned table: keys 0..n-1, value = key*1.0, written as
    ``files`` range-clustered data files (so key ranges map to files
    and pruning is observable)."""
    vt = VersionedTable(str(tmp_path / "t"))
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(files, "k")
    )
    vt.create(df)
    return vt


def _merge_bump(spark, vt, keys):
    src = spark.createDataFrame([(k, 1000.0 + k) for k in keys], "s_k bigint, nv double")
    return vt.merge_into(
        spark,
        src,
        key="k",
        source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
    )


def test_old_snapshots_read_after_merge(spark, tmp_path):
    """THE time-travel contract: a snapshot's contents are frozen at
    commit time — a later copy-on-write merge must not disturb v0/v1
    reads (old data files are never mutated, and superseded ones stay
    on disk for as long as the snapshot that names them)."""
    vt = _mk(spark, tmp_path)
    v0_before = sorted((r["k"], r["v"]) for r in vt.read(spark, 0).collect())
    vt.append(
        spark.createDataFrame([(1000, 1000.0)], "k bigint, v double")
    )
    v1_before = sorted((r["k"], r["v"]) for r in vt.read(spark, 1).collect())
    _merge_bump(spark, vt, [5, 1000, 2000])  # update, update, insert
    assert sorted((r["k"], r["v"]) for r in vt.read(spark, 0).collect()) == v0_before
    assert sorted((r["k"], r["v"]) for r in vt.read(spark, 1).collect()) == v1_before
    # and the merge itself landed in v2
    latest = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert latest[5] == 1005.0 and latest[1000] == 2000.0 and latest[2000] == 3000.0
    assert len(latest) == 102


def test_merge_rewrites_only_matched_files(spark, tmp_path):
    """File-level pruning: a merge whose keys all live in ONE of the
    four range-clustered files must carry the other three into the new
    snapshot by reference (same relative paths), rewriting only the
    matched file (+ the insert output)."""
    vt = _mk(spark, tmp_path, n=100, files=4)
    v0 = set(vt.snapshot(0)["files"])
    assert len(v0) == 4
    _merge_bump(spark, vt, [1, 3, 7])  # all in the lowest key-range file
    v1 = set(vt.snapshot(1)["files"])
    carried = v0 & v1
    assert len(carried) == 3, (v0, v1)  # 3 of 4 untouched files reused
    # rewritten + new files are NEW paths (immutability: no in-place)
    assert all(os.path.basename(f) not in {os.path.basename(c) for c in carried}
               for f in v1 - carried)


def test_merge_insert_only_no_rewrite(spark, tmp_path):
    """A merge with no matched key rewrites nothing: all parent files
    carry by reference, the insert lands in new files."""
    vt = _mk(spark, tmp_path)
    v0 = set(vt.snapshot(0)["files"])
    _merge_bump(spark, vt, [5000, 6000])
    v1 = set(vt.snapshot(1)["files"])
    assert v0 <= v1
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert got[5000] == 6000.0 and len(got) == 102


def test_commit_conflict_detected_and_append_retries(spark, tmp_path):
    """O_EXCL commit protocol: publishing an already-taken version
    raises; a concurrent commit landing between an append's parent
    read and its publish is NOT lost — the append retries on top of
    the winner and both commits' rows survive."""
    vt = _mk(spark, tmp_path)
    with pytest.raises(VersionConflictError):
        vt._publish({"version": 0, "parent": None, "operation": "create",
                     "files": []}, 0)
    # simulate a concurrent winner racing an append: wrap _publish so
    # the first attempt finds v1 already taken
    real_publish = vt._publish
    state = {"raced": False}

    def racing_publish(manifest, version):
        if not state["raced"]:
            state["raced"] = True
            winner = dict(vt.snapshot(0))
            real_publish(
                {"version": 1, "parent": 0, "operation": "append",
                 "files": winner["files"]},
                1,
            )
        return real_publish(manifest, version)

    vt._publish = racing_publish
    try:
        v = vt.append(
            spark.createDataFrame([(7777, 7.0)], "k bigint, v double")
        )
    finally:
        vt._publish = real_publish
    assert v == 2 and state["raced"]
    snap = vt.snapshot(2)
    assert snap["parent"] == 1  # retried on top of the winner
    got = {r["k"] for r in vt.read(spark, 2).collect()}
    assert 7777 in got and len(got) == 101


def test_uncommitted_files_invisible(spark, tmp_path):
    """Reads resolve through manifests only: a data file present on
    disk but named by no snapshot (a crashed writer's debris) is
    invisible to every read."""
    vt = _mk(spark, tmp_path)
    orphan_dir = os.path.join(vt.path, "data", "orphan")
    os.makedirs(orphan_dir)
    spark.createDataFrame([(9999, 9.0)], "k bigint, v double").coalesce(
        1
    ).write.mode("overwrite").parquet(orphan_dir)
    got = {r["k"] for r in vt.read(spark).collect()}
    assert 9999 not in got and len(got) == 100


def test_lineage_metadata(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    vt.append(spark.createDataFrame([(500, 5.0)], "k bigint, v double"))
    _merge_bump(spark, vt, [1])
    snaps = [vt.snapshot(v) for v in vt.versions()]
    assert [(s["version"], s["operation"], s["parent"]) for s in snaps] == [
        (0, "create", None),
        (1, "append", 0),
        (2, "merge", 1),
    ]
    # the on-disk manifest is a DELTA (add/remove vs parent), not the
    # resolved snapshot: churn-sized metadata per commit
    with open(os.path.join(vt.snap_dir, "v00002.json")) as fh:
        raw = json.load(fh)
    assert raw["version"] == 2 and raw["operation"] == "merge"
    assert set(raw) >= {"add", "remove"} and "files" not in raw
    assert set(snaps[2]["files"]) == (
        set(snaps[1]["files"]) - set(raw["remove"])
    ) | set(raw["add"])


def test_vacuum_retention_window(spark, tmp_path):
    """VACUUM expires all but the newest N snapshots and deletes only
    files no survivor references: retained versions still read
    bit-identical, expired versions raise, and files shared with a
    retained snapshot survive the expiry of an old one."""
    vt = _mk(spark, tmp_path)  # v0: 4 files
    vt.append(spark.createDataFrame([(500, 5.0)], "k bigint, v double"))  # v1
    _merge_bump(spark, vt, [1])  # v2: rewrites 1 file, carries the rest
    v1_rows = sorted((r["k"], r["v"]) for r in vt.read(spark, 1).collect())
    v2_rows = sorted((r["k"], r["v"]) for r in vt.read(spark, 2).collect())
    res = vt.vacuum(retain_last=2)
    assert res["expired_versions"] == [0] and res["retained_versions"] == [1, 2]
    # v0's files are ALL shared with v1 (append retains), so nothing
    # was deletable yet
    assert res["deleted_files"] == 0
    assert vt.versions() == [1, 2]
    assert sorted((r["k"], r["v"]) for r in vt.read(spark, 1).collect()) == v1_rows
    assert sorted((r["k"], r["v"]) for r in vt.read(spark, 2).collect()) == v2_rows
    with pytest.raises(FileNotFoundError):
        vt.read(spark, 0)
    # retain only the merge snapshot: v1's superseded file (rewritten
    # by the merge) is now unreferenced and gets deleted
    res2 = vt.vacuum(retain_last=1)
    assert res2["expired_versions"] == [1] and res2["deleted_files"] >= 1
    assert sorted((r["k"], r["v"]) for r in vt.read(spark).collect()) == v2_rows
    # every file the survivor names still exists
    for f in vt.snapshot(2)["files"]:
        assert os.path.exists(os.path.join(vt.path, f))


def test_stream_merge_lineage_and_time_travel(spark):
    """The streaming-CDC merge pipeline commits one MERGE snapshot per
    non-empty micro-batch on top of the create, and the pre-stream
    snapshot stays readable (and correct) after the stream finishes."""
    from mapreduce_wordcounter_spark.operators.lakehouse import (
        _stream_versioned_orders,
    )
    from mapreduce_wordcounter_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    vt = _stream_versioned_orders(spark, sf)
    ops = [vt.snapshot(v)["operation"] for v in vt.versions()]
    assert ops[0] == "create" and len(ops) >= 2
    assert all(op == "merge" for op in ops[1:])
    base = load_table(spark, sf, "orders").count()
    assert vt.read(spark, 0).count() == base  # pre-stream snapshot intact
    n_inserts = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 70 == 0)
        .count()
    )
    assert vt.read(spark).count() == base + n_inserts


def test_versioned_orders_rebuilds_after_eviction(spark):
    """The orders lineage is session state held at rest: when its
    directory is removed under a live session, the next read rebuilds
    all three versions at a new path and time travel returns the same
    rows."""
    import shutil

    from mapreduce_wordcounter_spark.operators.lakehouse import (
        table_time_travel,
        versioned_orders,
    )
    from tests.conftest import SF_SMOKE as sf

    before = sorted(table_time_travel(spark, sf).collect())
    old = versioned_orders(spark, sf).path
    shutil.rmtree(old)
    after = sorted(table_time_travel(spark, sf).collect())
    assert versioned_orders(spark, sf).path != old
    assert after == before


def test_optimize_recluster_restores_pruning(spark, tmp_path):
    """OPTIMIZE: merges fragment the file layout (each rewrite batch
    adds files with mixed key ranges); optimize rewrites the snapshot
    into n range-clustered files with IDENTICAL rows, old snapshots
    still read, and a subsequent narrow-key merge is pruned again
    (rewrites 1 of the 4 re-clustered files)."""
    vt = _mk(spark, tmp_path)
    for ks in ([1, 99], [2, 98], [3, 97]):  # straddling merges fragment
        _merge_bump(spark, vt, ks)
    # each straddling merge rewrote BOTH edge files into one mixed-range
    # output: the key-range -> file mapping is destroyed even though the
    # file count stays small
    rows_before = sorted((r["k"], r["v"]) for r in vt.read(spark).collect())
    v = vt.optimize(spark, ["k"], n_files=4)
    snap = vt.snapshot(v)
    assert snap["operation"] == "optimize" and len(snap["files"]) == 4
    assert sorted((r["k"], r["v"]) for r in vt.read(spark).collect()) == rows_before
    # pre-optimize snapshot intact
    assert sorted(
        (r["k"], r["v"]) for r in vt.read(spark, v - 1).collect()
    ) == rows_before
    # pruning restored: a merge on adjacent low keys touches 1 file
    opt_files = set(snap["files"])
    _merge_bump(spark, vt, [5, 6])
    after = set(vt.snapshot()["files"])
    assert len(opt_files & after) == 3


def test_append_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution: an append with a NEW column commits;
    the latest read surfaces the column with NULL backfill for
    pre-evolution rows, and the pre-evolution snapshot keeps its
    original two-column schema."""
    vt = _mk(spark, tmp_path, n=10, files=1)
    vt.append(
        spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string")
    )
    latest = vt.read(spark)
    assert set(latest.columns) == {"k", "v", "tag"}
    tags = {r["k"]: r["tag"] for r in latest.collect()}
    assert tags[100] == "gold" and tags[5] is None and len(tags) == 11
    assert set(vt.read(spark, 0).columns) == {"k", "v"}


def test_delete_where_prunes_and_preserves(spark, tmp_path):
    """DELETE WHERE is file-pruned copy-on-write: deleting a narrow key
    range rewrites only the file holding it (3 of 4 files carry by
    reference), survivors in the rewritten file keep their rows, the
    pre-delete snapshot still reads, and a predicate matching nothing
    commits a pure-metadata snapshot."""
    vt = _mk(spark, tmp_path)
    v0 = set(vt.snapshot(0)["files"])
    vt.delete_where(spark, (F.col("k") >= 3) & (F.col("k") <= 7))
    snap = vt.snapshot(1)
    assert snap["operation"] == "delete"
    assert len(v0 & set(snap["files"])) == 3  # 3 untouched files reused
    got = {r["k"] for r in vt.read(spark).collect()}
    assert got == set(range(100)) - set(range(3, 8))
    assert vt.read(spark, 0).count() == 100  # time travel intact
    # no-match delete: metadata-only commit, same files
    vt.delete_where(spark, F.col("k") > 10_000)
    assert set(vt.snapshot(2)["files"]) == set(snap["files"])
    assert vt.read(spark).count() == 95


def test_read_changes_feed_all_types(spark, tmp_path):
    """Snapshot-diff CDC: insert, update, and delete all surface with
    old/new values; unchanged keys are absent from the feed."""
    vt = _mk(spark, tmp_path, n=10, files=1)
    _merge_bump(spark, vt, [3, 500])          # v1: update k=3, insert 500
    vt.delete_where(spark, F.col("k") == 7)   # v2: delete k=7
    feed = {
        r["k"]: (r["change_type"], r["old_v"], r["new_v"])
        for r in vt.read_changes(spark, "k", 0, 2).collect()
    }
    assert feed == {
        3: ("update", 3.0, 1003.0),
        500: ("insert", None, 1500.0),
        7: ("delete", 7.0, None),
    }


def test_manifest_stats_and_pruned_read(spark, tmp_path):
    """Manifest min/max stats (footer-derived at commit) drive data
    skipping: a narrow-range read selects a strict subset of the
    snapshot's files yet returns exactly the full-scan-filter rows;
    stats survive commits by inheritance (retained files are not
    re-read) and the metadata-first MERGE probe still matches the
    right files."""
    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path / "t"), stats_col="k")
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    snap = vt.snapshot(0)
    assert set(snap["stats"]) == set(snap["files"])  # every file covered
    spans = sorted(tuple(s) for s in snap["stats"].values())
    assert spans[0][0] == 0 and spans[-1][1] == 99
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))  # disjoint

    # pruned read: [10, 20] touches 1 of 4 range-clustered files
    pruned_files = [
        f for f in snap["files"]
        if not (snap["stats"][f][1] < 10 or snap["stats"][f][0] > 20)
    ]
    assert len(pruned_files) == 1
    got = sorted(
        r["k"]
        for r in vt.read_pruned(spark, 10, 20)
        .filter((F.col("k") >= 10) & (F.col("k") <= 20))
        .collect()
    )
    assert got == list(range(10, 21))

    # metadata-first merge probe: narrow merge still rewrites exactly
    # the right file and inherits stats for retained files
    src = spark.createDataFrame([(15, 999.0)], "s_k bigint, nv double")
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
    )
    s1 = vt.snapshot(1)
    assert len(set(snap["files"]) & set(s1["files"])) == 3
    assert set(s1["stats"]) == set(s1["files"])  # stats complete post-merge
    assert {r["k"]: r["v"] for r in vt.read(spark).collect()}[15] == 999.0
    # out-of-range read returns empty with the right schema
    assert vt.read_pruned(spark, 10_000, 20_000).filter(
        F.col("k") >= 10_000
    ).count() == 0


def test_rollback_is_auditable_metadata_commit(spark, tmp_path):
    """RESTORE semantics: rollback commits a NEW version referencing
    the old snapshot's files — the bad commit stays in history, no
    data moves, and reads after rollback serve the restored state."""
    vt = _mk(spark, tmp_path)
    _merge_bump(spark, vt, [1, 2])  # v1: the "bad" commit
    v = vt.rollback(0)
    assert v == 2
    snap = vt.snapshot(2)
    assert snap["operation"] == "rollback" and snap["rolled_back_to"] == 0
    assert snap["files"] == vt.snapshot(0)["files"]  # metadata-only
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert got[1] == 1.0 and len(got) == 100  # pre-merge state served
    assert vt.read(spark, 1).count() == 100  # bad commit still inspectable


def test_torn_publish_tmp_is_invisible(spark, tmp_path):
    """A writer that crashed between staging its manifest and linking
    it leaves only a .tmp file: readers never see it, versions() skips
    it, and the next commit takes the version number cleanly."""
    vt = _mk(spark, tmp_path)
    stray = os.path.join(vt.snap_dir, "v00001.json.deadbeef.tmp")
    with open(stray, "w") as fh:
        fh.write('{"version": 1, "torn": ')  # truncated mid-write
    assert vt.versions() == [0]
    assert vt.read(spark).count() == 100
    v = vt.append(spark.createDataFrame([(555, 5.0)], "k bigint, v double"))
    assert v == 1 and vt.read(spark).count() == 101


def _bucket_agg(spark, vt, version):
    from mapreduce_wordcounter_spark.functions.numeric import quantize

    return (
        vt.read(spark, version)
        .groupBy((F.col("o_orderkey") % 7).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(quantize(F.col("o_totalprice"))).alias("micros"),
        )
    )


def test_mv_incremental_matches_recompute(spark, tmp_path):
    """Incremental MV maintenance ≡ full recompute, BIT-identical:
    fold the CDC feed of a DELETE commit and then of a MERGE commit
    (update + insert) into a per-bucket aggregate built at v0, and the
    int64 micro-unit accumulators must equal a direct recompute at v2
    exactly — integer addition is associative, so no tolerance is
    needed or used."""
    from mapreduce_wordcounter_spark.operators.lakehouse import mv_apply_changes

    vt = VersionedTable(str(tmp_path / "mv"))
    vt.create(
        spark.range(200)
        .select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") * 1.37 + 0.005).alias("o_totalprice"),
        )
        .repartitionByRange(4, "o_orderkey")
    )
    vt.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    src = spark.createDataFrame(
        [(3, 999.5), (7, 999.5), (11, 999.5), (1000, 10.25), (1001, 10.25)],
        "s_key bigint, new_price double",
    )
    vt.merge_into(
        spark,
        src,
        key="o_orderkey",
        source_key="s_key",
        update_set={"o_totalprice": F.col("new_price")},
        insert_exprs={
            "o_orderkey": F.col("s_key"),
            "o_totalprice": F.col("new_price"),
        },
    )
    mv = _bucket_agg(spark, vt, 0)
    for a, b in ((0, 1), (1, 2)):
        mv = mv_apply_changes(mv, vt.read_changes(spark, "o_orderkey", a, b))
    got = sorted((r["bucket"], r["n"], r["micros"]) for r in mv.collect())
    want = sorted(
        (r["bucket"], r["n"], r["micros"])
        for r in _bucket_agg(spark, vt, 2).collect()
    )
    assert got == want and len(got) == 7


def test_mv_emptied_group_drops_out(spark, tmp_path):
    """A group whose every row is deleted must VANISH from the
    refreshed MV (count 0 is not a row), matching what a GROUP BY
    recompute would produce."""
    from mapreduce_wordcounter_spark.operators.lakehouse import mv_apply_changes

    vt = VersionedTable(str(tmp_path / "mv2"))
    vt.create(
        spark.range(14).select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") * 2.0).alias("o_totalprice"),
        )
    )
    vt.delete_where(spark, F.col("o_orderkey") % 7 == 6)  # empties bucket 6
    mv = mv_apply_changes(
        _bucket_agg(spark, vt, 0), vt.read_changes(spark, "o_orderkey", 0, 1)
    )
    buckets = sorted(r["bucket"] for r in mv.collect())
    assert buckets == [0, 1, 2, 3, 4, 5]
    want = sorted(
        (r["bucket"], r["n"], r["micros"])
        for r in _bucket_agg(spark, vt, 1).collect()
    )
    assert sorted((r["bucket"], r["n"], r["micros"]) for r in mv.collect()) == want


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_mv_lineage_strategy = st.tuples(
    st.integers(min_value=1, max_value=25),  # n base rows (keys 0..n-1)
    st.sets(st.integers(min_value=0, max_value=24), max_size=10),  # delete keys
    st.sets(st.integers(min_value=0, max_value=24), max_size=8),  # update keys
    st.sets(st.integers(min_value=100, max_value=120), max_size=5),  # inserts
    st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),  # base price
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_mv_lineage_strategy)
def test_mv_refresh_identity_on_random_lineages(spark, ops, tmp_path_factory):
    """The MV fold is exact on ARBITRARY lineages: random base table,
    random key-driven DELETE (possibly empty -> metadata-only commit),
    random MERGE whose update keys may target deleted/absent rows
    (legitimately becoming inserts) — incremental maintenance must
    equal recompute bit-for-bit every time."""
    from mapreduce_wordcounter_spark.operators.lakehouse import mv_apply_changes

    n, dels, ups, ins, base_price = ops
    d = tmp_path_factory.mktemp("mvfuzz")
    vt = VersionedTable(str(d / "t"))
    vt.create(
        spark.createDataFrame(
            [(k, base_price + k * 0.77) for k in range(n)],
            "o_orderkey bigint, o_totalprice double",
        )
    )
    vt.delete_keys(
        spark,
        spark.createDataFrame([(k,) for k in sorted(dels)], "dk bigint"),
        key="o_orderkey",
        source_key="dk",
    )
    src = [(k, 1000.5 + k * 0.3) for k in sorted(ups)] + [
        (k, -7.25 + k * 1.1) for k in sorted(ins)
    ]
    vt.merge_into(
        spark,
        spark.createDataFrame(src, "s_key bigint, new_price double"),
        key="o_orderkey",
        source_key="s_key",
        update_set={"o_totalprice": F.col("new_price")},
        insert_exprs={
            "o_orderkey": F.col("s_key"),
            "o_totalprice": F.col("new_price"),
        },
    )
    mv = _bucket_agg(spark, vt, 0)
    for a, b in ((0, 1), (1, 2)):
        mv = mv_apply_changes(mv, vt.read_changes(spark, "o_orderkey", a, b))
    got = sorted((r["bucket"], r["n"], r["micros"]) for r in mv.collect())
    want = sorted(
        (r["bucket"], r["n"], r["micros"])
        for r in _bucket_agg(spark, vt, 2).collect()
    )
    assert got == want


def test_bloom_pruning_and_no_false_negatives(spark, tmp_path):
    """Bloom skipping on a hash-scattered layout: candidates must be a
    strict subset of the snapshot's files for a narrow key set, and the
    pruned read + exact predicate must equal the full-scan filter for
    ANY key set (blooms false-positive, never false-negative) —
    including keys absent from the table."""
    vt = VersionedTable(str(tmp_path / "b"), stats_col="k", bloom=True)
    vt.create(
        spark.range(2000)
        .select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("v"))
        .repartition(8, "k")
    )
    snap = vt.snapshot()
    assert len(snap["files"]) == 8
    assert set(snap["blooms"]) == set(snap["files"])
    # range stats are useless here (every file spans ~the key space)…
    lo = min(s[0] for s in snap["stats"].values())
    hi = max(s[1] for s in snap["stats"].values())
    assert lo < 100 and hi > 1900
    # …but blooms prune a single-key lookup to ~1 file (+FPs)
    cand = vt._bloom_candidates(snap, [42])
    assert 1 <= len(cand) <= 3
    for keys in ([42], [0, 999, 1999], [5000, 6000], [7, 13, 4242]):
        got = sorted(
            (r["k"], r["v"])
            for r in vt.read_bloom_pruned(spark, keys)
            .filter(F.col("k").isin(keys))
            .collect()
        )
        want = sorted(
            (r["k"], r["v"])
            for r in vt.read(spark).filter(F.col("k").isin(keys)).collect()
        )
        assert got == want


def test_blooms_inherited_by_reference_and_rebuilt_on_rewrite(spark, tmp_path):
    """Commits that carry files by reference (append) must inherit
    those files' blooms from the parent manifest without re-reading
    them; a delete that rewrites a file gets a FRESH bloom for the
    rewritten file, and a deleted key's lookup still returns empty
    through the pruned path."""
    vt = VersionedTable(str(tmp_path / "b2"), stats_col="k", bloom=True)
    vt.create(
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartition(2, "k")
    )
    s0 = vt.snapshot()
    vt.append(
        spark.createDataFrame([(500, 1.0)], "k bigint, v double")
    )
    s1 = vt.snapshot()
    for f in s0["files"]:  # inherited bit-identically
        assert s1["blooms"][f] == s0["blooms"][f]
    assert len(s1["blooms"]) == len(s1["files"])
    vt.delete_where(spark, F.col("k") == 42)
    s2 = vt.snapshot()
    assert len(s2["blooms"]) == len(s2["files"])
    got = (
        vt.read_bloom_pruned(spark, [42])
        .filter(F.col("k") == 42)
        .count()
    )
    assert got == 0
    assert vt.read(spark).count() == 100  # 101 - 1 deleted


def test_manifest_bytes_bounded_by_churn(spark, tmp_path):
    """THE metadata-scale contract of the delta-manifest log: a
    commit's manifest records only what the commit CHANGED (add/remove
    + stats for added files), so manifest bytes stay ~constant as the
    table's file count grows — the property that keeps the snapshot
    log viable at 10^5-10^6 files, where a full-list-per-commit log is
    O(files) JSON per commit."""
    vt = VersionedTable(str(tmp_path / "many"), checkpoint_interval=1000)
    vt.create(
        spark.range(320)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartition(32, "k")  # 32-file base
    )
    sizes = []
    for i in range(6):  # each append adds ONE file to an ever-bigger table
        vt.append(
            spark.createDataFrame([(10_000 + i, 1.0)], "k bigint, v double")
            .coalesce(1)
        )
        sizes.append(os.path.getsize(vt._manifest_path(vt.latest_version())))
        raw = json.load(open(vt._manifest_path(vt.latest_version())))
        assert "files" not in raw  # delta, never a full list
        assert len(raw["add"]) == 1 and raw["remove"] == []
    # churn is constant (1 file/commit) -> manifest size must not grow
    # with the table (32 -> 38 files); allow tiny jitter from paths
    assert max(sizes) < min(sizes) * 1.5
    # and each append manifest is far smaller than the 32-file create
    assert max(sizes) < os.path.getsize(vt._manifest_path(0)) / 3
    # resolution still yields the complete table
    assert len(vt.snapshot()["files"]) == 38
    assert vt.read(spark).count() == 326


def test_checkpoint_sidecar_cadence_and_equivalence(spark, tmp_path):
    """Every checkpoint_interval commits a sidecar materializes the
    resolved state; resolving through the sidecar gives the identical
    snapshot as replaying the full delta chain from v0."""
    vt = VersionedTable(str(tmp_path / "ck"), checkpoint_interval=3)
    vt.create(spark.createDataFrame([(0, 0.0)], "k bigint, v double"))
    for i in range(1, 7):
        vt.append(
            spark.createDataFrame([(i, float(i))], "k bigint, v double")
            .coalesce(1)
        )
    assert os.path.exists(vt._checkpoint_path(3))
    assert os.path.exists(vt._checkpoint_path(6))
    assert not os.path.exists(vt._checkpoint_path(5))
    # replayed-from-scratch resolution == checkpoint-based resolution
    via_ck = vt.snapshot(6)
    no_ck = VersionedTable(str(tmp_path / "ck"), checkpoint_interval=3)
    os.unlink(vt._checkpoint_path(3))
    os.unlink(vt._checkpoint_path(6))
    replayed = no_ck.snapshot(6)
    assert replayed["files"] == via_ck["files"]
    assert replayed["stats"] == via_ck["stats"]
    assert replayed["operation"] == via_ck["operation"] == "append"
    assert replayed["parent"] == via_ck["parent"] == 5


def test_vacuum_mid_chain_keeps_retained_resolvable(spark, tmp_path):
    """Vacuum that expires the head of a delta chain must leave every
    retained version resolvable (floor checkpoint) — including from a
    FRESH handle with no in-memory cache."""
    vt = VersionedTable(str(tmp_path / "vc"), checkpoint_interval=1000)
    vt.create(spark.createDataFrame([(0, 0.0)], "k bigint, v double"))
    for i in range(1, 6):
        vt.append(
            spark.createDataFrame([(i, float(i))], "k bigint, v double")
            .coalesce(1)
        )
    expect = {v: vt.read(spark, v).count() for v in (3, 4, 5)}
    res = vt.vacuum(retain_last=3)
    assert res["expired_versions"] == [0, 1, 2]
    fresh = VersionedTable(str(tmp_path / "vc"), checkpoint_interval=1000)
    for v, n in expect.items():
        assert fresh.read(spark, v).count() == n
    with pytest.raises(FileNotFoundError):
        fresh.read(spark, 2)


def test_vacuum_collects_aged_orphans_spares_fresh(spark, tmp_path):
    """Orphan GC: a data file referenced by no surviving snapshot and
    older than the grace period is deleted; a FRESH orphan (an
    in-flight commit's staged files) survives; referenced files are
    never touched."""
    vt = _mk(spark, tmp_path)
    orphan_dir = os.path.join(vt.path, "data", "deadbeefcafe")
    os.makedirs(orphan_dir)
    spark.createDataFrame([(9999, 9.0)], "k bigint, v double").coalesce(
        1
    ).write.mode("overwrite").parquet(orphan_dir)
    orphans = [
        os.path.join(orphan_dir, f)
        for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
    ]
    assert orphans
    # fresh orphans survive a graced vacuum
    res = vt.vacuum(retain_last=1, orphan_grace_sec=3600)
    assert all(os.path.exists(p) for p in orphans)
    # a sub-floor grace is refused without the explicit override
    with pytest.raises(ValueError, match="safety floor"):
        vt.vacuum(retain_last=1, orphan_grace_sec=0)
    assert all(os.path.exists(p) for p in orphans)
    # aged orphans (grace 0, forced) are collected, dir pruned
    res = vt.vacuum(retain_last=1, orphan_grace_sec=0, force_orphan_grace=True)
    assert res["deleted_orphans"] >= len(orphans)
    assert not any(os.path.exists(p) for p in orphans)
    assert not os.path.isdir(orphan_dir)
    # the live snapshot is intact
    assert vt.read(spark).count() == 100


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """Delta's 'multiple source rows matched' rule: a source with two
    rows for one key would fan out the matched target row through the
    full-outer join and silently grow the table — reject up front."""
    vt = _mk(spark, tmp_path)
    dup_src = spark.createDataFrame(
        [(5, 1.0), (5, 2.0)], "s_k bigint, nv double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        vt.merge_into(
            spark, dup_src, key="k", source_key="s_k",
            update_set={"v": F.col("nv")},
            insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        )
    assert vt.read(spark).count() == 100  # nothing committed


def test_merge_across_schema_evolution_boundary(spark, tmp_path):
    """A MERGE whose matched files span an additive schema-evolution
    boundary must read the rewritten files with the EVOLVED schema:
    pre-evolution rows surface the new column as NULL instead of the
    read failing or dropping the column."""
    vt = _mk(spark, tmp_path, n=20, files=2)
    vt.append(
        spark.createDataFrame(
            [(100, 100.0, "x")], "k bigint, v double, tag string"
        )
    )
    src = spark.createDataFrame(
        [(5, 2000.0), (100, 3000.0)], "s_k bigint, nv double"
    )
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={
            "k": F.col("s_k"), "v": F.col("nv"), "tag": F.lit(None)
        },
    )
    out = {r["k"]: (r["v"], r["tag"]) for r in vt.read(spark).collect()}
    assert out[5] == (2000.0, None)  # pre-evolution file, updated
    assert out[100] == (3000.0, "x")  # evolved file keeps its tag
    assert len(out) == 21


def test_parquet_checkpoint_stats_relation(spark, tmp_path):
    """The columnar checkpoint half: past a checkpoint, stats_relation
    resolves (manifest-tree parts as the parquet base + churn-sized
    delta patches) and matches the JSON-resolved maps row for row; the
    metadata-first probe gives the SAME candidate set through both
    paths; vacuum removes expired tree parts with their root."""
    vt = VersionedTable(
        str(tmp_path / "pc"), stats_col="k", bloom=True, checkpoint_interval=2
    )
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    for i in range(1, 4):  # v1..v3: checkpoint lands at v2
        vt.append(
            spark.createDataFrame(
                [(100 + i, float(i))], "k bigint, v double"
            ).coalesce(1)
        )
    with open(vt._checkpoint_path(2)) as fh:
        root = json.load(fh)
    assert root.get("checkpoint_format") == "tree" and root["parts"]
    assert root["has_stats"] is True
    for p in root["parts"]:
        assert os.path.exists(os.path.join(vt.snap_dir, p["path"]))
    # young version (v1, before any checkpoint): honest None fallback
    assert vt.stats_relation(spark, 1) is None

    snap = vt.snapshot(3)  # v3 = parquet base v2 + one delta patch
    rel = vt.stats_relation(spark, 3)
    assert rel is not None
    rows = {r["file"]: r for r in rel.collect()}
    assert set(rows) == set(snap["files"])
    for f, s in snap["stats"].items():
        assert [rows[f]["lo"], rows[f]["hi"]] == list(s)
    for f, b in snap["blooms"].items():
        assert rows[f]["bloom_hex"] == b["hex"]
        assert rows[f]["bloom_m"] == b["m"]

    # probe equivalence: parquet-relation path == JSON-map path
    keys = spark.createDataFrame([(15,), (101,)], ["__k"])
    via_parquet = vt._candidate_files(spark, keys, "__k", snap)
    ck = vt._checkpoint_path(2)
    saved = ck + ".hidden"
    os.rename(ck, saved)  # hide the tree root: forces the JSON maps
    try:
        via_json = vt._candidate_files(spark, keys, "__k", snap)
    finally:
        os.rename(saved, ck)
    assert via_parquet == via_json
    assert 0 < len(via_parquet) < len(snap["files"])

    # vacuum expires the tree parts together with their root
    vt.vacuum(retain_last=1, orphan_grace_sec=3600)
    assert not os.path.exists(vt._checkpoint_path(2))
    assert not [
        f
        for f in os.listdir(vt.snap_dir)
        if f.startswith("v00002.checkpoint.part-")
    ]


def test_checkpoint_root_is_bounded_no_rows_map(spark, tmp_path):
    """ADVICE r10 (medium): the tree root must stay KB-scale — the
    per-file "rows" map belongs in the parts' n_rows column (where it
    already lives), not in the root JSON, or the root grows O(live
    files) and every pruned probe parses the full map just to discard
    it. Both resolution paths rebuild the map from part reads."""
    vt = VersionedTable(str(tmp_path / "rb"), checkpoint_interval=2)
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df)
    vt.append(df.limit(3))
    vt.append(df.limit(2))  # v2: checkpoint lands
    with open(vt._checkpoint_path(2)) as fh:
        root = json.load(fh)
    assert root.get("checkpoint_format") == "tree"
    assert "rows" not in root and "files" not in root
    # full resolution rebuilds the map from the parts' n_rows column
    loaded = vt._load_checkpoint(2)
    snap = vt.snapshot(2)
    assert loaded["rows"] and loaded["rows"] == snap["rows"]
    assert set(loaded["rows"]) == set(snap["files"])
    # metadata-only count still exact through the checkpointed base
    assert sum(snap["rows"].values()) == vt.read(spark, 2).count()


def test_published_commit_survives_checkpoint_write_failure(spark, tmp_path):
    """ADVICE r10 (medium): _write_checkpoint runs AFTER _publish
    succeeded — a pyarrow/IO failure there must not raise the
    already-published commit to the caller, whose retry loop would
    re-apply the operation (a merge's update_set applied twice).
    Checkpoints are derived acceleration data: losing one only costs
    a longer delta replay."""
    vt = VersionedTable(str(tmp_path / "cf"), checkpoint_interval=2)
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df)
    vt.append(df.limit(1))

    def boom(_snap):
        raise RuntimeError("simulated pyarrow failure")

    vt._write_checkpoint = boom
    v = vt.append(df.limit(2))  # v2: checkpoint attempt fails silently
    assert v == 2
    assert not os.path.exists(vt._checkpoint_path(2))  # no partial root
    # resolution falls back to the delta replay and stays exact
    fresh = VersionedTable(str(tmp_path / "cf"))
    assert fresh.read(spark, 2).count() == 13
    assert fresh.snapshot(2)["version"] == 2


def test_parquet_checkpoint_stats_string_typed(spark, tmp_path):
    """stats_relation must survive a NON-numeric stats column: the
    parquet sidecar infers lo/hi as strings and churn-sized delta adds
    union against that schema; probe equivalence holds both paths."""
    vt = VersionedTable(
        str(tmp_path / "ps"), stats_col="name", bloom=True,
        checkpoint_interval=2,
    )
    df = spark.createDataFrame(
        [("alice", 1), ("bob", 2), ("carol", 3), ("dave", 4)],
        "name string, v int",
    ).repartitionByRange(2, "name")
    vt.create(df)
    for i, nm in enumerate(["erin", "frank", "grace"]):
        vt.append(
            spark.createDataFrame([(nm, 10 + i)], "name string, v int")
            .coalesce(1)
        )
    snap = vt.snapshot(3)
    rel = vt.stats_relation(spark, 3)
    assert rel is not None
    rows = {r["file"]: (r["lo"], r["hi"]) for r in rel.collect()}
    assert set(rows) == set(snap["files"])
    for f, s in snap["stats"].items():
        assert rows[f] == tuple(s)
    keys = spark.createDataFrame([("bob",), ("erin",)], ["__k"])
    via_parquet = vt._candidate_files(spark, keys, "__k", snap)
    ck = vt._checkpoint_path(2)
    os.rename(ck, ck + ".hidden")  # hide the tree root: JSON fallback
    try:
        via_json = vt._candidate_files(spark, keys, "__k", snap)
    finally:
        os.rename(ck + ".hidden", ck)
    assert via_parquet == via_json
    assert 0 < len(via_parquet) < len(snap["files"])


def test_snapshot_returns_isolated_copy(spark, tmp_path):
    """snapshot() hands back a copy: a caller mutating the returned
    files/stats maps must not corrupt later resolves of that version
    (the resolved-snapshot cache is shared); the cache itself is
    bounded (oldest-insertion eviction)."""
    vt = _mk(spark, tmp_path, n=20, files=2)
    vt.append(spark.createDataFrame([(100, 100.0)], "k bigint, v double"))
    snap = vt.snapshot(1)
    before_files = list(snap["files"])
    snap["files"].clear()
    snap["stats"]["bogus"] = [0, 0]
    snap["version"] = 999
    again = vt.snapshot(1)
    assert again["files"] == before_files
    assert "bogus" not in again["stats"]
    assert again["version"] == 1
    # bounded cache: shrink the limit on this handle and resolve past it
    # (cleared first: eviction runs on insert, not on cache hits)
    vt._SNAP_CACHE_MAX = 1
    vt._snap_cache.clear()
    vt.snapshot(0)
    vt.snapshot(1)
    assert len(vt._snap_cache) <= 1


def test_checkpoint_stats_sidecar_skipped_without_stats(spark, tmp_path):
    """A checkpoint over a table with NO per-file stats writes its
    manifest-tree parts WITHOUT lo/hi columns (pyarrow would infer
    null-typed columns and later delta patches with real values would
    fail at probe time) and the root records has_stats=false, so
    stats_relation honestly returns None; resolution through the tree
    stays correct."""
    vt = VersionedTable(str(tmp_path / "ns"), checkpoint_interval=2)
    vt.create(spark.createDataFrame([(0, 0.0)], "k bigint, v double"))
    vt.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    vt.append(spark.createDataFrame([(2, 2.0)], "k bigint, v double"))
    assert os.path.exists(vt._checkpoint_path(2))
    with open(vt._checkpoint_path(2)) as fh:
        root = json.load(fh)
    assert root["checkpoint_format"] == "tree"
    assert root["has_stats"] is False
    import pyarrow.parquet as pq

    for p in root["parts"]:
        names = pq.read_schema(os.path.join(vt.snap_dir, p["path"])).names
        assert "lo" not in names and "hi" not in names
    assert vt.stats_relation(spark, 2) is None
    # and reads through the checkpoint stay correct
    assert vt.read(spark, 2).count() == 3


def test_partition_transform_days_hidden_pruning(spark, tmp_path):
    """Hidden partitioning (VERDICT r9 #2): days(ts) lays rows out by
    day with NO user-materialized column; a raw ts range filter prunes
    day directories from path metadata alone and the result equals
    read().filter(between); a retention delete over a day range drops
    whole partitions metadata-only (zero files written). The delete's
    hi bound (23:59:59) renders ONTO the last day, so that day's drop
    is proven by per-file stats_col min/max containment, not by the
    rendered-boundary rule — the Delta/Iceberg full-match file drop."""
    vt = VersionedTable(
        str(tmp_path / "dt"), partition_by=["days(ts)"], stats_col="ts"
    )
    df = spark.range(240).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )  # 240 hourly rows -> 10 days, 2024-03-01 .. 2024-03-10
    vt.create(df)
    snap = vt.snapshot()
    days = {
        vt._partition_values(f).get("ts_day") for f in snap["files"]
    }
    assert days == {f"2024-03-{d:02d}" for d in range(1, 11)}
    # raw-column range filter: no derived column anywhere in sight
    import datetime as _dt

    lo = _dt.datetime(2024, 3, 4, 0, 0)
    hi = _dt.datetime(2024, 3, 5, 23, 59, 59)
    matched, unmatched, unknown = vt._split_by_partition(
        snap, {"ts": ("range", lo, hi)}
    )
    assert not unknown
    assert 0 < len(matched) < len(snap["files"])
    assert {
        vt._partition_values(f)["ts_day"] for f in matched
    } == {"2024-03-04", "2024-03-05"}
    got = vt.read_partitions(spark, {"ts": ("range", lo, hi)})
    expect = vt.read(spark).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )
    # metadata-only retention drop of the first 3 days
    before = vt.read(spark).count()
    v = vt.delete_partitions(
        spark,
        {"ts": ("range", _dt.datetime(2024, 3, 1), _dt.datetime(2024, 3, 3, 23, 59, 59))},
    )
    m = vt._load_manifest(v)
    assert m["remove"] and not m["add"]  # zero bytes rewritten
    assert vt.read(spark).count() == before - 72


def test_partition_transform_bucket_and_truncate(spark, tmp_path):
    """bucket(N, k) prunes point lookups to the keys' buckets via the
    portable md5 recipe (driver twin == Spark expr, pinned by layout
    equality); truncate(W, s) prunes by string prefix."""
    vt = VersionedTable(str(tmp_path / "bk"), partition_by=["bucket(8, k)"])
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df)
    snap = vt.snapshot()
    buckets = {
        vt._partition_values(f).get("k_bucket") for f in snap["files"]
    }
    assert buckets <= {str(i) for i in range(8)}
    assert len(buckets) == 8  # 200 keys hash across all 8
    fld = vt._partition_fields(None)[0]
    want = {vt._transform_value(fld, k) for k in (5, 17)}
    matched, _un, unknown = vt._split_by_partition(snap, {"k": [5, 17]})
    assert not unknown
    assert {
        vt._partition_values(f)["k_bucket"] for f in matched
    } == want
    got = vt.read_partitions(spark, {"k": [5, 17]})
    assert sorted(r["k"] for r in got.collect()) == [5, 17]

    vt2 = VersionedTable(
        str(tmp_path / "tr"), partition_by=["truncate(2, s)"]
    )
    df2 = spark.createDataFrame(
        [("alpha", 1), ("alto", 2), ("beta", 3), ("bear", 4), ("gamma", 5)],
        "s string, n int",
    )
    vt2.create(df2)
    snap2 = vt2.snapshot()
    prefixes = {
        vt2._partition_values(f).get("s_trunc") for f in snap2["files"]
    }
    assert prefixes == {"al", "be", "ga"}
    got2 = vt2.read_partitions(spark, {"s": ["alpha", "alto"]})
    assert sorted(r["s"] for r in got2.collect()) == ["alpha", "alto"]
    # int truncate: width multiples
    vt3 = VersionedTable(
        str(tmp_path / "ti"), partition_by=["truncate(10, k)"]
    )
    vt3.create(
        spark.range(35).select(F.col("id").alias("k"))
    )
    snap3 = vt3.snapshot()
    assert {
        vt3._partition_values(f).get("k_trunc") for f in snap3["files"]
    } == {"0", "10", "20", "30"}
    assert vt3.read_partitions(spark, {"k": [7, 23]}).count() == 2


def test_partition_transform_composes_with_tree_and_overwrite(
    spark, tmp_path
):
    """days(ts) composes with the checkpoint manifest tree (a ts range
    reads only matching day parts) and with dynamic partition
    overwrite (an idempotent one-day backfill swaps exactly that day's
    partition)."""
    import datetime as _dt

    vt = VersionedTable(
        str(tmp_path / "cp"),
        partition_by=["days(ts)"],
        checkpoint_interval=1,
    )
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )  # 4 days
    vt.create(df)
    vt.append(df.withColumn("k", F.col("k") + 1000))  # v1: checkpointed
    with open(vt._checkpoint_path(1)) as fh:
        root = json.load(fh)
    day2_parts = [
        p["path"]
        for p in root["parts"]
        if p["partition"] == {"ts_day": "2024-03-02"}
    ]
    assert day2_parts
    vt._last_part_reads = None
    got = vt.read_partitions(
        spark,
        {"ts": ("range", _dt.datetime(2024, 3, 2), _dt.datetime(2024, 3, 2, 23, 59, 59))},
    )
    assert got.count() == 48  # 24 original + 24 appended
    assert set(vt._last_part_reads) == set(day2_parts)
    # dynamic overwrite of exactly that day
    day2 = df.filter(F.to_date("ts") == F.lit("2024-03-02")).withColumn(
        "k", F.col("k") + 9000
    )
    vt.overwrite_partitions(spark, day2)
    assert vt.read(spark).filter("k >= 9000").count() == 24
    assert vt.read(spark).count() == 96 + 96 - 48 + 24  # day 2 swapped
    # untouched days kept both copies; day 2 holds only the backfill
    got2 = vt.read_partitions(
        spark,
        {"ts": ("range", _dt.datetime(2024, 3, 2), _dt.datetime(2024, 3, 2, 23, 59, 59))},
    )
    assert got2.count() == 24 and got2.filter("k < 9000").count() == 0


def test_checkpoint_tree_partition_pruned_resolution(spark, tmp_path):
    """The manifest-tree protocol (VERDICT r9 #1): a partition-bounded
    read through a tree checkpoint reads ONLY the matching partition's
    manifest parts (plus none-partition parts, absent here) — never
    the full file→stats map — and returns exactly the rows a
    tree-less full resolve returns."""
    vt = VersionedTable(
        str(tmp_path / "pt"), partition_by=["lang"], checkpoint_interval=1
    )
    langs = ("en", "de", "fr")
    df = spark.range(90).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(l) for l in langs]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
        (F.col("id") * 1.0).alias("v"),
    )
    vt.create(df)
    vt.append(df.withColumn("k", F.col("k") + 1000))  # v1: checkpointed
    with open(vt._checkpoint_path(1)) as fh:
        root = json.load(fh)
    assert root["checkpoint_format"] == "tree"
    by_lang = {}
    for p in root["parts"]:
        assert p["partition"] is not None  # fully partitioned table
        by_lang.setdefault(p["partition"]["lang"], []).append(p["path"])
    assert set(by_lang) == set(langs)

    vt._last_part_reads = None
    got = vt.read_partitions(spark, {"lang": "de"})
    assert vt._last_part_reads is not None
    assert set(vt._last_part_reads) == set(by_lang["de"])  # ⊆ relevant
    # equivalence with the tree-less full path
    expect = sorted(
        map(tuple, vt.read(spark, 1).filter("lang = 'de'").collect())
    )
    assert sorted(map(tuple, got.collect())) == expect

    # a later delta's adds are NOT pruned away: append after the
    # checkpoint, prune again — new rows must surface
    vt.append(
        spark.createDataFrame([(5000, "de", 5.0)], "k bigint, lang string, v double")
    )
    vt2 = VersionedTable(str(tmp_path / "pt"), partition_by=["lang"])
    got2 = vt2.read_partitions(spark, {"lang": "de"}, version=None)
    assert got2.filter("k = 5000").count() == 1
    assert got2.count() == len(expect) + 1


def test_checkpoint_tree_range_pruned_resolution(spark, tmp_path):
    """read_pruned through a tree checkpoint reads only the parts
    whose aggregate [lo, hi] intersects the probe (file groups are
    range-disjoint here), with the same result as the full path; a
    multi-part unpartitioned tree exercises the file-group chunker."""
    vt = VersionedTable(
        str(tmp_path / "rt"), stats_col="k", checkpoint_interval=1
    )
    vt._CHECKPOINT_PART_MAX_FILES = 2  # force several parts
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(8, "k")
    )
    vt.create(df)
    vt.append(
        spark.createDataFrame([(100, 100.0)], "k bigint, v double")
    )  # v1: checkpointed (interval=1)
    with open(vt._checkpoint_path(1)) as fh:
        root = json.load(fh)
    assert len(root["parts"]) >= 4  # 9 files / 2 per part
    vt._last_part_reads = None
    got = vt.read_pruned(spark, 10, 20).filter("k between 10 and 20")
    assert got.count() == 11
    assert vt._last_part_reads is not None
    relevant = [
        p["path"]
        for p in root["parts"]
        if not p["stats_complete"] or not (p["hi"] < 10 or p["lo"] > 20)
    ]
    assert set(vt._last_part_reads) == set(relevant)
    assert len(relevant) < len(root["parts"])  # pruning actually bit
    # the stats relation prunes parts at the root the same way
    vt._last_part_reads = None
    rel = vt.stats_relation(spark, 1, key_range=(10, 20))
    assert rel is not None
    assert set(vt._last_part_reads) == set(relevant)
    # candidate probe equivalence: part-pruned == JSON maps
    snap = vt.snapshot(1)
    keys = spark.createDataFrame([(15,), (100,)], ["__k"])
    via_tree = vt._candidate_files(spark, keys, "__k", snap)
    ck = vt._checkpoint_path(1)
    os.rename(ck, ck + ".hidden")
    try:
        via_json = vt._candidate_files(spark, keys, "__k", snap)
    finally:
        os.rename(ck + ".hidden", ck)
    assert via_tree == via_json


def test_stats_relation_big_churn_writes_fresh_sidecar(spark, tmp_path):
    """Past the replay-churn bound (forced to 0 here), stats_relation
    materializes a FRESH parquet sidecar at the probed version instead
    of patching the chain plan-side (the optimize-between-checkpoints
    wall from ADVICE r7) — and the relation it returns still matches
    the JSON-resolved snapshot exactly."""
    vt = VersionedTable(
        str(tmp_path / "bc"), stats_col="k", checkpoint_interval=2
    )
    df = (
        spark.range(40)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    vt.append(spark.createDataFrame([(100, 1.0)], "k bigint, v double"))
    vt.append(spark.createDataFrame([(101, 2.0)], "k bigint, v double"))
    # v3 = optimize: removes every file, adds the clustered rewrite —
    # the O(table) churn case
    vt.optimize(spark, ["k"], n_files=2)
    vt_fresh = VersionedTable(
        str(tmp_path / "bc"), stats_col="k", checkpoint_interval=2
    )
    vt_fresh._STATS_REPLAY_MAX_CHURN = 0
    rel = vt_fresh.stats_relation(spark, 3)
    assert rel is not None
    assert os.path.exists(vt_fresh._checkpoint_stats_path(3))
    snap = vt_fresh.snapshot(3)
    rows = {r["file"]: (r["lo"], r["hi"]) for r in rel.collect()}
    assert set(rows) == set(snap["files"])
    for f, s in snap["stats"].items():
        assert rows[f] == tuple(s)


def test_stats_relation_antijoin_remove_path(spark, tmp_path):
    """With the isin threshold forced to 0, delta removes replay as a
    broadcast anti-join — same relation as the literal-list path."""
    vt = VersionedTable(
        str(tmp_path / "aj"), stats_col="k", checkpoint_interval=2
    )
    df = (
        spark.range(40)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    vt.append(spark.createDataFrame([(100, 1.0)], "k bigint, v double"))
    # v2 lands the checkpoint; v3 deletes a key range (removes files)
    vt.append(spark.createDataFrame([(101, 2.0)], "k bigint, v double"))
    vt.delete_where(spark, F.col("k") < 10)
    rel_isin = vt.stats_relation(spark, 3)
    vt._STATS_REMOVE_ISIN_MAX = 0
    rel_anti = vt.stats_relation(spark, 3)
    assert rel_isin is not None and rel_anti is not None
    a = sorted((r["file"], r["lo"], r["hi"]) for r in rel_isin.collect())
    b = sorted((r["file"], r["lo"], r["hi"]) for r in rel_anti.collect())
    assert a == b
    snap = vt.snapshot(3)
    assert {x[0] for x in a} == set(snap["files"])


def _feed_key(rows):
    return sorted(
        (r["k"], r["change_type"], r["old_v"], r["new_v"]) for r in rows
    )


def test_cdc_log_single_hop_equals_snapshot_diff(spark, tmp_path):
    """A cdc-enabled MERGE's write-time change files must serve the
    IDENTICAL feed the snapshot diff computes — updates with old/new,
    inserts with null old, no-op updates absent."""
    vt = _mk(spark, tmp_path, n=20, files=2)
    src = spark.createDataFrame(
        [(3, 333.0), (7, 7.0), (100, 100.0)], "s_k bigint, nv double"
    )  # update, NO-OP update (same value), insert
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    assert "cdc" in vt._load_manifest(1)
    log = vt.read_changes_log(spark, "k", 0, 1).collect()
    diff = vt.read_changes(spark, "k", 0, 1).collect()
    assert _feed_key(log) == _feed_key(diff)
    assert _feed_key(log) == [
        (3, "update", 3.0, 333.0),
        (100, "insert", None, 100.0),
    ]


def test_cdc_log_multi_hop_composes_like_diff(spark, tmp_path):
    """Multi-commit feed composition: insert-then-delete vanishes,
    update chains net first-old/last-new, reverted updates vanish,
    appends surface as inserts — all equal to the snapshot diff."""
    vt = _mk(spark, tmp_path, n=20, files=2)  # v0
    vt.merge_into(  # v1: update 3 -> 333, insert 100
        spark,
        spark.createDataFrame([(3, 333.0), (100, 100.0)], "s_k bigint, nv double"),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    vt.merge_into(  # v2: revert 3 -> 3.0, update 5 -> 555
        spark,
        spark.createDataFrame([(3, 3.0), (5, 555.0)], "s_k bigint, nv double"),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    vt.delete_keys(  # v3: delete the v1 insert (net: vanishes) + key 7
        spark,
        spark.createDataFrame([(100,), (7,)], "dk bigint"),
        key="k", source_key="dk", cdc=True,
    )
    vt.append(  # v4: pure inserts
        spark.createDataFrame([(200, 200.0)], "k bigint, v double")
    )
    log = vt.read_changes_log(spark, "k", 0, 4).collect()
    diff = vt.read_changes(spark, "k", 0, 4).collect()
    assert _feed_key(log) == _feed_key(diff)
    assert _feed_key(log) == [
        (5, "update", 5.0, 555.0),
        (7, "delete", 7.0, None),
        (200, "insert", None, 200.0),
    ]
    # partial ranges compose too
    for a, b in [(0, 2), (1, 3), (2, 4)]:
        assert _feed_key(vt.read_changes_log(spark, "k", a, b).collect()) == \
            _feed_key(vt.read_changes(spark, "k", a, b).collect()), (a, b)


def test_cdc_log_falls_back_without_change_files(spark, tmp_path):
    """A merge committed WITHOUT cdc in the range: the log reader must
    fall back to the snapshot diff, never serve a partial feed."""
    vt = _mk(spark, tmp_path, n=10, files=1)
    _merge_bump(spark, vt, [2])  # v1, no cdc
    assert "cdc" not in vt._load_manifest(1)
    log = vt.read_changes_log(spark, "k", 0, 1).collect()
    diff = vt.read_changes(spark, "k", 0, 1).collect()
    assert _feed_key(log) == _feed_key(diff)
    assert len(log) == 1


def test_vacuum_collects_expired_cdc_files(spark, tmp_path):
    """Vacuum GCs change files of EXPIRED commits (grace-aged) while
    keeping those referenced by surviving manifests."""
    vt = _mk(spark, tmp_path, n=10, files=1)
    vt.merge_into(  # v1 with cdc
        spark,
        spark.createDataFrame([(2, 22.0)], "s_k bigint, nv double"),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    vt.merge_into(  # v2 with cdc
        spark,
        spark.createDataFrame([(3, 33.0)], "s_k bigint, nv double"),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    cdc_v1 = vt._load_manifest(1)["cdc"]
    cdc_v2 = vt._load_manifest(2)["cdc"]
    assert cdc_v1 and cdc_v2
    vt.vacuum(retain_last=1, orphan_grace_sec=0, force_orphan_grace=True)
    assert not any(
        os.path.exists(os.path.join(vt.path, f)) for f in cdc_v1
    )
    assert all(os.path.exists(os.path.join(vt.path, f)) for f in cdc_v2)
    # the surviving feed still serves
    assert vt.read_changes_log(spark, "k", 1, 2).count() == 1


def test_merge_delete_branch_and_cdc(spark, tmp_path):
    """The WHEN MATCHED AND pred THEN DELETE branch: doomed matched
    rows leave the table, surviving matched rows take the UPDATE,
    unmatched source rows INSERT — and the write-time feed records
    the delete events exactly as the snapshot diff sees them."""
    vt = _mk(spark, tmp_path, n=20, files=2)
    src = spark.createDataFrame(
        [(3, 999.0), (5, 555.0), (100, 100.0)], "s_k bigint, nv double"
    )
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        delete_when=F.col("v") < 4,  # dooms key 3 (v=3.0) only
        cdc=True,
    )
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert 3 not in got  # deleted
    assert got[5] == 555.0  # updated (predicate false)
    assert got[100] == 100.0  # inserted
    assert len(got) == 20  # 20 - 1 deleted + 1 inserted
    log = vt.read_changes_log(spark, "k", 0, 1).collect()
    diff = vt.read_changes(spark, "k", 0, 1).collect()
    assert _feed_key(log) == _feed_key(diff)
    assert _feed_key(log) == [
        (3, "delete", 3.0, None),
        (5, "update", 5.0, 555.0),
        (100, "insert", None, 100.0),
    ]
    # time travel: v0 still has the deleted row
    assert {r["k"] for r in vt.read(spark, 0).collect()} == set(range(20))


def test_merge_delete_branch_null_predicate_keeps_row(spark, tmp_path):
    """SQL semantics: a NULL-evaluating delete predicate KEEPS the
    matched row (it falls to the UPDATE branch)."""
    vt = VersionedTable(str(tmp_path / "np"))
    vt.create(
        spark.createDataFrame(
            [(1, 1.0), (2, None)], "k bigint, v double"
        )
    )
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "s_k bigint, nv double")
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        delete_when=F.col("v") < 0,  # NULL for key 2 -> keep, update
    )
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert got == {1: 10.0, 2: 20.0}

def test_cdc_log_disjoint_evolved_columns_compose(spark, tmp_path):
    """ADVICE r8 (medium): two commits carrying DISJOINT evolved
    columns of equal width (two appends each adding a different new
    column, under column mapping so _project skips file-absent
    columns) — the composed feed must carry the UNION of old_/new_
    columns, equal to the snapshot diff, not one widest part."""
    vt = _mk(spark, tmp_path, n=4, files=1)
    vt.rename_column("v", "w")  # v1: initializes column mapping
    vt.append(  # v2: evolves with column a
        spark.createDataFrame([(100, 1.0, 11.0)], "k bigint, w double, a double")
    )
    vt.append(  # v3: evolves with column b (disjoint from a)
        spark.createDataFrame([(200, 2.0, 22.0)], "k bigint, w double, b double")
    )
    log = vt.read_changes_log(spark, "k", 1, 3)
    diff = vt.read_changes(spark, "k", 1, 3)
    assert {"old_a", "new_a", "old_b", "new_b"} <= set(log.columns)
    assert sorted(log.columns) == sorted(diff.columns)

    def key(rows):
        return sorted(
            (r["k"], r["change_type"], r["new_w"], r["new_a"], r["new_b"])
            for r in rows
        )

    assert key(log.collect()) == key(diff.collect())
    assert key(log.collect()) == [
        (100, "insert", 1.0, 11.0, None),
        (200, "insert", 2.0, None, 22.0),
    ]


def test_evolve_schema_generated_phys_never_collides():
    """ADVICE r8 (low): a pre-existing column literally named like the
    generated suffixed form must not alias the fresh allocation —
    cols 'a' and 'a__c3', drop 'a', re-add 'a' at id 3."""
    schema = {
        "cols": [{"id": 2, "name": "a__c3", "phys": "a__c3"}],
        "max_id": 2,
        "phys_used": ["a", "a__c3"],  # 'a' retired by a drop
    }
    out = VersionedTable._evolve_schema(schema, ["a"])
    phys = [c["phys"] for c in out["cols"]]
    assert len(phys) == len(set(phys))  # no duplicate physical names
    fresh = out["cols"][-1]
    assert fresh["name"] == "a"
    assert fresh["phys"] not in ("a", "a__c3")


def test_snapshot_schema_mutation_isolated(spark, tmp_path):
    """ADVICE r8 (low): mutating the nested schema dict (or a stats
    list) of a returned snapshot must not corrupt the cached entry."""
    vt = _mk(spark, tmp_path, n=4, files=1)
    vt.rename_column("v", "w")
    s1 = vt.snapshot(1)
    s1["schema"]["cols"][0]["name"] = "corrupted"
    s1["schema"]["cols"].append({"id": 99, "name": "x", "phys": "x"})
    s2 = vt.snapshot(1)
    assert [c["name"] for c in s2["schema"]["cols"]] == ["k", "w"]
    # stats lists are isolated too
    vt2 = VersionedTable(str(tmp_path / "st"), stats_col="k")
    vt2.create(spark.range(4).select(F.col("id").alias("k")))
    t1 = vt2.snapshot(0)
    for lohi in t1["stats"].values():
        lohi[0] = -999
    t2 = vt2.snapshot(0)
    assert all(lohi[0] != -999 for lohi in t2["stats"].values())


def test_candidate_files_sidecar_failure_warns_once(spark, tmp_path):
    """ADVICE r8 (low): a failing parquet-sidecar fast path degrades
    to the JSON fallback WITH a one-time RuntimeWarning naming the
    sidecar path — never silently, never failing the probe."""
    import warnings as _w

    vt = VersionedTable(str(tmp_path / "warn"), stats_col="k")
    vt.create(
        spark.range(20)
        .select(F.col("id").alias("k"))
        .repartitionByRange(2, "k")
    )

    def boom(*a, **kw):
        raise ValueError("sidecar corrupted")

    vt.stats_relation = boom
    keys = spark.createDataFrame([(3,)], ["__mk"])
    snap = vt.snapshot()
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        c1 = vt._candidate_files(spark, keys, "__mk", snap)
        c2 = vt._candidate_files(spark, keys, "__mk", snap)
    msgs = [str(r.message) for r in rec if r.category is RuntimeWarning]
    assert len(msgs) == 1 and "_snapshots" in msgs[0]
    # JSON fallback still prunes correctly: key 3 lives in one file
    assert len(c1) == 1 and c1 == c2

# -- merge_full: the full Delta clause matrix -----------------------------


def test_merge_full_ordered_matched_clauses(spark, tmp_path):
    """Multiple WHEN MATCHED AND pred clauses fire FIRST-MATCH-WINS in
    listed order; a matched row satisfying none passes through."""
    vt = _mk(spark, tmp_path, n=10, files=2)  # k=0..9, v=k*1.0
    src = spark.createDataFrame(
        [(2, 0.0), (3, 0.0), (8, 0.0)], "s_k bigint, nv double"
    )
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[
            # clause 0: v < 3 -> DELETE (fires for k=2)
            {"when": F.col("v") < 3, "action": "delete"},
            # clause 1: v < 5 -> v = 100 (fires for k=3; k=2 already took 0)
            {"when": F.col("v") < 5, "action": "update",
             "set": {"v": F.lit(100.0)}},
            # clause 2: unconditional -> v = 200 (k=8)
            {"action": "update", "set": {"v": F.lit(200.0)}},
        ],
    )
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert 2 not in got
    assert got[3] == 100.0
    assert got[8] == 200.0
    assert got[5] == 5.0  # untouched non-matched target row
    assert len(got) == 9


def test_merge_full_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE UPDATE/DELETE over target-only rows,
    alongside matched update + conditional insert."""
    vt = _mk(spark, tmp_path, n=6, files=2)  # k=0..5
    src = spark.createDataFrame(
        [(1, 11.0), (100, 100.0), (200, 3.0)], "s_k bigint, nv double"
    )
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"v": F.col("nv")}}],
        not_matched=[
            # only sources with nv > 50 insert
            {"when": F.col("nv") > 50, "insert":
                {"k": F.col("s_k"), "v": F.col("nv")}},
        ],
        not_matched_by_source=[
            # stale small rows leave; others get flagged value
            {"when": F.col("v") < 3, "action": "delete"},
            {"action": "update", "set": {"v": F.col("v") + 1000}},
        ],
    )
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert got[1] == 11.0          # matched update
    assert got[100] == 100.0       # insert (nv > 50)
    assert 200 not in got          # insert clause predicate false
    assert 0 not in got and 2 not in got  # NMBS delete (v < 3, k!=1)
    assert got[3] == 1003.0 and got[5] == 1005.0  # NMBS update
    # time travel: v0 intact
    assert {r["k"] for r in vt.read(spark, 0).collect()} == set(range(6))


def test_merge_full_cdc_matches_snapshot_diff(spark, tmp_path):
    """Per-branch write-time CDC across all five branch kinds equals
    the snapshot diff (no-op updates excluded)."""
    vt = _mk(spark, tmp_path, n=6, files=2)
    src = spark.createDataFrame(
        [(1, 11.0), (4, 4.0), (100, 100.0), (200, 3.0)],
        "s_k bigint, nv double",
    )
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[
            {"when": F.col("v") > 3, "action": "delete"},  # k=4
            {"action": "update", "set": {"v": F.col("nv")}},  # k=1
        ],
        not_matched=[
            {"when": F.col("nv") > 50, "insert":
                {"k": F.col("s_k"), "v": F.col("nv")}},  # k=100
        ],
        not_matched_by_source=[
            {"when": F.col("v") < 1, "action": "delete"},  # k=0
            {"when": F.col("v") > 4, "action": "update",
             "set": {"v": F.col("v")}},  # k=5: NO-OP update -> no event
        ],
        cdc=True,
    )
    log = vt.read_changes_log(spark, "k", 0, 1).collect()
    diff = vt.read_changes(spark, "k", 0, 1).collect()
    assert _feed_key(log) == _feed_key(diff)
    assert _feed_key(log) == [
        (0, "delete", 0.0, None),
        (1, "update", 1.0, 11.0),
        (4, "delete", 4.0, None),
        (100, "insert", None, 100.0),
    ]


def test_merge_full_schema_evolution(spark, tmp_path):
    """evolve=True: set/insert expressions targeting a NEW column grow
    the schema additively — untouched rows read NULL, pre-evolution
    snapshots time-travel without the column; evolve=False raises."""
    vt = _mk(spark, tmp_path, n=4, files=1)
    src = spark.createDataFrame(
        [(1, "gold"), (100, "new")], "s_k bigint, tier string"
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="evolve=True"):
        vt.merge_full(
            spark, src, key="k", source_key="s_k",
            matched=[{"action": "update", "set": {"tier": F.col("tier")}}],
        )
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"tier": F.col("tier")}}],
        not_matched=[{"insert": {
            "k": F.col("s_k"), "v": F.lit(0.5), "tier": F.col("tier")}}],
        evolve=True,
    )
    got = {r["k"]: (r["v"], r["tier"]) for r in vt.read(spark).collect()}
    assert got[1] == (1.0, "gold")      # matched update writes new col
    assert got[100] == (0.5, "new")     # insert provides it
    assert got[2] == (2.0, None)        # untouched row reads NULL
    assert len(got) == 5
    # pre-evolution snapshot has no such column
    assert "tier" not in vt.read(spark, 0).columns


def test_merge_full_schema_evolution_under_column_mapping(spark, tmp_path):
    """Evolution composes with column mapping: the new logical column
    gets a mapping entry; rename/time-travel still line up."""
    vt = _mk(spark, tmp_path, n=4, files=1)
    vt.rename_column("v", "w")  # v1: mapping active
    src = spark.createDataFrame([(1, 9.0)], "s_k bigint, bonus double")
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"bonus": F.col("bonus")}}],
        evolve=True,
    )  # v2
    got = {r["k"]: (r["w"], r["bonus"]) for r in vt.read(spark).collect()}
    assert got[1] == (1.0, 9.0) and got[2] == (2.0, None)
    snap = vt.snapshot()
    names = [c["name"] for c in snap["schema"]["cols"]]
    assert names == ["k", "w", "bonus"]
    # v1 time travel: renamed but not evolved
    assert vt.read(spark, 1).columns == ["k", "w"]


def test_merge_full_equals_merge_into_on_its_matrix(spark, tmp_path):
    """merge_into's (delete_when, update, insert) triple is the
    2-matched-clause special case of merge_full — identical table."""
    vt_a = _mk(spark, tmp_path / "a", n=20, files=2)
    vt_b = _mk(spark, tmp_path / "b", n=20, files=2)
    src = spark.createDataFrame(
        [(3, 999.0), (5, 555.0), (100, 100.0)], "s_k bigint, nv double"
    )
    vt_a.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        delete_when=F.col("v") < 4,
    )
    vt_b.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[
            {"when": F.col("v") < 4, "action": "delete"},
            {"action": "update", "set": {"v": F.col("nv")}},
        ],
        not_matched=[{"insert": {"k": F.col("s_k"), "v": F.col("nv")}}],
    )
    a = sorted((r["k"], r["v"]) for r in vt_a.read(spark).collect())
    b = sorted((r["k"], r["v"]) for r in vt_b.read(spark).collect())
    assert a == b


def test_merge_full_clause_validation(spark, tmp_path):
    """Unreachable clauses, malformed actions, and keyless inserts are
    rejected up front."""
    vt = _mk(spark, tmp_path, n=4, files=1)
    src = spark.createDataFrame([(1, 1.0)], "s_k bigint, nv double")
    import pytest as _pt
    with _pt.raises(ValueError, match="unreachable"):
        vt.merge_full(
            spark, src, key="k", source_key="s_k",
            matched=[
                {"action": "update", "set": {"v": F.col("nv")}},
                {"when": F.col("v") > 0, "action": "delete"},
            ],
        )
    with _pt.raises(ValueError, match="DELETE takes no"):
        vt.merge_full(
            spark, src, key="k", source_key="s_k",
            matched=[{"action": "delete", "set": {"v": F.col("nv")}}],
        )
    with _pt.raises(ValueError, match="merge key"):
        vt.merge_full(
            spark, src, key="k", source_key="s_k",
            not_matched=[{"insert": {"v": F.col("nv")}}],
        )
    with _pt.raises(ValueError, match="duplicate"):
        vt.merge_full(
            spark,
            spark.createDataFrame([(1, 1.0), (1, 2.0)], "s_k bigint, nv double"),
            key="k", source_key="s_k",
            matched=[{"action": "update", "set": {"v": F.col("nv")}}],
        )


def test_merge_full_prunes_files_without_nmbs(spark, tmp_path):
    """Without NMBS clauses merge_full keeps merge_into's file-pruned
    posture: untouched files carry by reference into the new snapshot."""
    vt = VersionedTable(str(tmp_path / "p"), stats_col="k")
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    v0_files = set(vt.snapshot(0)["files"])
    src = spark.createDataFrame([(3, 0.0)], "s_k bigint, nv double")
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"v": F.col("nv")}}],
    )
    v1_files = set(vt.snapshot(1)["files"])
    carried = v0_files & v1_files
    assert len(carried) == 3  # only the file holding k=3 rewrote


# ---------------------------------------------------------------------------
# Hive-partitioned tables: pruning, DROP PARTITION, mixed lineages
# ---------------------------------------------------------------------------


def _mk_part(spark, tmp_path, langs=("en", "de", "fr"), n=90):
    """Partitioned table: key k, lang = langs[k % 3], value v."""
    vt = VersionedTable(str(tmp_path / "pt"), partition_by=["lang"])
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(l) for l in langs]), (F.col("id") % 3 + 1).cast("int")
        ).alias("lang"),
        (F.col("id") * 1.0).alias("v"),
    )
    vt.create(df)
    return vt, df


def test_partitioned_write_keeps_column_in_files(spark, tmp_path):
    """Identity-partition posture: the partition column survives INSIDE
    the data files (reads never depend on directory inference), and
    every committed file sits under a ``_p__lang=...`` segment."""
    vt, df = _mk_part(spark, tmp_path)
    snap = vt.snapshot()
    assert all("_p__lang=" in f for f in snap["files"])
    got = vt.read(spark)
    assert set(got.columns) == {"k", "lang", "v"}
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_read_partitions_scans_only_matching_files(spark, tmp_path):
    """Pruning is observable: the scanned-file set of a partition read
    is exactly the matching partition directories, and the rows equal
    read().filter(...)."""
    vt, df = _mk_part(spark, tmp_path)
    got = vt.read_partitions(spark, {"lang": ["en", "fr"]})
    scanned = {
        r["f"]
        for r in got.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert scanned and all(
        "_p__lang=en" in f or "_p__lang=fr" in f for f in scanned
    )
    want = df.filter(F.col("lang").isin("en", "fr"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_read_partitions_scalar_filter_and_empty(spark, tmp_path):
    vt, df = _mk_part(spark, tmp_path)
    got = vt.read_partitions(spark, {"lang": "de"})
    assert got.count() == df.filter("lang = 'de'").count()
    assert vt.read_partitions(spark, {"lang": "xx"}).count() == 0


def test_delete_partitions_is_metadata_only(spark, tmp_path):
    """DROP PARTITION on a fully-partitioned table adds ZERO data files
    (the manifest drops the matching files by reference); the deleted
    rows are gone at the new version and intact at the old one."""
    vt, df = _mk_part(spark, tmp_path)
    v = vt.delete_partitions(spark, {"lang": ["de"]})
    m = vt._load_manifest(v)
    assert m["operation"] == "delete_partitions"
    assert m["add"] == []          # zero bytes rewritten
    assert len(m["remove"]) > 0
    assert vt.read(spark).filter("lang = 'de'").count() == 0
    assert vt.read(spark).count() == df.filter("lang <> 'de'").count()
    assert vt.read(spark, 0).count() == df.count()  # time travel intact


def test_delete_partitions_nonaligned_range_is_row_exact(spark, tmp_path):
    """ADVICE r10 (high): a days(ts) range whose bounds do NOT land on
    partition boundaries must not drop the boundary days wholesale —
    pre-fix, (03-01 12:00, 03-04 00:00) rendered to day strings and
    both boundary days were removed metadata-only, silently deleting
    the 03-01 morning rows and 03-04's post-midnight rows. Boundary
    partitions are now rewritten with their row-exact survivors (no
    stats_col here, so the stats containment proof can't fire);
    interior days still drop by reference."""
    import datetime as _dt

    vt = VersionedTable(str(tmp_path / "na"), partition_by=["days(ts)"])
    df = spark.range(240).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    vt.create(df)
    lo = _dt.datetime(2024, 3, 1, 12, 0)
    hi = _dt.datetime(2024, 3, 4, 0, 0)
    v = vt.delete_partitions(spark, {"ts": ("range", lo, hi)})
    want = sorted(
        map(
            tuple,
            df.filter(
                ~F.col("ts").between(F.lit(lo), F.lit(hi))
            ).collect(),
        )
    )
    got = sorted(map(tuple, vt.read(spark).collect()))
    assert got == want  # 03-01 morning + 03-04 afternoon rows survive
    m = vt._load_manifest(v)
    # interior days (03-02, 03-03) dropped by reference; boundary days
    # rewritten (survivor files added)
    removed_days = {
        vt._partition_values(f).get("ts_day") for f in m["remove"]
    }
    assert {"2024-03-02", "2024-03-03"} <= removed_days
    added_days = {
        vt._partition_values(f).get("ts_day") for f in m["add"]
    }
    assert "2024-03-01" in added_days and "2024-03-04" in added_days
    assert vt.read(spark, 0).count() == 240  # time travel intact


def test_delete_partitions_scalar_through_time_transform(spark, tmp_path):
    """ADVICE r10 (high): {"ts": t} on a days(ts) table renders to t's
    whole day — pre-fix the entire day was dropped metadata-only.
    Delete semantics are ts == t exactly: one row gone, the other 23
    hourly rows of the day intact."""
    import datetime as _dt

    vt = VersionedTable(str(tmp_path / "sc"), partition_by=["days(ts)"])
    df = spark.range(48).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    vt.create(df)
    vt.delete_partitions(
        spark, {"ts": _dt.datetime(2024, 3, 1, 7, 0)}
    )
    assert vt.read(spark).count() == 47
    assert (
        vt.read(spark)
        .filter("ts = timestamp'2024-03-01 07:00:00'")
        .count()
        == 0
    )


def test_delete_partitions_scalar_through_bucket_transform(spark, tmp_path):
    """ADVICE r10 (high): {"k": 5} on bucket(8, k) pre-fix deleted
    every key sharing 5's bucket directory. Only k == 5 rows may go;
    every other key in the same bucket survives."""
    vt = VersionedTable(str(tmp_path / "bkdel"), partition_by=["bucket(8, k)"])
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df)
    fld = vt._partition_fields(vt.snapshot().get("schema"))[0]
    bucket_of_5 = vt._transform_value(fld, 5)
    same_bucket = [
        k for k in range(200) if vt._transform_value(fld, k) == bucket_of_5
    ]
    assert len(same_bucket) > 1, "test needs a shared bucket"
    vt.delete_partitions(spark, {"k": 5})
    got = {r["k"] for r in vt.read(spark).collect()}
    assert 5 not in got
    assert set(same_bucket) - {5} <= got  # bucket-mates survive


def test_partition_ops_on_mixed_lineage(spark, tmp_path):
    """A table whose FIRST commit predates partitioning: partition
    reads must still be exact (unpartitioned files are scanned and
    row-filtered), and DROP PARTITION rewrites ONLY the unpartitioned
    files while dropping matching partition dirs by reference."""
    path = str(tmp_path / "mix")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    VersionedTable(path).create(df.filter("k < 30"))          # unpartitioned
    vt = VersionedTable(path, partition_by=["lang"])
    vt.append(df.filter("k >= 30"))                           # partitioned
    got = vt.read_partitions(spark, {"lang": "en"})
    want = df.filter("lang = 'en'")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    v = vt.delete_partitions(spark, {"lang": ["de"]})
    m = vt._load_manifest(v)
    # the v0 files were rewritten (survivors), the de partition dir of
    # v1 was dropped by reference, and the en partition dir carried
    assert all("_p__lang=" in f for f in m["add"])  # rewrite is partitioned
    assert any("_p__lang=de" in f for f in m["remove"])
    assert vt.read(spark).filter("lang = 'de'").count() == 0
    assert vt.read(spark).count() == df.filter("lang = 'en'").count()


def test_delete_partitions_null_semantics_on_unknown_files(spark, tmp_path):
    """Rows whose partition column is NULL live only in unpartitioned
    files (hive writes NULL as __HIVE_DEFAULT_PARTITION__; our identity
    posture keeps the raw NULL in the file). A DROP PARTITION on a
    value list must keep NULL rows (SQL delete semantics: NULL
    predicate rows survive)."""
    path = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, None)], "k bigint, lang string"
    )
    VersionedTable(path).create(df)  # unpartitioned: NULLs allowed
    vt = VersionedTable(path, partition_by=["lang"])
    vt.delete_partitions(spark, {"lang": ["de"]})
    got = sorted((r["k"], r["lang"]) for r in vt.read(spark).collect())
    assert got == [(1, "en"), (3, None)]


def test_vacuum_collects_partitioned_orphans(spark, tmp_path):
    """After DROP PARTITION + retention expiry, vacuum must delete the
    orphaned files inside nested partition directories and prune the
    emptied dirs (the recursive walk)."""
    vt, df = _mk_part(spark, tmp_path)
    vt.delete_partitions(spark, {"lang": ["de"]})
    out = vt.vacuum(retain_last=1, orphan_grace_sec=0.0, force_orphan_grace=True)
    assert out["deleted_files"] > 0
    # the de partition dirs are gone from disk
    for root, dirs, files in os.walk(os.path.join(vt.path, "data")):
        assert "_p__lang=de" not in root or not files
    # current version unaffected
    assert vt.read(spark).count() == df.filter("lang <> 'de'").count()
    with pytest.raises(Exception):
        vt.read(spark, 0).collect()  # expired snapshot no longer readable


def test_partitioned_table_under_column_mapping(spark, tmp_path):
    """RENAME of the partition column: physical path segments keep the
    (stable) physical name, logical reads and partition filters use
    the NEW logical name — pruning metadata survives renames with no
    directory moves, same rule as stats re-keying."""
    vt, df = _mk_part(spark, tmp_path)
    vt.rename_column("lang", "language")
    got = vt.read_partitions(spark, {"language": ["en"]})
    assert set(got.columns) == {"k", "language", "v"}
    assert got.count() == df.filter("lang = 'en'").count()
    scanned = {
        r["f"]
        for r in got.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert scanned and all("_p__lang=en" in f for f in scanned)
    # writes after the rename land under the SAME physical segment
    extra = spark.createDataFrame([(1000, "en", 1.0)], "k bigint, language string, v double")
    vt.append(extra)
    snap = vt.snapshot()
    assert all("_p__language=" not in f for f in snap["files"])
    assert vt.read_partitions(spark, {"language": "en"}).count() == df.filter("lang = 'en'").count() + 1


# ---------------------------------------------------------------------------
# Write-time expectations
# ---------------------------------------------------------------------------


def _mk_exp(spark, tmp_path):
    vt = _mk(spark, tmp_path)  # keys 0..99, v = k*1.0
    return vt


def test_expectation_fail_mode_blocks_commit(spark, tmp_path):
    """A fail-mode violation aborts BEFORE the manifest publishes: the
    table version and contents are untouched (staged files are vacuum
    orphans, invisible to every reader)."""
    from mapreduce_wordcounter_spark.sources.versioned import (
        ExpectationViolationError,
    )

    vt = _mk_exp(spark, tmp_path)
    vt.set_expectation(spark, "v_nonneg", "v >= 0", mode="fail")
    v_before = vt.latest_version()
    bad = spark.createDataFrame([(500, -1.0)], "k bigint, v double")
    with pytest.raises(ExpectationViolationError):
        vt.append(bad)
    assert vt.latest_version() == v_before
    assert vt.read(spark).count() == 100


def test_expectation_drop_mode_filters_and_records_metrics(spark, tmp_path):
    vt = _mk_exp(spark, tmp_path)
    vt.set_expectation(spark, "k_bounded", "k < 1000", mode="drop")
    vt.set_expectation(spark, "v_even", "v % 2 = 0", mode="warn")
    src = spark.createDataFrame(
        [(2000, 2.0), (500, 3.0), (501, 4.0)], "k bigint, v double"
    )
    v = vt.append(src)
    m = vt._load_manifest(v)
    assert m["expectation_metrics"] == {
        "k_bounded": {"mode": "drop", "violations": 1},
        "v_even": {"mode": "warn", "violations": 1},
    }
    got = vt.read(spark)
    assert got.count() == 102          # k=2000 dropped, warn rows kept
    assert got.filter("k = 2000").count() == 0
    assert got.filter("k = 500").count() == 1


def test_expectation_metrics_survive_commit_race(spark, tmp_path):
    """Per-commit violation metrics must ride the commit RETRY: a
    publish losing the version race (VersionConflictError) and
    retrying on a fresh parent still carries the metrics its data
    write observed — clearing them before publish succeeded silently
    undercounted expectation audits under concurrency (ADVICE r9)."""
    from mapreduce_wordcounter_spark.sources.versioned import (
        VersionConflictError,
    )

    vt = _mk_exp(spark, tmp_path)
    vt.set_expectation(spark, "k_bounded", "k < 1000", mode="drop")
    orig = vt._publish
    state = {"failed": False}

    def flaky(manifest, version):
        if not state["failed"]:
            state["failed"] = True
            raise VersionConflictError("simulated concurrent winner")
        return orig(manifest, version)

    vt._publish = flaky
    v = vt.append(
        spark.createDataFrame([(2000, 1.0), (5, 2.0)], "k bigint, v double")
    )
    assert state["failed"]  # the race actually fired
    m = vt._load_manifest(v)
    assert m["expectation_metrics"]["k_bounded"] == {
        "mode": "drop",
        "violations": 1,
    }


def test_changes_log_sees_rewrite_dropped_rows(spark, tmp_path):
    """OPTIMIZE under an active drop-mode rule can DELETE rows (every
    rewrite passes the expectation gate — test_expectations_enforced_
    on_rewrite): the change feed must surface those deletes instead of
    skipping the commit as layout-only, or incremental consumers
    silently diverge (ADVICE r9)."""
    vt = _mk_exp(spark, tmp_path)  # keys 0..99, v = k*1.0
    v0 = vt.latest_version()
    # drop rule that EXISTING rows 98, 99 violate (drop-mode rules may
    # be set over violating data; they scrub on the next rewrite)
    vt.set_expectation(spark, "v_cap", "v < 98", mode="drop")
    v_opt = vt.optimize(spark, ["k"])
    assert vt.read(spark).filter("k >= 98").count() == 0  # gate fired
    log = vt.read_changes_log(spark, "k", v0, v_opt)
    deletes = sorted(
        r["k"] for r in log.filter("change_type = 'delete'").collect()
    )
    assert deletes == [98, 99]
    # and metrics-aware skipping still works: a second optimize with
    # ZERO drop violations contributes nothing to the feed
    v_opt2 = vt.optimize(spark, ["k"])
    m2 = vt._load_manifest(v_opt2)
    assert all(
        rec["violations"] == 0
        for rec in (m2.get("expectation_metrics") or {}).values()
    )
    assert vt.read_changes_log(spark, "k", v_opt, v_opt2).count() == 0


def test_expectation_null_predicate_fails_row(spark, tmp_path):
    """DLT posture (documented divergence from SQL CHECK): a row passes
    iff the predicate is TRUE — NULL fails, so drop-mode removes
    NULL-evaluating rows and fail-mode rejects them."""
    vt = _mk_exp(spark, tmp_path)
    vt.set_expectation(spark, "v_pos", "v > 0", mode="drop")
    src = spark.createDataFrame([(300, None), (301, 5.0)], "k bigint, v double")
    vt.append(src)
    got = vt.read(spark).filter("k >= 300")
    assert [(r["k"], r["v"]) for r in got.collect()] == [(301, 5.0)]


def test_set_expectation_validates_existing_data(spark, tmp_path):
    from mapreduce_wordcounter_spark.sources.versioned import (
        ExpectationViolationError,
    )

    vt = _mk_exp(spark, tmp_path)
    with pytest.raises(ExpectationViolationError):
        vt.set_expectation(spark, "impossible", "v > 10000", mode="fail")
    # drop/warn modes never validate existing data
    vt.set_expectation(spark, "lenient", "v > 10000", mode="drop")


def test_expectations_inherit_and_rollback(spark, tmp_path):
    """Expectations ride the manifest chain like the column mapping:
    inherited by later commits, removable, restored by rollback, and
    visible to a fresh handle (pure metadata round-trip)."""
    vt = _mk_exp(spark, tmp_path)
    v_rule = vt.set_expectation(spark, "v_nonneg", "v >= 0", mode="fail")
    vt.append(spark.createDataFrame([(200, 1.0)], "k bigint, v double"))
    assert "v_nonneg" in (vt.snapshot().get("expectations") or {})
    vt.drop_expectation("v_nonneg")
    assert not (vt.snapshot().get("expectations") or {})
    vt.rollback(v_rule)
    assert "v_nonneg" in (vt.snapshot().get("expectations") or {})
    vt2 = VersionedTable(vt.path)
    assert "v_nonneg" in (vt2.snapshot().get("expectations") or {})
    with pytest.raises(KeyError):
        vt2.drop_expectation("never_was")


def test_expectations_enforced_on_rewrite(spark, tmp_path):
    """Copy-on-write rewrites pass through the same gate: a drop-mode
    rule added AFTER data was ingested scrubs violating rows from any
    file a later delete/merge rewrites (Delta's constraint contract:
    rewritten files satisfy active rules)."""
    vt = _mk_exp(spark, tmp_path)
    vt.set_expectation(spark, "v_cap", "v < 98", mode="drop")  # 98, 99 violate
    # delete k=0: rewrites the file holding small keys; the file holding
    # 98/99 is NOT rewritten, so those rows survive until touched
    vt.delete_where(spark, F.col("k") == 0)
    remaining = vt.read(spark)
    assert remaining.filter("k = 0").count() == 0
    assert remaining.filter("k >= 98").count() == 2  # untouched file
    # now touch the top file: its rewrite scrubs 98/99 too
    vt.delete_where(spark, F.col("k") == 97)
    got = vt.read(spark)
    assert got.filter("k >= 97").count() == 0
    assert got.count() == 96  # 0, 97, 98, 99 gone


def test_expectations_compose_with_partitioning(spark, tmp_path):
    """Gates and hive partitioning share the write chokepoint: drop-mode
    filtering applies before partition dirs are laid out."""
    vt, df = _mk_part(spark, tmp_path)
    vt.set_expectation(spark, "k_cap", "k < 1000", mode="drop")
    vt.append(
        spark.createDataFrame(
            [(1000, "en", 1.0), (50, "xx", 2.0)], "k bigint, lang string, v double"
        )
    )
    assert vt.read(spark).filter("k = 1000").count() == 0
    assert vt.read_partitions(spark, {"lang": "xx"}).count() == 1


# ---------------------------------------------------------------------------
# Shallow clone
# ---------------------------------------------------------------------------


def test_clone_is_metadata_only_and_reads_equal(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    cl = vt.clone_to(str(tmp_path / "clone"))
    assert sorted(map(tuple, cl.read(spark).collect())) == sorted(
        map(tuple, vt.read(spark).collect())
    )
    # zero data bytes under the clone: no data/ dir at all yet
    assert not os.path.isdir(os.path.join(cl.path, "data"))
    m = cl._load_manifest(0)
    assert m["operation"] == "clone"
    assert m["cloned_from"] == vt.path
    assert all(os.path.isabs(f) for f in m["add"])


def test_clone_diverges_independently(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    cl = vt.clone_to(str(tmp_path / "clone"))
    cl.append(spark.createDataFrame([(500, 5.0)], "k bigint, v double"))
    cl.delete_where(spark, F.col("k") < 10)
    vt.append(spark.createDataFrame([(900, 9.0)], "k bigint, v double"))
    assert vt.read(spark).count() == 101          # source unaffected by clone
    assert cl.read(spark).count() == 91           # 100 - 10 + 1
    assert cl.read(spark).filter("k = 900").count() == 0
    assert cl.read(spark, 0).count() == 100       # clone time-travel intact


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    cl = vt.clone_to(str(tmp_path / "clone"))
    # clone rewrites everything (optimize), then expires v0 — the
    # dropped v0 files are the SOURCE's data and must survive
    cl.optimize(spark, cluster_by=["k"], n_files=2)
    cl.vacuum(retain_last=1, orphan_grace_sec=0.0, force_orphan_grace=True)
    assert vt.read(spark).count() == 100          # source intact
    with pytest.raises(Exception):
        cl.read(spark, 0).collect()               # clone's v0 expired


def test_clone_carries_metadata(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    vt.set_expectation(spark, "v_nonneg", "v >= 0", mode="fail")
    # renaming a column an expectation references is refused (the
    # stored predicate would dangle — Delta's CHECK-constraint rule)
    with pytest.raises(ValueError):
        vt.rename_column("v", "val")
    with pytest.raises(ValueError):
        vt.drop_column("v")
    vt.rename_column("k", "key")  # unreferenced: fine
    cl = vt.clone_to(str(tmp_path / "clone"))
    assert set(cl.read(spark).columns) == {"key", "v"}
    assert "v_nonneg" in (cl.snapshot().get("expectations") or {})
    from mapreduce_wordcounter_spark.sources.versioned import (
        ExpectationViolationError,
    )
    with pytest.raises(ExpectationViolationError):
        cl.append(spark.createDataFrame([(1, -5.0)], "key bigint, v double"))


def test_clone_pinned_version(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    vt.append(spark.createDataFrame([(500, 5.0)], "k bigint, v double"))
    cl = vt.clone_to(str(tmp_path / "clone"), version=0)
    assert cl.read(spark).count() == 100
    assert cl._load_manifest(0)["cloned_version"] == 0


# ---------------------------------------------------------------------------
# Merge-on-read deletes (deletion vectors)
# ---------------------------------------------------------------------------


def test_delete_mor_tombstones_without_rewrite(spark, tmp_path):
    """THE merge-on-read contract: the delete commits ONLY a DV sidecar
    — the data file list is bit-identical to the parent's — yet every
    read excludes the tombstoned rows, and the pre-delete snapshot
    still serves them (DV state is versioned like files)."""
    vt = _mk(spark, tmp_path)
    v = vt.delete_where_mor(spark, F.col("k") % 10 == 0)
    snap = vt.snapshot()
    assert snap["files"] == vt.snapshot(0)["files"]  # zero data rewrite
    assert snap["dv"]                                 # sidecar attached
    assert vt.read(spark).count() == 90
    assert vt.read(spark).filter("k % 10 = 0").count() == 0
    assert vt.read(spark, 0).count() == 100
    m = vt._load_manifest(v)
    assert m["operation"] == "delete_mor" and m["add"] == []


def test_delete_mor_equals_delete_where(spark, tmp_path):
    """MoR and CoW deletes are semantically identical — same surviving
    rows, same NULL semantics (NULL-evaluating rows survive)."""
    a = VersionedTable(str(tmp_path / "a"))
    b = VersionedTable(str(tmp_path / "b"))
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "k bigint, v double"
    )
    a.create(df)
    b.create(df)
    a.delete_where(spark, F.col("v") < 0)
    b.delete_where_mor(spark, F.col("v") < 0)
    rows_a = sorted((r["k"], r["v"]) for r in a.read(spark).collect())
    rows_b = sorted((r["k"], r["v"]) for r in b.read(spark).collect())
    assert rows_a == rows_b == [(1, 5.0), (2, None)]


def test_delete_mor_accumulates_and_composes_with_cow(spark, tmp_path):
    """Multiple DVs stack; a later copy-on-write delete that rewrites a
    DV'd file must NOT resurrect its tombstoned rows (the rewrite scans
    through _scan, which applies DVs)."""
    vt = _mk(spark, tmp_path)
    vt.delete_where_mor(spark, F.col("k") == 5)
    vt.delete_where_mor(spark, F.col("k") == 6)
    assert vt.read(spark).count() == 98
    # CoW delete of k=7 rewrites the low-range file where 5 and 6 live
    vt.delete_where(spark, F.col("k") == 7)
    got = vt.read(spark)
    assert got.count() == 97
    assert got.filter("k in (5, 6, 7)").count() == 0


def test_delete_mor_pruned_and_partition_reads_apply_dvs(spark, tmp_path):
    """Every read path shares the DV-aware scan: stats-pruned reads and
    partition reads exclude tombstoned rows too."""
    vt = VersionedTable(str(tmp_path / "s"), stats_col="k")
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    vt.delete_where_mor(spark, F.col("k") == 10)
    pruned = vt.read_pruned(spark, 0, 30).filter("k between 0 and 30")
    assert pruned.count() == 30 and pruned.filter("k = 10").count() == 0

    pt, pdf = _mk_part(spark, tmp_path)
    pt.delete_where_mor(spark, F.col("k") == 0)   # k=0 is lang 'en'
    got = pt.read_partitions(spark, {"lang": "en"})
    assert got.filter("k = 0").count() == 0
    assert got.count() == pdf.filter("lang = 'en'").count() - 1


def test_purge_dvs_rewrites_only_dvd_files(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    vt.delete_where_mor(spark, F.col("k") == 5)
    snap = vt.snapshot()
    dvd = set(snap["dv"])
    v = vt.purge_dvs(spark)
    m = vt._load_manifest(v)
    assert m["operation"] == "purge_dvs"
    assert {os.path.basename(f) for f in m["remove"]} == dvd
    untouched = [f for f in snap["files"] if os.path.basename(f) not in dvd]
    assert set(untouched) <= set(vt.snapshot()["files"])  # by reference
    assert not vt.snapshot()["dv"]
    assert vt.read(spark).count() == 99
    assert vt.purge_dvs(spark) == v  # idempotent no-op without DVs


def test_delete_mor_merge_and_changes_feed_respect_dvs(spark, tmp_path):
    """A merge after a MoR delete must not resurrect or re-match the
    tombstoned row, and the snapshot-diff change feed sees the MoR
    delete as row deletes."""
    vt = _mk(spark, tmp_path)
    v1 = vt.delete_where_mor(spark, F.col("k") == 3)
    feed = vt.read_changes(spark, "k", 0, v1)
    assert [(r["k"], r["change_type"]) for r in feed.collect()] == [(3, "delete")]
    _merge_bump(spark, vt, [3, 4])  # 3 is deleted: must INSERT, not update
    got = {r["k"]: r["v"] for r in vt.read(spark).filter("k in (3, 4)").collect()}
    assert got == {3: 1003.0, 4: 1004.0}


def test_delete_mor_rollback_clone_vacuum(spark, tmp_path):
    vt = _mk(spark, tmp_path)
    v1 = vt.delete_where_mor(spark, F.col("k") < 50)
    vt.purge_dvs(spark)
    vt.rollback(v1)
    assert vt.read(spark).count() == 50
    cl = vt.clone_to(str(tmp_path / "clone"))
    assert cl.read(spark).count() == 50          # clone carries DV state
    # expire everything but the purge+rollback window on the source:
    # the DV sidecars are still referenced by the rollback snapshot
    out = vt.vacuum(retain_last=1, orphan_grace_sec=0.0, force_orphan_grace=True)
    assert vt.read(spark).count() == 50          # current still DV-filtered


def test_delete_keys_mor_matches_delete_keys(spark, tmp_path):
    """The MoR key delete equals the CoW key delete row-for-row, with
    zero data files rewritten and candidate pruning intact."""
    a = VersionedTable(str(tmp_path / "a"), stats_col="k")
    b = VersionedTable(str(tmp_path / "b"), stats_col="k")
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    a.create(df)
    b.create(df)
    doomed = spark.createDataFrame([(7,), (8,), (55,)], "dk bigint")
    a.delete_keys(spark, doomed, key="k", source_key="dk")
    v = b.delete_keys_mor(spark, doomed, key="k", source_key="dk")
    assert sorted(map(tuple, a.read(spark).collect())) == sorted(
        map(tuple, b.read(spark).collect())
    )
    m = b._load_manifest(v)
    assert m["operation"] == "delete_keys_mor" and m["add"] == []
    assert b.snapshot()["files"] == b.snapshot(0)["files"]
    # keys matching nothing: pure metadata commit, no DV entry
    v2 = b.delete_keys_mor(
        spark, spark.createDataFrame([(10**9,)], "dk bigint"), "k", "dk"
    )
    assert "dv_add" not in b._load_manifest(v2)
    assert b.read(spark).count() == 97


# ---------------------------------------------------------------------------
# Dynamic partition overwrite + AS OF TIMESTAMP
# ---------------------------------------------------------------------------


def test_overwrite_partitions_swaps_only_touched(spark, tmp_path):
    """Dynamic overwrite replaces exactly the partitions present in the
    incoming frame; untouched partitions carry by reference; the
    pre-overwrite partition still time-travels. Re-running the same
    overwrite converges (idempotent backfill)."""
    vt, df = _mk_part(spark, tmp_path)  # en/de/fr, 90 rows
    before = vt.snapshot()
    new_en = spark.createDataFrame(
        [(1000, "en", 7.0), (1001, "en", 8.0)], "k bigint, lang string, v double"
    )
    v = vt.overwrite_partitions(spark, new_en)
    got = vt.read(spark)
    assert got.filter("lang = 'en'").count() == 2
    assert got.filter("lang = 'de'").count() == df.filter("lang='de'").count()
    m = vt._load_manifest(v)
    assert all("_p__lang=en" in f for f in m["remove"])  # only en swapped
    # untouched partitions carried by reference
    de_before = {f for f in before["files"] if "_p__lang=de" in f}
    assert de_before <= set(vt.snapshot()["files"])
    assert vt.read(spark, v - 1).filter("lang = 'en'").count() == 30
    # idempotent: overwriting again converges to the same rows
    vt.overwrite_partitions(spark, new_en)
    assert vt.read(spark).filter("lang = 'en'").count() == 2


def test_overwrite_partitions_refuses_mixed_lineage(spark, tmp_path):
    path = str(tmp_path / "mix")
    df = spark.createDataFrame([(1, "en", 1.0)], "k bigint, lang string, v double")
    VersionedTable(path).create(df)  # unpartitioned first commit
    vt = VersionedTable(path, partition_by=["lang"])
    with pytest.raises(ValueError):
        vt.overwrite_partitions(spark, df)
    plain = VersionedTable(str(tmp_path / "p"))
    plain.create(df)
    with pytest.raises(ValueError):
        plain.overwrite_partitions(spark, df)  # no partition_by at all


def test_version_at_timestamp(spark, tmp_path):
    import time

    vt = _mk(spark, tmp_path)
    t0 = time.time()
    time.sleep(0.05)
    vt.append(spark.createDataFrame([(500, 5.0)], "k bigint, v double"))
    t1 = time.time()
    assert vt.version_at(t0) == 0
    assert vt.version_at(t1) == 1
    assert vt.version_at(time.time() + 100) == 1
    assert vt.read_at(spark, t0).count() == 100
    assert vt.read_at(spark, t1).count() == 101
    with pytest.raises(ValueError):
        vt.version_at(t0 - 10**6)  # before the table existed


def test_delete_keys_mor_cdc_log_matches_diff(spark, tmp_path):
    """MoR key deletes with cdc=True serve the write-time change log at
    churn cost: the composed log feed equals the snapshot diff across
    a range containing appends, the MoR delete, and a purge (which,
    like OPTIMIZE, contributes nothing — rows identical)."""
    vt = VersionedTable(str(tmp_path / "t"), stats_col="k")
    df = (
        spark.range(50)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k")
    )
    vt.create(df)
    vt.append(spark.createDataFrame([(100, 1.0)], "k bigint, v double"))
    vt.delete_keys_mor(
        spark,
        spark.createDataFrame([(7,), (100,)], "dk bigint"),
        key="k",
        source_key="dk",
        cdc=True,
    )
    v_end = vt.purge_dvs(spark)
    log = vt.read_changes_log(spark, "k", 0, v_end)
    diff = vt.read_changes(spark, "k", 0, v_end)
    assert sorted(map(tuple, log.collect())) == sorted(map(tuple, diff.collect()))
    # the range includes set_expectation metadata commits too
    vt.set_expectation(spark, "nonneg", "v >= 0", mode="warn")
    log2 = vt.read_changes_log(spark, "k", 0, vt.latest_version())
    assert sorted(map(tuple, log2.collect())) == sorted(map(tuple, diff.collect()))
    # without cdc the MoR delete falls back to the snapshot diff
    vt2 = VersionedTable(str(tmp_path / "u"))
    vt2.create(df)
    vt2.delete_keys_mor(
        spark, spark.createDataFrame([(3,)], "dk bigint"), "k", "dk"
    )
    fb = vt2.read_changes_log(spark, "k", 0, 1)
    assert [(r["k"], r["change_type"]) for r in fb.collect()] == [(3, "delete")]


def test_optimize_preserves_partition_layout(spark, tmp_path):
    """OPTIMIZE on a partitioned table re-clusters WITHIN the hive
    layout: every rewritten file still sits under a partition dir, and
    partition pruning keeps working on the compacted snapshot."""
    vt, df = _mk_part(spark, tmp_path)
    vt.append(df.limit(10))  # fragment a little
    vt.optimize(spark, cluster_by=["k"], n_files=2)
    snap = vt.snapshot()
    assert all("_p__lang=" in f for f in snap["files"])
    got = vt.read_partitions(spark, {"lang": "en"})
    scanned = {
        r["f"]
        for r in got.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert scanned and all("_p__lang=en" in f for f in scanned)
    want = df.unionAll(df.limit(10)).filter("lang = 'en'")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_partitioned_basenames_globally_unique(spark, tmp_path):
    """partitionBy gives one task's outputs in different partition dirs
    the SAME part-file basename; the protocol keys files by basename
    (DV tombstones, rewrite probes), so the write must uniquify. The
    regression this pins: a MoR delete of (file, pos) in one partition
    must NOT tombstone the same-position row of a sibling partition."""
    vt = VersionedTable(str(tmp_path / "t"), partition_by=["p"])
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "k bigint, p string"
    ).coalesce(1)  # one task: both partition dirs get the same part file
    vt.create(df)
    snap = vt.snapshot()
    basenames = [os.path.basename(f) for f in snap["files"]]
    assert len(basenames) == len(set(basenames))
    vt.delete_where_mor(spark, F.col("k") == 1)
    rows = sorted((r["k"], r["p"]) for r in vt.read(spark).collect())
    assert rows == [(2, "a"), (3, "b"), (4, "b")]


def test_expectation_max_frac_circuit_breaker(spark, tmp_path):
    """max_frac is a batch-level rate gate on any mode: a drop-mode
    rule quietly drops a trickle of bad rows but ABORTS the commit
    when the batch is mostly bad (upstream incident, not noise); a
    fail-mode rule with max_frac tolerates violations under the rate
    instead of aborting on the first row."""
    from mapreduce_wordcounter_spark.sources.versioned import (
        ExpectationViolationError,
    )

    vt = _mk(spark, tmp_path)
    vt.set_expectation(spark, "v_pos", "v >= 0", mode="drop", max_frac=0.3)
    # 1/4 bad (25% <= 30%): commits, bad row dropped
    ok_batch = spark.createDataFrame(
        [(200, 1.0), (201, 2.0), (202, 3.0), (203, -1.0)], "k bigint, v double"
    )
    v = vt.append(ok_batch)
    assert vt.read(spark).count() == 103
    assert vt._load_manifest(v)["expectation_metrics"]["v_pos"]["violations"] == 1
    # 1/2 bad (50% > 30%): aborts, nothing committed
    bad_batch = spark.createDataFrame(
        [(300, 1.0), (301, -9.0)], "k bigint, v double"
    )
    with pytest.raises(ExpectationViolationError, match="max_frac"):
        vt.append(bad_batch)
    assert vt.latest_version() == v
    assert vt.read(spark).count() == 103

    # fail-mode + max_frac: violations under the rate pass THROUGH
    # (rows kept — fail mode never filters), over the rate aborts
    vt2 = _mk(spark, tmp_path / "f")
    vt2.set_expectation(spark, "v_cap", "v < 1000", mode="fail", max_frac=0.5)
    vt2.append(
        spark.createDataFrame(
            [(500, 5000.0), (501, 1.0), (502, 2.0)], "k bigint, v double"
        )
    )
    assert vt2.read(spark).filter("v >= 1000").count() == 1  # kept
    with pytest.raises(ExpectationViolationError):
        vt2.append(spark.createDataFrame([(600, 9999.0)], "k bigint, v double"))
    with pytest.raises(ValueError):
        vt2.set_expectation(spark, "__reserved", "v > 0", mode="warn")
    with pytest.raises(ValueError):
        vt2.set_expectation(spark, "x", "v > 0", mode="drop", max_frac=1.5)


def test_metadata_row_counts_across_commit_types(spark, tmp_path):
    """count_rows is a METADATA-ONLY COUNT(*) (per-file footer counts
    recorded per commit, minus DV tombstones): it must equal
    read().count() across create, append, CoW merge/delete, MoR
    delete, purge, optimize, partition drop and rollback — and answer
    None (honest scan fallback) when a live file predates recording."""
    vt = _mk(spark, tmp_path)  # create: keys 0..99
    assert vt.count_rows() == 100 == vt.read(spark).count()
    vt.append(spark.createDataFrame([(100, 1.0), (101, 2.0)], "k bigint, v double"))
    assert vt.count_rows() == 102 == vt.read(spark).count()
    vt.delete_where(spark, F.col("k") % 10 == 0)  # CoW: 11 gone (0..100)
    assert vt.count_rows() == vt.read(spark).count() == 91
    vt.delete_where_mor(spark, F.col("k") % 7 == 0)  # MoR tombstones
    assert vt.count_rows() == vt.read(spark).count()
    n_mor = vt.count_rows()
    vt.purge_dvs(spark)  # compacts tombstones back into data files
    assert vt.count_rows() == vt.read(spark).count() == n_mor
    vt.optimize(spark, ["k"])
    assert vt.count_rows() == vt.read(spark).count() == n_mor
    vt.rollback(1)
    assert vt.count_rows() == 102 == vt.read(spark).count()
    # time travel: every retained version still answers from metadata
    assert vt.count_rows(0) == 100
    # pre-upgrade file: strip the recorded counts from the create
    # manifest -> metadata honestly declines
    m = vt._load_manifest(0)
    m.pop("rows", None)
    with open(vt._manifest_path(0), "w") as fh:
        json.dump(m, fh)
    vt2 = VersionedTable(str(tmp_path / "t"))
    assert vt2.count_rows(0) is None


def test_history_audit_rows(spark, tmp_path):
    """history() returns newest-first (version, operation, churn,
    metadata row count) audit rows from the manifest log alone."""
    vt = _mk(spark, tmp_path, n=50, files=2)
    vt.append(spark.createDataFrame([(50, 1.0)], "k bigint, v double"))
    vt.delete_where(spark, F.col("k") == 0)
    h = vt.history()
    assert [r["version"] for r in h] == [2, 1, 0]
    assert [r["operation"] for r in h] == ["delete", "append", "create"]
    assert [r["n_rows"] for r in h] == [50, 51, 50]
    assert h[2]["n_added"] == 2 and h[2]["n_removed"] == 0
    assert h[0]["n_removed"] >= 1  # the CoW rewrite dropped a file
    assert vt.history(limit=1)[0]["version"] == 2


def test_metadata_counts_through_checkpoint_tree_and_clone(spark, tmp_path):
    """Row counts survive checkpoint-tree resolution (n_rows rides the
    manifest parts) and shallow clones (absolute-path files re-footed
    at clone commit)."""
    vt = VersionedTable(str(tmp_path / "ck"), checkpoint_interval=2)
    df = spark.range(60).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    vt.create(df.repartitionByRange(3, "k"))
    vt.append(spark.createDataFrame([(60, 1.0)], "k bigint, v double"))
    vt.append(spark.createDataFrame([(61, 2.0)], "k bigint, v double"))
    assert os.path.exists(vt._checkpoint_path(2))
    fresh = VersionedTable(str(tmp_path / "ck"), checkpoint_interval=2)
    assert fresh.count_rows(2) == 62  # resolved THROUGH the tree base
    clone = vt.clone_to(str(tmp_path / "cl"))
    assert clone.count_rows() == 62


def test_partitions_summary_metadata_only(spark, tmp_path):
    """partitions_summary reports per-partition file/row counts from
    manifest metadata, DV tombstones attributed to their partition;
    a metadata-only partition drop removes the partition's row."""
    vt, df = _mk_part(spark, tmp_path)  # 90 rows, 30 per lang
    parts = {p["partition"]["lang"]: p for p in vt.partitions_summary()}
    assert {k: p["n_rows"] for k, p in parts.items()} == {
        "en": 30, "de": 30, "fr": 30
    }
    vt.delete_where_mor(spark, (F.col("lang") == "en") & (F.col("k") % 2 == 0))
    parts = {p["partition"]["lang"]: p for p in vt.partitions_summary()}
    assert parts["en"]["n_rows"] == vt.read(spark).filter("lang='en'").count()
    assert parts["de"]["n_rows"] == 30  # untouched partitions exact
    vt.delete_partitions(spark, {"lang": ["fr"]})
    langs = {p["partition"]["lang"] for p in vt.partitions_summary()}
    assert langs == {"en", "de"}


def test_scd2_delete_closes_window(spark, tmp_path):
    """scd2(): a DELETE event closes the key's open validity window
    without opening a new one; updates chain windows; untouched keys
    stay current from their insert version."""
    vt = VersionedTable(str(tmp_path / "s2"))
    vt.create(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k bigint, v double"
        )
    )
    vt.merge_into(  # v1: update k=1, insert k=4
        spark,
        spark.createDataFrame([(1, 11.0), (4, 40.0)], "s_k bigint, nv double"),
        key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
        cdc=True,
    )
    vt.delete_keys(  # v2: delete k=2
        spark,
        spark.createDataFrame([(2,)], "dk bigint"),
        key="k", source_key="dk", cdc=True,
    )
    dim = {
        (r["k"], r["valid_from"]): (r["v"], r["valid_to"], r["is_current"])
        for r in vt.scd2(spark, "k", "v").collect()
    }
    assert dim == {
        (1, 0): (10.0, 1, False),
        (1, 1): (11.0, None, True),
        (2, 0): (20.0, 2, False),   # closed by the delete, not reopened
        (3, 0): (30.0, None, True),
        (4, 1): (40.0, None, True),
    }


def test_symlink_manifest_export(spark, tmp_path):
    """generate_symlink_manifest names exactly one snapshot's files
    (per-partition manifests, absolute paths); regeneration at a newer
    version replaces stale partition manifests; DV-bearing and
    column-mapped snapshots refuse."""
    vt, df = _mk_part(spark, tmp_path)  # 90 rows over en/de/fr
    root = vt.generate_symlink_manifest()
    files = VersionedTable.read_symlink_manifest(root)
    snap = vt.snapshot()
    assert sorted(files) == sorted(
        os.path.abspath(os.path.join(vt.path, f)) for f in snap["files"]
    )
    assert spark.read.parquet(*files).count() == 90
    # drop a partition, regenerate: its manifest dir disappears
    vt.delete_partitions(spark, {"lang": ["fr"]})
    root = vt.generate_symlink_manifest()
    assert not os.path.exists(os.path.join(root, "_p__lang=fr"))
    assert spark.read.parquet(
        *VersionedTable.read_symlink_manifest(root)
    ).count() == 60
    # refusal: deletion vectors would resurrect rows for a file lister
    vt.delete_where_mor(spark, F.col("k") % 2 == 0)
    with pytest.raises(ValueError, match="deletion vectors"):
        vt.generate_symlink_manifest()
    vt.purge_dvs(spark)
    vt.generate_symlink_manifest()  # purged: allowed again
    # refusal: column mapping (physical names would surface)
    vt.rename_column("v", "val")
    with pytest.raises(ValueError, match="column mapping"):
        vt.generate_symlink_manifest()


def test_compact_small_files_metadata_selective(spark, tmp_path):
    """compact_small_files picks ONLY sub-threshold files (decision =
    manifest row counts, zero data read), per partition, rewrites them
    into one file each commit, and retains every big file BY
    REFERENCE; rows identical; a partition with one lone small file is
    left alone; nothing-to-do returns no commit."""
    vt = VersionedTable(str(tmp_path / "c"))
    big = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1)
    vt.create(big)
    for i in range(4):  # ingest tail: four 2-row files
        vt.append(
            spark.createDataFrame(
                [(10_000 + 2 * i, 1.0), (10_001 + 2 * i, 2.0)],
                "k bigint, v double",
            ).coalesce(1)
        )
    snap = vt.snapshot()
    big_files = [f for f in snap["files"] if snap["rows"][f] >= 100]
    res = vt.compact_small_files(spark, min_rows=100)
    assert res["compacted_files"] == 4 and res["retained_files"] == len(big_files)
    after = vt.snapshot()
    assert set(big_files) <= set(after["files"])  # by reference
    assert len(after["files"]) == len(big_files) + 1
    assert vt.count_rows() == 1008 == vt.read(spark).count()
    # idempotent: everything is big enough now (or a lone small file)
    res2 = vt.compact_small_files(spark, min_rows=100)
    assert res2["version"] is None
    # partitioned: compaction never mixes partition dirs
    vt2, _df = _mk_part(spark, tmp_path)
    for i in range(2):
        vt2.append(
            spark.createDataFrame(
                [(500 + i, "en", 1.0)], "k bigint, lang string, v double"
            )
        )
    r = vt2.compact_small_files(spark, min_rows=5)
    assert r["version"] is not None
    snap2 = vt2.snapshot()
    for f in snap2["files"]:
        assert vt2._partition_values(f).get("lang") in {"en", "de", "fr"}
    assert vt2.read_partitions(spark, {"lang": "en"}).count() == 32


def test_cdf_mv_batch_replay_idempotent(spark, tmp_path):
    """apply_cdf_mv_batch stamps the batch id into the MV's own commit
    (dedup token + data change = one atomic manifest): replaying ANY
    applied batch — including batch 0's create — changes nothing, and
    batches apply in order exactly once."""
    from mapreduce_wordcounter_spark.operators.lakehouse import (
        apply_cdf_mv_batch,
    )

    mv = str(tmp_path / "mv")
    feed_schema = (
        "o_orderkey bigint, change_type string, "
        "old_o_totalprice double, new_o_totalprice double"
    )
    b0 = spark.createDataFrame(
        [(1, "insert", None, 10.0), (2, "insert", None, 20.0)], feed_schema
    )
    b1 = spark.createDataFrame(
        [(1, "update", 10.0, 15.0), (3, "insert", None, 30.0)], feed_schema
    )

    def state():
        return sorted(
            map(tuple, VersionedTable(mv).read(spark).collect())
        )

    apply_cdf_mv_batch(spark, mv, b0, 0)
    s0 = state()
    apply_cdf_mv_batch(spark, mv, b0, 0)  # replayed create: skipped
    assert state() == s0 and VersionedTable(mv).latest_version() == 0
    apply_cdf_mv_batch(spark, mv, b1, 1)
    s1 = state()
    assert {r[0]: (r[1], r[2]) for r in s1} == {
        1: (1, 15_000_000), 2: (1, 20_000_000), 3: (1, 30_000_000)
    }
    apply_cdf_mv_batch(spark, mv, b1, 1)  # replayed merge: skipped
    assert state() == s1 and VersionedTable(mv).latest_version() == 1


def test_read_partitions_pruned_layered(spark, tmp_path):
    """read_partitions_pruned applies BOTH pruning layers at the
    checkpoint-tree root (a part survives only if partition matches
    AND stats overlap) and equals the brute filter; the part-read set
    is the intersection of the two single-layer sets."""
    vt = VersionedTable(
        str(tmp_path / "lp"),
        stats_col="k",
        partition_by=["lang"],
        checkpoint_interval=1,
    )
    langs = ("en", "de", "fr")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(l) for l in langs]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
        (F.col("id") * 1.0).alias("v"),
    ).repartitionByRange(4, "k")
    vt.create(df)
    # 4 files per chunk: each commit's files (one commit dir sorts
    # contiguously) land in their own part, so the create's k<300
    # part and the append's k>=1000 part are range-disjoint and the
    # stats layer has something to prune WITHIN a partition
    vt._CHECKPOINT_PART_MAX_FILES = 4
    vt.append(df.withColumn("k", F.col("k") + 1000))  # v1: checkpointed
    with open(vt._checkpoint_path(1)) as fh:
        root = json.load(fh)
    want = [
        p["path"]
        for p in root["parts"]
        if p["partition"]["lang"] == "en"
        and p["stats_complete"]
        and not (p["hi"] < 50 or p["lo"] > 120)
    ]
    vt._last_part_reads = None
    got = vt.read_partitions_pruned(spark, {"lang": "en"}, 50, 120)
    assert set(vt._last_part_reads) == set(want)
    assert len(want) < sum(
        1 for p in root["parts"] if p["partition"]["lang"] == "en"
    )  # the range layer pruned within the partition
    expect = vt.read(spark).filter(
        (F.col("lang") == "en") & F.col("k").between(50, 120)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_quarantine_mode_routes_violators(spark, tmp_path):
    """mode='quarantine': the data files hold exactly the passing rows
    (like drop), the violators land in the commit's quarantine sidecar
    stamped with the capturing version, conservation holds, metrics
    record the rule as quarantine-mode, and a CLEAN append writes no
    sidecar (the violation counts gate the extra job)."""
    vt = VersionedTable(str(tmp_path / "qr"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df.limit(0))
    vt.set_expectation(spark, "v_cap", "v < 90", mode="quarantine")
    v2 = vt.append(df)
    assert vt.read(spark).count() == 90
    q = vt.read_quarantine(spark)
    rows = q.collect()
    assert sorted(r["k"] for r in rows) == list(range(90, 100))
    assert all(r["__q_version"] == v2 for r in rows)
    m = vt._load_manifest(v2)
    assert m["quarantine"] and m["expectation_metrics"]["v_cap"] == {
        "mode": "quarantine", "violations": 10,
    }
    # clean append: no sidecar written, no manifest key
    v3 = vt.append(df.filter("v < 50"))
    m3 = vt._load_manifest(v3)
    assert "quarantine" not in m3
    assert vt.read_quarantine(spark).count() == 10  # unchanged feed
    # a row caught by quarantine is captured even when a drop rule
    # would also exclude it (triage sees the raw row)
    vt.set_expectation(spark, "k_even", "k % 2 = 0", mode="drop")
    before = vt.read(spark).count()
    vt.append(df.filter("k >= 88"))  # 88..99: quarantine 90+, drop odds
    q2 = [r["k"] for r in vt.read_quarantine(spark).collect()]
    assert set(q2) == set(range(90, 100))  # odd violators captured too
    assert len(q2) == 20  # this append quarantined 90..99 again
    # of 88..99 only 88 survives both gates (89 odd, 90+ quarantined)
    assert vt.read(spark).count() == before + 1


def test_quarantine_sidecars_follow_manifest_retention(spark, tmp_path):
    """vacuum keeps quarantine files while their capturing manifest
    survives and deletes them when it expires (the cdc posture)."""
    vt = VersionedTable(str(tmp_path / "qv"))
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    vt.create(df.limit(0))
    vt.set_expectation(spark, "cap", "k < 15", mode="quarantine")
    vq = vt.append(df)               # quarantines 15..19
    vt.append(df.filter("k < 5"))    # v3
    vt.append(df.filter("k < 3"))    # v4
    qfile = os.path.join(vt.path, vt._load_manifest(vq)["quarantine"][0])
    assert os.path.exists(qfile)
    vt.vacuum(retain_last=1, orphan_grace_sec=0.0, force_orphan_grace=True)
    assert not os.path.exists(qfile)  # capturing manifest expired
    assert vt.read_quarantine(spark) is None


def test_optimize_zorder_on_empty_snapshot(spark, tmp_path):
    """OPTIMIZE ZORDER on an empty table (or all-NULL cluster columns)
    must not die computing bounds — the degenerate rewrite commits a
    valid (empty) snapshot."""
    vt = VersionedTable(str(tmp_path / "ze"))
    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    vt.create(df.limit(0))
    v = vt.optimize(spark, ["a", "b"], n_files=2, zorder=True)
    assert v == 1
    assert vt.read(spark).count() == 0


def test_partition_spec_evolution_split_and_exactness(spark, tmp_path):
    """days(ts) → hours(ts) evolution with PER-FILE-SPEC predicate
    projection (Iceberg's project-against-each-file's-own-spec,
    VERDICT r11 #2): a raw-ts range classifies the NEW layout's files
    by hour directory AND the OLD layout's files by their own day
    directory — matched/unmatched on BOTH layouts, nothing lands in
    `unknown`, so the legacy tail is pruned by day instead of
    full-scanned on every range read. The read still equals
    read().filter(between) exactly."""
    import datetime as _dt

    path = str(tmp_path / "pe")
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    VersionedTable(path, partition_by=["days(ts)"]).create(
        df.filter("k % 2 = 0")
    )
    vt = VersionedTable(path, partition_by=["hours(ts)"])
    vt.append(df.filter("k % 2 = 1"))
    lo, hi = _dt.datetime(2024, 3, 2, 0, 0), _dt.datetime(2024, 3, 2, 11, 0)
    snap = vt.snapshot()
    matched, unmatched, unknown = vt._split_by_partition(
        snap, {"ts": ("range", lo, hi)}
    )
    assert not unknown  # every file resolves under its OWN spec
    # new layout: matched hour dirs are exactly the range's hours
    m_hours = [f for f in matched if "_p__ts_hour=" in f]
    assert m_hours and all(
        "2024-03-02-0" in f or "2024-03-02-1" in f for f in m_hours
    )
    # legacy layout: only the 03-02 day directory survives; the other
    # three days are pruned as unmatched — the fix's whole point
    m_days = [f for f in matched if "_p__ts_day=" in f]
    assert m_days and all("_p__ts_day=2024-03-02" in f for f in m_days)
    assert any("_p__ts_day=2024-03-01" in f for f in unmatched)
    assert any("_p__ts_hour=2024-03-01" in f for f in unmatched)
    got = sorted(
        map(
            tuple,
            vt.read_partitions(spark, {"ts": ("range", lo, hi)}).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.filter(F.col("ts").between(F.lit(lo), F.lit(hi))).collect(),
        )
    )
    assert got == want


def test_partition_spec_evolution_delete_and_time_travel(spark, tmp_path):
    """Retention delete across a spec boundary: a DAY-aligned range
    drops legacy days(ts) files metadata-only (their own directory
    proves full coverage at day granularity) AND the evolved hours(ts)
    files of those days (hour dirs are interior to a day-aligned
    range) — zero bytes rewritten — while rows outside survive and
    time travel still serves the pre-delete snapshot."""
    import datetime as _dt

    path = str(tmp_path / "ped")
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    VersionedTable(path, partition_by=["days(ts)"]).create(
        df.filter("k % 2 = 0")
    )
    vt = VersionedTable(path, partition_by=["hours(ts)"])
    vt.append(df.filter("k % 2 = 1"))
    pre = vt.snapshot()["version"]
    n_files_pre = len(vt.snapshot()["files"])
    lo = _dt.datetime(2024, 3, 2, 0, 0, 0)
    hi = _dt.datetime(2024, 3, 3, 23, 59, 59, 999999)
    vt.delete_partitions(spark, {"ts": ("range", lo, hi)})
    snap = vt.snapshot()
    # metadata-only: every surviving file is an ORIGINAL file (no
    # rewrite happened), and both layouts' in-range dirs are gone
    assert all(
        "_p__ts_day=" in f or "_p__ts_hour=" in f for f in snap["files"]
    )
    assert len(snap["files"]) < n_files_pre
    assert not any("_p__ts_day=2024-03-02" in f for f in snap["files"])
    assert not any("_p__ts_day=2024-03-03" in f for f in snap["files"])
    assert not any("_p__ts_hour=2024-03-02" in f for f in snap["files"])
    got = sorted(r[0] for r in vt.read(spark).select("k").collect())
    want = sorted(
        r[0]
        for r in df.filter(~F.col("ts").between(F.lit(lo), F.lit(hi)))
        .select("k")
        .collect()
    )
    assert got == want
    assert vt.read(spark, pre).count() == 96  # time travel intact


def test_at_period_start_edge_cases():
    """r11 self-audit: pin _at_period_start's boundary rendering — the
    predicate that lets a range bound landing ON a directory still
    prove metadata-only coverage from below. Datetime and string forms
    must agree; anything unparseable or timezone-suffixed must return
    False (conservative: costs a rewrite, never a wrong drop). All
    rendering is in the session's pinned UTC — the transform never
    sees a DST wall-clock, so 'period start' is well-defined."""
    import datetime as _dt

    f = VersionedTable._at_period_start

    def fld(t):
        return {"transform": t, "src": "ts", "arg": None}

    # datetime forms, every transform
    assert f(fld("days"), _dt.datetime(2024, 3, 1, 0, 0, 0))
    assert not f(fld("days"), _dt.datetime(2024, 3, 1, 0, 0, 1))
    assert f(fld("hours"), _dt.datetime(2024, 3, 1, 7, 0, 0))
    assert not f(fld("hours"), _dt.datetime(2024, 3, 1, 7, 30))
    assert f(fld("months"), _dt.datetime(2024, 3, 1))
    assert not f(fld("months"), _dt.datetime(2024, 3, 2))
    assert f(fld("years"), _dt.datetime(2024, 1, 1))
    assert not f(fld("years"), _dt.datetime(2024, 2, 1))
    # string forms: T separator, all-zero fractional part, date-only
    # prefix literals zero-fill
    assert f(fld("days"), "2024-03-01 00:00:00")
    assert f(fld("days"), "2024-03-01T00:00:00")
    assert f(fld("days"), "2024-03-01 00:00:00.000")
    assert f(fld("days"), "2024-03-01")
    assert not f(fld("days"), "2024-03-01 00:00:00.500")
    assert not f(fld("days"), "2024-03-01 12:00:00")
    assert f(fld("months"), "2024-03")
    assert f(fld("years"), "2024")
    # timezone-suffixed / unparseable: conservative False
    assert not f(fld("days"), "2024-03-01 00:00:00+02:00")
    assert not f(fld("days"), "not a timestamp")
    # non-time transforms never prove period starts
    assert not f({"transform": "bucket", "src": "k", "arg": 8}, 0)
    assert not f({"transform": "identity", "src": "k", "arg": None}, 0)


def test_spec_evolution_prunes_at_checkpoint_root(spark, tmp_path):
    """r12 self-audit: the per-file-spec check groups drive
    checkpoint-ROOT part pruning too — under days→hours evolution with
    a tree checkpoint in force, a partial resolve for one day's range
    must drop BOTH out-of-range hour parts (current spec) and
    out-of-range day parts (legacy spec) before any part file is read,
    and the pruned read still equals read().filter(between)."""
    import datetime as _dt

    path = str(tmp_path / "per")
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    VersionedTable(
        path, partition_by=["days(ts)"], checkpoint_interval=1
    ).create(df.filter("k % 2 = 0"))
    vt = VersionedTable(
        path, partition_by=["hours(ts)"], checkpoint_interval=1
    )
    vt.append(df.filter("k % 2 = 1"))
    assert os.path.exists(vt._checkpoint_path(vt.snapshot()["version"]))
    lo, hi = _dt.datetime(2024, 3, 2, 0, 0), _dt.datetime(2024, 3, 2, 11, 0)
    filters = {"ts": ("range", lo, hi)}
    part = vt._resolve_selected(
        None, lambda meta, s: vt._part_matches(
            vt._check_groups(meta, filters), s
        )
    )
    assert part is not None and part.get("partial")
    full = vt.snapshot()
    assert len(part["files"]) < len(full["files"])
    # both layouts' out-of-range directories were dropped at the root
    assert not any("_p__ts_day=2024-03-01" in f for f in part["files"])
    assert not any("_p__ts_hour=2024-03-03" in f for f in part["files"])
    # and the in-range legacy day part survived (its files are needed)
    assert any("_p__ts_day=2024-03-02" in f for f in part["files"])
    got = sorted(map(tuple, vt.read_partitions(spark, filters).collect()))
    want = sorted(
        map(
            tuple,
            df.filter(F.col("ts").between(F.lit(lo), F.lit(hi))).collect(),
        )
    )
    assert got == want


def test_rewrite_spec_migrates_only_legacy_files(spark, tmp_path):
    """rewrite_spec (round 12): after days→hours evolution, the
    targeted OPTIMIZE rewrites ONLY the legacy day-layout files into
    hour directories — every current-spec file is retained BY
    REFERENCE (appears in neither add nor remove), rows are identical
    before/after, a later range read prunes everything at hour
    granularity (no day dirs left), time travel serves the old layout,
    and a second rewrite_spec is a commitless no-op."""
    import datetime as _dt

    path = str(tmp_path / "rw")
    df = spark.range(96).select(
        F.col("id").alias("k"),
        F.expr(
            "timestamp'2024-03-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    VersionedTable(path, partition_by=["days(ts)"]).create(
        df.filter("k % 2 = 0")
    )
    vt = VersionedTable(path, partition_by=["hours(ts)"])
    vt.append(df.filter("k % 2 = 1"))
    pre = vt.snapshot()
    hour_files = {f for f in pre["files"] if "_p__ts_hour=" in f}
    day_files = {f for f in pre["files"] if "_p__ts_day=" in f}
    assert hour_files and day_files
    v = vt.rewrite_spec(spark)
    m = vt._load_manifest(v)
    assert m["operation"] == "rewrite_spec"
    assert set(m["remove"]) == day_files  # exactly the legacy tail
    assert not (set(m["add"]) | set(m["remove"])) & hour_files
    snap = vt.snapshot()
    assert all("_p__ts_hour=" in f for f in snap["files"])
    assert sorted(map(tuple, vt.read(spark).collect())) == sorted(
        map(tuple, df.collect())
    )
    # post-rewrite: a range read prunes at hour granularity everywhere
    lo, hi = _dt.datetime(2024, 3, 2, 0, 0), _dt.datetime(2024, 3, 2, 11, 0)
    matched, unmatched, unknown = vt._split_by_partition(
        snap, {"ts": ("range", lo, hi)}
    )
    assert not unknown
    assert matched and all("_p__ts_hour=2024-03-02-0" in f
                           or "_p__ts_hour=2024-03-02-1" in f
                           for f in matched)
    assert vt.read(spark, pre["version"]).count() == 96  # time travel
    assert vt.rewrite_spec(spark) == v  # idempotent no-op


def test_bucket_arg_evolution_rejected(spark, tmp_path):
    """In-place bucket(8)→bucket(16) arg evolution is REJECTED at
    write time: the hive directory name (`k_bucket`) cannot encode the
    arg, so old and new files would share a directory column under
    different moduli and pruning would silently drop live rows. The
    recorded parent partition_spec makes the conflict detectable."""
    import pytest as _pytest

    path = str(tmp_path / "bae")
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    VersionedTable(path, partition_by=["bucket(8, k)"]).create(df)
    vt16 = VersionedTable(path, partition_by=["bucket(16, k)"])
    with _pytest.raises(ValueError, match="arg evolution"):
        vt16.append(df)
    # same arg re-declared: fine; time-transform change: also fine
    VersionedTable(path, partition_by=["bucket(8, k)"]).append(df.limit(1))
    assert VersionedTable(path).snapshot()["partition_spec"] == [
        "bucket(8, k)"
    ]


# -- refs: tags, branches, write-audit-publish (round 12) ---------------


def _wap_df(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish: a branch append occupies a version slot
    but main reads/history/timestamp-travel never see it; the branch
    ref serves the staged state for auditing; fast_forward flips main
    to the audited snapshot atomically and history then includes the
    published commit."""
    vt = VersionedTable(str(tmp_path / "wap"))
    df = _wap_df(spark)
    vt.create(df.filter("k % 2 = 0"))
    v_staged = vt.append(df.filter("k % 2 = 1"), branch="audit")
    assert v_staged == 1
    # main is untouched: head, read, history
    assert vt.latest_version() == 0
    assert vt.read(spark).count() == 20
    assert [h["version"] for h in vt.history()] == [0]
    # the staged state is readable through the ref (the audit step)
    assert vt.read_ref(spark, "audit").count() == 40
    assert vt.ref_version("audit") == 1
    # timestamp travel resolves main lineage only
    import time as _time
    assert vt.version_at(_time.time()) == 0
    # publish
    assert vt.fast_forward("audit") == 1
    assert vt.latest_version() == 1
    assert vt.read(spark).count() == 40
    assert [h["version"] for h in vt.history()] == [1, 0]
    assert vt.version_at(_time.time()) == 1
    # time travel to the pre-publish main still serves the old state
    assert vt.read(spark, 0).count() == 20


def test_branch_stacking_and_version_slot_gaps(spark, tmp_path):
    """Stacked staged commits chain on the branch; a main commit made
    while a branch is staged takes the NEXT GLOBAL slot (no collision)
    and parents at the main head, leaving a numeric gap in the main
    chain — reads, history, and the chain-walking CDC composition all
    stay correct across the gap."""
    vt = VersionedTable(str(tmp_path / "gap"), stats_col="k")
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))                      # v0 (main)
    vt.append(df.filter("k >= 30"), branch="exp")       # v1 (staged)
    vt.append(df.filter("k >= 30"), branch="exp")       # v2 (staged, stacked)
    assert vt.ref_version("exp") == 2
    v_main = vt.append(df.filter("k >= 10 and k < 20"))  # main: slot 3
    assert v_main == 3
    assert vt.latest_version() == 3
    m = vt._load_manifest(3)
    assert m["parent"] == 0  # parents at the MAIN head, not the branch
    assert vt.read(spark).count() == 20  # staged rows invisible
    assert [h["version"] for h in vt.history()] == [3, 0]
    # branch lineage: v2 parents at v1, v1 at v0
    assert vt._load_manifest(2)["parent"] == 1
    assert vt._load_manifest(1)["parent"] == 0
    # CDC across the numeric gap (0 -> 3, chain skips slots 1-2):
    feed = vt.read_changes_log(spark, "k", 0, 3)
    assert feed.count() == 10  # exactly the main append's inserts
    assert set(
        r["change_type"] for r in feed.select("change_type").collect()
    ) == {"insert"}


def test_fast_forward_divergence_rejected(spark, tmp_path):
    """fast_forward refuses to drop main commits: once main moved past
    the branch fork point, publishing the branch would lose the main
    commit — the caller must re-stage onto a fresh branch instead."""
    import pytest as _pytest

    vt = VersionedTable(str(tmp_path / "div"))
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))
    vt.append(df.filter("k >= 30"), branch="stale")
    vt.append(df.filter("k >= 10 and k < 20"))  # main moves on
    with _pytest.raises(VersionConflictError, match="not an ancestor"):
        vt.fast_forward("stale")
    # main unaffected by the failed publish
    assert vt.read(spark).count() == 20


def test_tag_pins_snapshot_and_is_immutable(spark, tmp_path):
    """Tags are immutable named pointers: a tag taken before a delete
    keeps serving the pre-delete snapshot; re-creating it at the same
    version is a no-op, at a different version it raises; a tag cannot
    be appended to or fast-forwarded as a branch."""
    import pytest as _pytest

    vt = VersionedTable(str(tmp_path / "tag"))
    df = _wap_df(spark)
    vt.create(df)
    assert vt.create_tag("baseline") == 0
    vt.delete_where(spark, F.col("k") < 20)
    assert vt.read(spark).count() == 20
    assert vt.read_ref(spark, "baseline").count() == 40  # pinned
    assert vt.create_tag("baseline", 0) == 0  # idempotent no-op
    with _pytest.raises(ValueError, match="already exists"):
        vt.create_tag("baseline", 1)
    with _pytest.raises(ValueError, match="tag, not a branch"):
        vt.fast_forward("baseline")
    with _pytest.raises(ValueError, match="tag, not a branch"):
        vt.append(df.limit(1), branch="baseline")


def test_main_ref_maintained_after_publish(spark, tmp_path):
    """Once a fast_forward writes the main ref, subsequent ordinary
    main commits keep it current — the head never regresses to the
    'greatest unmarked version' heuristic."""
    vt = VersionedTable(str(tmp_path / "mref"))
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))
    vt.append(df.filter("k >= 10 and k < 20"), branch="audit")
    vt.fast_forward("audit")
    assert vt._read_ref("main")["version"] == 1
    v = vt.append(df.filter("k >= 20 and k < 30"))
    assert vt._read_ref("main")["version"] == v
    assert vt.latest_version() == v
    assert vt.read(spark).count() == 30


def test_vacuum_retains_ref_pinned_versions(spark, tmp_path):
    """Vacuum must never expire a version a ref pins (Iceberg
    expire_snapshots' ref rule): a TAGGED old snapshot survives
    retention and stays bit-readable (its own floor checkpoint is
    materialized even though the retained set is now non-contiguous),
    and a staged-branch slot above main can't push the MAIN head out
    of the newest-N window."""
    vt = VersionedTable(str(tmp_path / "vref"), checkpoint_interval=100)
    df = _wap_df(spark)
    vt.create(df.filter("k < 8"))                      # v0
    vt.append(df.filter("k >= 8 and k < 16"))          # v1 (tagged)
    vt.create_tag("baseline", 1)
    vt.append(df.filter("k >= 16 and k < 24"))         # v2
    vt.append(df.filter("k >= 24 and k < 32"))         # v3
    vt.append(df.filter("k >= 32"))                    # v4
    vt.vacuum(retain_last=2, orphan_grace_sec=0, force_orphan_grace=True)
    assert set(vt.versions()) == {1, 3, 4}  # tag pinned v1
    assert vt.read_ref(spark, "baseline").count() == 16
    assert vt.read(spark, 3).count() == 32  # non-contiguous floor ok
    assert vt.read(spark).count() == 40
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        vt.read(spark, 2)

    # staged branch above main: retention keyed on raw version numbers
    # would expire the main head — the ref pin must prevent it
    vt2 = VersionedTable(str(tmp_path / "vref2"), checkpoint_interval=100)
    vt2.create(df.filter("k < 10"))                    # v0 (main head)
    vt2.append(df.filter("k >= 30"), branch="staged")  # v1 (branch)
    vt2.vacuum(retain_last=1, orphan_grace_sec=0, force_orphan_grace=True)
    assert set(vt2.versions()) == {0, 1}
    assert vt2.read(spark).count() == 10               # main intact
    assert vt2.read_ref(spark, "staged").count() == 20


def test_list_refs_and_delete_ref(spark, tmp_path):
    """list_refs is the .refs metadata table (name-sorted pointers);
    delete_ref abandons a staged branch or drops a tag — the pinned
    versions stay readable by NUMBER afterward, they only lose their
    retention pin; main is not deletable; deleting a missing ref
    raises."""
    import pytest as _pytest

    vt = VersionedTable(str(tmp_path / "refs"))
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))
    vt.create_tag("v0-tag")
    vt.append(df.filter("k >= 30"), branch="exp")
    vt.fast_forward("exp")  # writes the main ref
    assert [(r["name"], r["type"], r["version"]) for r in vt.list_refs()] == [
        ("exp", "branch", 1),
        ("main", "branch", 1),
        ("v0-tag", "tag", 0),
    ]
    vt.delete_ref("exp")
    assert [r["name"] for r in vt.list_refs()] == ["main", "v0-tag"]
    # the version the deleted ref pinned is still readable by number
    assert vt.read(spark, 1).count() == 20
    with _pytest.raises(ValueError, match="main"):
        vt.delete_ref("main")
    with _pytest.raises(FileNotFoundError):
        vt.delete_ref("nope")


def test_vacuum_keeps_tag_pinned_version(spark, tmp_path):
    """A tag outside the newest-N retention window survives vacuum
    (Iceberg expire_snapshots' ref-pinning default): the tagged
    snapshot stays byte-readable while unpinned versions between it
    and the window expire; after delete_ref the next vacuum may
    expire it."""
    vt = VersionedTable(str(tmp_path / "pin"))
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))          # v0
    vt.create_tag("keep", 0)
    vt.append(df.filter("k >= 10 and k < 20"))  # v1 (unpinned)
    vt.append(df.filter("k >= 20 and k < 30"))  # v2
    vt.append(df.filter("k >= 30"))             # v3
    vt.vacuum(retain_last=2)
    # v0 pinned by the tag; v1 expired; v2, v3 retained
    assert vt.read_ref(spark, "keep").count() == 10
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        vt.snapshot(1)
    assert vt.read(spark, 2).count() == 30
    assert vt.read(spark).count() == 40
    vt.delete_ref("keep")
    vt.vacuum(retain_last=2)
    with _pytest.raises(FileNotFoundError):
        vt.snapshot(0)
    assert vt.read(spark).count() == 40


def test_restore_lineage_and_history_ops(spark, tmp_path):
    """RESTORE (rollback) after a bad append: the restore commit
    re-references exactly v0's files metadata-only, history keeps all
    three operations inspectable, and time travel to the bad version
    still serves it."""
    vt = VersionedTable(str(tmp_path / "restore"))
    df = _wap_df(spark)
    vt.create(df.filter("k < 10"))
    vt.append(df.filter("k >= 30"))
    v2 = vt.rollback(0)
    assert v2 == 2
    assert vt.read(spark).count() == 10
    assert vt.read(spark, 1).count() == 20  # bad batch inspectable
    hist = {h["version"]: h["operation"] for h in vt.history()}
    assert hist == {0: "create", 1: "append", 2: "rollback"}
    # metadata-only: restored head's files are exactly v0's
    assert sorted(vt.snapshot(2)["files"]) == sorted(vt.snapshot(0)["files"])


def test_delete_partitions_scalar_stats_containment(spark, tmp_path):
    """r12 self-audit (VERDICT r11 #3): the docstring always promised
    stats-based containment for SCALARS through non-identity
    transforms, but the proof only ran for ranges. A file whose
    stats_col min == max == the scalar is provably all-matching: it
    must be dropped METADATA-ONLY (appears in the manifest's remove
    list with no rewrite), while a mixed file in the same truncate
    directory is rewritten row-exact."""
    vt = VersionedTable(
        str(tmp_path / "scstat"),
        partition_by=["truncate(10, k)"],
        stats_col="k",
    )
    mixed = (
        spark.range(10)
        .coalesce(1)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )  # k in 0..9 -> truncate dir 0, ONE file (stats [0, 9])
    pure = spark.createDataFrame(
        [(7, 100.0), (7, 101.0), (7, 102.0)], "k long, v double"
    )  # same dir, min == max == 7
    vt.create(mixed)
    vt.append(pure)
    before = set(vt.snapshot()["files"])
    v = vt.delete_partitions(spark, {"k": 7})
    m = vt._load_manifest(v)
    after = set(vt.snapshot()["files"])
    # every row with k == 7 gone, everything else intact
    got = sorted(r["k"] for r in vt.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    # the pure file was dropped by reference; only the mixed file
    # produced a rewrite (1 added file), so the pure file's bytes
    # were never read or rewritten
    removed = set(m.get("remove") or [])
    added = set(m.get("add") or [])
    assert removed == before  # both old files leave the manifest
    assert len(added) == 1  # ...but only the mixed one was rewritten
    assert after == (before - removed) | added


def test_wap_merge_on_branch(spark, tmp_path):
    """WAP for read-modify-write: a MERGE staged on a branch rewrites
    files and commits, but main reads stay pre-merge until
    fast_forward; the branch read serves the merged state for audit;
    a stacked branch merge parents at the branch head (compounding),
    and publish flips main to the final audited snapshot."""
    vt = VersionedTable(str(tmp_path / "wapm"))
    df = _wap_df(spark)  # k 0..39, v = k*10
    vt.create(df)
    src1 = spark.createDataFrame(
        [(0, 1.0), (100, 2.0)], "sk long, sv double"
    )
    vt.merge_into(
        spark, src1, "k", "sk",
        update_set={"v": F.col("sv")},
        insert_exprs={"k": F.col("sk"), "v": F.col("sv")},
        branch="audit",
    )
    # main untouched
    assert vt.latest_version() == 0
    assert vt.read(spark).filter("k = 0").collect()[0]["v"] == 0.0
    assert vt.read(spark).count() == 40
    # branch shows the staged merge
    b = vt.read_ref(spark, "audit")
    assert b.count() == 41
    assert b.filter("k = 0").collect()[0]["v"] == 1.0
    # stacked merge on the same branch compounds
    src2 = spark.createDataFrame([(100, 3.0)], "sk long, sv double")
    vt.merge_into(
        spark, src2, "k", "sk",
        update_set={"v": F.col("sv")},
        insert_exprs={"k": F.col("sk"), "v": F.col("sv")},
        branch="audit",
    )
    b2 = vt.read_ref(spark, "audit")
    assert b2.filter("k = 100").collect()[0]["v"] == 3.0
    assert b2.filter("k = 0").collect()[0]["v"] == 1.0
    # publish
    vt.fast_forward("audit")
    m = vt.read(spark)
    assert m.count() == 41
    assert m.filter("k = 100").collect()[0]["v"] == 3.0
    # pre-publish main still readable
    assert vt.read(spark, 0).count() == 40


def test_stream_wap_fixture_history_shape(spark):
    """The streaming-WAP lineage: after publish, main history is the
    staged merge chain over the create; every staged commit carries
    the branch marker; the branch ref survives pointing at the
    published head (it may be deleted, main is independent of it)."""
    from mapreduce_wordcounter_spark.operators.lakehouse import (
        _stream_wap_orders,
    )

    vt = _stream_wap_orders(spark, "/root/testdata/sf0.001")
    hist = vt.history()
    assert hist[-1]["operation"] == "create"
    assert all(h["operation"] == "merge" for h in hist[:-1])
    assert len(hist) >= 2  # at least one non-empty micro-batch
    for h in hist[:-1]:
        assert vt._load_manifest(h["version"]).get("branch") == "staging"
    assert vt.ref_version("staging") == vt.latest_version()


def test_wap_delete_on_branch(spark, tmp_path):
    """DELETE staged on a branch: the copy-on-write rewrite commits to
    the branch ref only — main serves every row until fast_forward
    publishes the audited retention pass; a GDPR-style staged purge
    can thus be audited (row counts, affected partitions) before any
    reader sees it."""
    vt = VersionedTable(str(tmp_path / "wapd"))
    df = _wap_df(spark)
    vt.create(df)
    vt.delete_where(spark, F.col("k") % 4 == 0, branch="purge")
    assert vt.latest_version() == 0
    assert vt.read(spark).count() == 40
    assert vt.read_ref(spark, "purge").count() == 30
    vt.fast_forward("purge")
    assert vt.read(spark).count() == 30
    assert vt.read(spark, 0).count() == 40


def test_wap_delete_keys_and_overwrite_on_branch(spark, tmp_path):
    """The remaining commit classes under WAP: a GDPR-style key purge
    (delete_keys) and an idempotent backfill (overwrite_partitions)
    both stage on branches — main byte-identical until each publish;
    the key purge's staged state audits as exactly the non-purged
    rows, the backfill swap replaces only its touched partition."""
    vt = VersionedTable(
        str(tmp_path / "wapk"), partition_by=["bucket(2, k)"]
    )
    df = _wap_df(spark)  # k 0..39
    vt.create(df)
    # staged key purge
    doomed = spark.createDataFrame([(3,), (7,), (11,)], "dk long")
    vt.delete_keys(spark, doomed, key="k", source_key="dk", branch="gdpr")
    assert vt.latest_version() == 0
    assert vt.read(spark).count() == 40
    staged = {r["k"] for r in vt.read_ref(spark, "gdpr").collect()}
    assert staged == set(range(40)) - {3, 7, 11}
    vt.fast_forward("gdpr")
    assert vt.read(spark).count() == 37
    # staged dynamic-partition backfill on top of the published state
    fld = vt._partition_fields(vt.snapshot().get("schema"))[0]
    bucket0 = {k for k in range(40) if vt._transform_value(fld, k) == "0"}
    refill = spark.createDataFrame(
        [(k, k * 100.0) for k in sorted(bucket0 - {3, 7, 11})][:5],
        "k long, v double",
    )
    vt.overwrite_partitions(spark, refill, branch="backfill")
    assert vt.read(spark).count() == 37  # main untouched
    got = vt.read_ref(spark, "backfill")
    refill_rows = {(r["k"], r["v"]) for r in refill.collect()}
    assert {
        (r["k"], r["v"])
        for r in got.collect()
        if vt._transform_value(fld, r["k"]) == "0"
    } == refill_rows  # the staged swap replaced bucket 0 wholesale
    vt.fast_forward("backfill")
    survivors = {r["k"] for r in vt.read(spark).collect()}
    # the overwritten bucket holds exactly the refill keys; the other
    # bucket is untouched
    other = set(range(40)) - bucket0 - {3, 7, 11}
    assert survivors == other | {
        r["k"] for r in refill.collect()
    }


def test_wap_delete_keys_mor_on_branch(spark, tmp_path):
    """MoR key purge staged on a branch: the DV sidecar commit moves
    only the branch ref (main serves every row), the staged read
    applies the tombstones, publish flips main — the cheapest staged
    GDPR path (no data file rewritten at any point)."""
    vt = VersionedTable(str(tmp_path / "wapm2"), stats_col="k")
    df = _wap_df(spark)
    vt.create(df)
    doomed = spark.createDataFrame([(5,), (25,)], "dk long")
    vt.delete_keys_mor(spark, doomed, key="k", source_key="dk", branch="gdpr")
    assert vt.latest_version() == 0
    assert vt.read(spark).count() == 40
    assert vt.read_ref(spark, "gdpr").count() == 38
    # metadata-only: the staged commit reuses v0's data files verbatim
    assert sorted(vt.snapshot(vt.ref_version("gdpr"))["files"]) == sorted(
        vt.snapshot(0)["files"]
    )
    vt.fast_forward("gdpr")
    got = {r["k"] for r in vt.read(spark).collect()}
    assert got == set(range(40)) - {5, 25}
