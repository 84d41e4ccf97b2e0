"""CLI surface tests — the reference's actual UX (main.go:25-74).

Golden corpus reproduces main_test.go:36-47: across the input files the
counts must come out apple=8, banana=6, orange=2, with mixed case and
punctuation exercising the non-letter tokenizer.
"""

from __future__ import annotations

import pytest

from mapreduce_wordcounter_spark.cli import count_words, main


@pytest.fixture(scope="module")
def golden_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    # apple x8, banana x6, orange x2 — split across files, cases, and
    # punctuation separators (reference splits on any non-letter rune).
    (d / "f1.txt").write_text(
        "Apple apple APPLE! apple,banana banana\nbanana orange apple\n"
    )
    (d / "f2.txt").write_text(
        "apple2apple;apple banana...BANANA\nOrange  banana\n"
    )
    return [str(d / "f1.txt"), str(d / "f2.txt")]


def test_golden_counts(spark, golden_corpus):
    rows = count_words(spark, golden_corpus).collect()
    got = {r["word"]: r["cnt"] for r in rows}
    assert got == {"apple": 8, "banana": 6, "orange": 2}


def test_cli_prints_table_and_total(spark, golden_corpus, capsys):
    rc = main(golden_corpus, spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    lines = out.splitlines()
    assert lines[0].startswith("Count") and "Word" in lines[0]
    assert "8         apple" in out
    assert "6         banana" in out
    assert "2         orange" in out
    assert "Total words: 3" in out


def test_cli_top_n(spark, golden_corpus, capsys):
    rc = main([*golden_corpus, "--top", "1"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "apple" in out and "orange" not in out
    assert "Total words: 3" in out  # the scalar still covers the full vocab


def test_cli_top_n_keeps_callers_caches(spark, golden_corpus, capsys):
    """--top releases only its own aggregate: a frame the caller pinned
    in the same session stays cached and registered."""
    from pyspark import StorageLevel

    from mapreduce_wordcounter_spark.session import _PINNED_DFS, pin

    mine = pin(spark.range(7).withColumnRenamed("id", "cli_keep"))
    mine.count()
    try:
        assert main([golden_corpus[0], "--top", "1"], spark=spark) == 0
        capsys.readouterr()
        assert mine.storageLevel != StorageLevel.NONE
        assert any(df is mine for df in _PINNED_DFS)
    finally:
        mine.unpersist()
        _PINNED_DFS[:] = [df for df in _PINNED_DFS if df is not mine]


def test_cli_no_files_errors(capsys):
    # Reference: empty argv is an error, not an empty result (main.go:61-64).
    rc = main([])
    err = capsys.readouterr().err
    assert rc != 0
    assert "no files" in err.lower()


def test_cli_run_registered_query(spark, capsys):
    """--run exposes the whole registered surface through the CLI:
    rows stream tab-separated with a header, --top caps output."""
    from tests.conftest import SF_ORACLE

    rc = main(
        ["--run", "q1_pricing_summary", "--sf-dir", SF_ORACLE, "--top", "2"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    header = out.splitlines()[0].split("\t")
    assert "l_returnflag" in header and "sum_qty" in header
    assert "Rows: 2" in out


def test_cli_run_unknown_query_lists_registry(spark, capsys):
    rc = main(["--run", "no_such_query"], spark=spark)
    err = capsys.readouterr().err
    assert rc == 2
    assert "unknown query" in err and "q1_pricing_summary" in err
