"""The at-rest postings index behind the word-count family and tf_idf
(operators/wordcount.postings): one (doc_id, lang, source, word, tf)
row per (doc, distinct word), tokenized once per corpus.

The routed queries' DuckDB oracles replay tokenization from the raw
``documents`` text, so parity already checks the index *contents* on
the shared corpus. These tests pin what parity cannot see: the index
is built once and rebuilt when the corpus changes, it is lossless
against the token stream, it holds on degenerate corpora, and the
routed plans no longer tokenize.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.operators import text, wordcount
from mapreduce_wordcounter_spark.registry import ORACLE
from mapreduce_wordcounter_spark.sources import index_catalog as ic
from tests.conftest import SF_ORACLE

# Every query that reads postings instead of re-tokenizing.
_ROUTED = {
    "wc_counts": wordcount.wc_counts,
    "wc_top100": wordcount.wc_top100,
    "wc_summary": wordcount.wc_summary,
    "wc_vocab": wordcount.wc_vocab,
    "wc_vocab_per_lang": wordcount.wc_vocab_per_lang,
    "wc_per_source": wordcount.wc_per_source,
    "wc_doc_frequency": wordcount.wc_doc_frequency,
    "tf_idf": text.tf_idf,
}

_EDGE_DOCS = [
    (1, "en", "a", None),
    (2, "en", "a", ""),
    (3, "de", "b", " ,.;!? 42 _-_ \t\n"),
    (4, "zh", "b", "中文 字符，中文！"),
    (5, "fr", None, "Ça café ÉTÉ naïve, ça CAFÉ"),
    (6, None, "a", "the cat; the CAT the-end"),
    (7, "en", "c", "café 中文 the"),
]
_EMPTY_DOCS = [
    (1, "en", "a", None),
    (2, "en", "a", ""),
    (3, "de", "b", "123 ... ___ !!"),
]


def _manifest(sf_dir: str) -> dict | None:
    return ic.manifest(
        "wc_postings", os.path.join(sf_dir, "documents.parquet"), None
    )


def _write_docs(spark, sf_dir, rows) -> None:
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))


def _canon_rows(rows) -> list[tuple]:
    def cell(v):
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return None
        return v

    return sorted(
        (tuple(cell(v) for v in r) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _spark_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return _canon_rows(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(sf_dir: str, name: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf_dir}/documents.parquet/*.parquet')"
        )
        pdf = con.execute(ORACLE[name]).fetchdf()
    finally:
        con.close()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).astype(object)
    return _canon_rows(pdf.where(pdf.notna(), None).itertuples(index=False))


def test_postings_built_once(spark):
    """A second call reads the same published data dir: no rebuild."""
    first = _spark_rows(wordcount.wc_counts(spark, SF_ORACLE))
    m1 = _manifest(SF_ORACLE)
    assert m1 is not None and m1.get("data")
    second = _spark_rows(wordcount.wc_counts(spark, SF_ORACLE))
    assert _manifest(SF_ORACLE)["data"] == m1["data"]
    assert first == second and len(first) > 0


def test_postings_lossless_against_token_stream(spark):
    """sum(tf) per word and tf per (doc_id, word) equal the counts the
    raw token stream gives."""
    toks = wordcount.tokens(spark, SF_ORACLE)
    post = wordcount.postings(spark, SF_ORACLE)
    per_word = post.groupBy("word").agg(F.sum("tf").alias("n"))
    assert _spark_rows(per_word) == _spark_rows(
        toks.groupBy("word").agg(F.count("*").alias("n"))
    )
    per_doc = post.select("doc_id", "lang", "source", "word", "tf")
    assert _spark_rows(per_doc) == _spark_rows(
        toks.groupBy("doc_id", "lang", "source", "word").agg(
            F.count("*").alias("tf")
        )
    )


def test_postings_rebuilt_when_corpus_changes(spark, tmp_path):
    """Replacing documents.parquet flips its fingerprint: the next
    query rebuilds the index into a new data dir and equals the oracle
    over the new text."""
    sf = str(tmp_path)
    _write_docs(spark, sf, [(1, "en", "a", "alpha beta alpha")])
    assert _spark_rows(wordcount.wc_counts(spark, sf)) == _oracle_rows(
        sf, "wc_counts"
    )
    m1 = _manifest(sf)
    _write_docs(spark, sf, [(1, "en", "a", "gamma"), (2, "de", "b", "Gamma delta")])
    got = _spark_rows(wordcount.wc_counts(spark, sf))
    assert got == _oracle_rows(sf, "wc_counts") == [(1, "delta"), (2, "gamma")]
    assert _manifest(sf)["data"] != m1["data"]


@pytest.mark.parametrize("corpus", ["edge", "no_tokens"])
@pytest.mark.parametrize("name", sorted(_ROUTED))
def test_routed_query_equals_oracle_on_edge_corpus(spark, tmp_path, corpus, name):
    """NULL, empty, separator-only and CJK/accented texts, and a corpus
    in which no row has a token."""
    sf = str(tmp_path)
    _write_docs(spark, sf, _EDGE_DOCS if corpus == "edge" else _EMPTY_DOCS)
    assert _spark_rows(_ROUTED[name](spark, sf)) == _oracle_rows(sf, name)


def test_summary_of_tokenless_corpus_is_zero_not_null(spark, tmp_path):
    sf = str(tmp_path)
    _write_docs(spark, sf, _EMPTY_DOCS)
    row = wordcount.wc_summary(spark, sf).collect()
    assert [tuple(r) for r in row] == [(0, 0)]


def _node_names(plan) -> list[str]:
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _node_names(children.apply(i))
    return names


@pytest.mark.parametrize("name", ["wc_counts", "tf_idf"])
def test_routed_plan_does_not_tokenize(spark, name):
    """The optimized plan reads postings: no Generate (explode) node."""
    df = _ROUTED[name](spark, SF_ORACLE)
    names = _node_names(df._jdf.queryExecution().optimizedPlan())
    assert "Generate" not in names
    # the walk does see plan nodes: the control query still explodes
    control = wordcount.wc_vocab_approx(spark, SF_ORACLE)
    assert "Generate" in _node_names(control._jdf.queryExecution().optimizedPlan())
