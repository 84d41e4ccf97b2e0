"""User-defined table function surface: the tokenizer as a Python UDTF.

The reference's tokenizer (strings.FieldsFunc over !unicode.IsLetter,
main.go:141-144) is "the hard-coded equivalent of one UDTF"
(SURVEY.md §2.2). This module exposes it as an *actual* UDTF — the
third leg of the extension surface next to the scalar/pandas UDFs and
the grouped-agg UDAF — applied via a SQL LATERAL join and oracle-
checked against the JVM-native split/explode pipeline's own oracle.

Deliberately NOT the hot path: wc_counts does this tokenization with
built-in expressions (codegen, zero Python). The UDTF exists to prove
the user-facing table-function machinery end-to-end; its docstring is
also where we record the cost: row-at-a-time Python eval, ~100× the
JVM tokenizer — acceptable for a UDTF a user brings for logic Spark
can't express, never for logic it can (SCALE.md §3).

Parity note: Python has no ``\\p{L}``; ``[^\\W\\d_]`` (Unicode \\w
minus digits/underscore) matches letters *and* combining marks, which
diverges from Java's ``\\p{L}`` only on marked scripts — the corpus is
ASCII (FIXTURES.md), where they are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_wordcounter_spark.functions.portable import sql_split_words
from mapreduce_wordcounter_spark.registry import query
from mapreduce_wordcounter_spark.tables import load_table


def tokenize_udtf():
    """Build the UDTF. Nested class → cloudpickle serializes it by
    value (workers don't share the driver's sys.path; same rule as
    every Python-executed function in this repo)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):
            import re

            for w in re.findall(r"[^\W\d_]+", (text or "").lower(), re.UNICODE):
                yield (w,)

    return Tokenize


@query(
    "udtf_tokenize_counts",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest({sql_split_words()}) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def udtf_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the Python UDTF lateral join — the
    user-extensible twin of wc_counts (same oracle)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    spark.udtf.register("tokenize_words", tokenize_udtf())
    return spark.sql(
        """
        SELECT w.word, COUNT(*) AS cnt
        FROM udtf_docs d, LATERAL tokenize_words(d.text) w
        GROUP BY w.word
        """
    )
