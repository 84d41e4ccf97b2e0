"""Command-line word counter — the reference's user-facing surface.

The reference binary is ``./wordcounter [-profile=...] file1 file2 …``
(main.go:25-74): it errors out when no files are given (main.go:61-64),
tokenizes each file into maximal runs of Unicode letters, lowercases,
counts, and prints the count table (printResult, main.go:173-181) plus
the distinct-word total (main.go:73).

Spark-first mapping: ``spark.read.text(paths)`` is the chunked
work-queue file reader (O1-O3 — Spark's file source splits large files
and schedules the chunks across executors, which is what the
reference's 1 MB-buffer worker pool hand-builds), and the count is the
same explode/groupBy pipeline as ``wc_counts``. The ``--explain`` flag
is the plan-level analog of the reference's ``-profile`` switch; the
runtime half of O14 lives in tools/op_times.py.

Output rows are printed count-descending (word as tie-break) — the
reference iterates Go map order, i.e. deliberately unordered
(main.go:177-180), so any deterministic order is semantics-preserving.
"""

from __future__ import annotations

import argparse
import sys
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.functions.portable import split_words

def count_words(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """(word, cnt) over arbitrary text files — wc_counts semantics
    (SURVEY.md Appendix A) applied to ``spark.read.text`` lines instead
    of the documents table."""
    lines = spark.read.text(list(paths))
    return (
        lines.select(F.explode(split_words("value")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def main(argv: Sequence[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m mapreduce_wordcounter_spark",
        description="Count word occurrences across text files (Spark).",
    )
    parser.add_argument("files", nargs="*", help="text files to process")
    parser.add_argument(
        "--top",
        type=int,
        default=0,
        metavar="N",
        help="print only the N most frequent words (default: all)",
    )
    parser.add_argument(
        "--explain",
        action="store_true",
        help="also print the formatted physical plan (profiling analog)",
    )
    parser.add_argument(
        "--run",
        metavar="QUERY",
        help="run a registered engine query by name instead of counting "
        "words (see registry; e.g. q1_pricing_summary)",
    )
    parser.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        metavar="DIR",
        help="table directory for --run (default: %(default)s)",
    )
    args = parser.parse_args(argv)

    if args.run:
        return _run_registered(args, spark)

    if not args.files:
        # Reference: log.Error("No files to process") + exit (main.go:61-64).
        print("error: no files to process", file=sys.stderr)
        return 2

    started = time.monotonic()
    own_session = spark is None
    if own_session:
        from mapreduce_wordcounter_spark.session import get_spark

        spark = get_spark("wordcounter-cli")

    counts = count_words(spark, args.files)
    if args.explain:
        counts.explain("formatted")
    ordered = counts.orderBy(F.desc("cnt"), F.asc("word"))

    print(f"{'Count':<10}Word")
    print(f"{'-----':<10}----")
    if args.top > 0:
        # Two actions (top-N rows + vocabulary total) over one cached
        # aggregate instead of recomputing the pipeline per action. Only
        # this aggregate is released: a caller's session keeps its caches.
        counts.persist()
        try:
            for r in ordered.limit(args.top).collect():
                print(f"{r['cnt']:<10}{r['word']}")
            total = counts.count()
        finally:
            counts.unpersist()
    else:
        # Full-table print: stream partition-by-partition (global order
        # is preserved — the sort range-partitions) and derive the total
        # from the rows printed; never collect() an unbounded relation.
        total = 0
        for r in ordered.toLocalIterator():
            print(f"{r['cnt']:<10}{r['word']}")
            total += 1
    elapsed = time.monotonic() - started
    print(f"Processing took: {elapsed:.3f}s")
    print(f"Total words: {total}")

    if own_session:
        spark.stop()
    return 0


def _run_registered(args, spark: SparkSession | None) -> int:
    """``--run NAME``: execute any registered engine query against
    --sf-dir and stream its rows — the whole 190-query surface through
    the reference's CLI shape (unknown names list the registry instead
    of stack-tracing)."""
    from mapreduce_wordcounter_spark.registry import all_queries

    queries = all_queries()
    if args.run not in queries:
        print(f"error: unknown query {args.run!r}; available:", file=sys.stderr)
        for name in sorted(queries):
            print(f"  {name}", file=sys.stderr)
        return 2

    started = time.monotonic()
    own_session = spark is None
    if own_session:
        from mapreduce_wordcounter_spark.session import get_spark

        spark = get_spark("wordcounter-cli")
    df = queries[args.run](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    cols = df.columns
    print("\t".join(cols))
    n = 0
    limit = args.top if args.top > 0 else None
    # Same streaming discipline as the count path: toLocalIterator,
    # never an unbounded collect.
    for r in df.toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))
        n += 1
        if limit is not None and n >= limit:
            break
    elapsed = time.monotonic() - started
    print(f"Processing took: {elapsed:.3f}s")
    print(f"Rows: {n}")
    if own_session:
        spark.stop()
    return 0
