"""Text-analysis operators over ``documents`` (SURVEY.md §7 phase 4).

Extends the reference's tokenizer (main.go:141-148) into the text
metrics a training-data pipeline needs: per-document stats, n-grams,
TF-IDF, quality scoring, stopword ratios, token-length distribution,
and content fingerprinting. Everything here is SQL-expressible by
design so the DuckDB oracle applies (SURVEY.md §7 "keep to
SQL-expressible forms").

Scale posture: all queries are one explode + one or two aggregations;
the explode output is never wider than (doc_id, word), partial
aggregation runs map-side, and the shuffles key on `word` or `doc_id`
— both high-cardinality and un-skewed at corpus scale (stopword skew
is absorbed by map-side combine exactly like the reference's per-file
maps, main.go:126).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.functions.portable import (
    md5h,
    sql_md5h,
    sql_words,
    words,
)
from mapreduce_wordcounter_spark.operators.dedup import (
    _DUCK_PARAGRAPHS,
    paragraph_relation,
)
from mapreduce_wordcounter_spark.operators.wordcount import postings, tokens
from mapreduce_wordcounter_spark.registry import ORACLE, query
from mapreduce_wordcounter_spark.tables import load_table

# Shared oracle fragments -----------------------------------------------------

_SQL_TOKEN_ROWS = (
    f"SELECT doc_id, lang, source, unnest({sql_words()}) AS word FROM documents"
)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SQL_STOPS = "('" + "', '".join(STOPWORDS) + "')"

# PII span patterns (shared by the PII section below and the
# pipeline_curate gate; Java-regex/RE2 common subset — see the PII
# section note).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id, COUNT(*) AS n_tokens,
           COUNT(DISTINCT word) AS n_distinct,
           CAST(SUM(LENGTH(word)) AS DOUBLE) / COUNT(*) AS avg_token_len,
           CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*) AS type_token_ratio
    FROM ({_SQL_TOKEN_ROWS}) t
    GROUP BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (integer sums → exact division
    parity)."""
    return tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct"),
        (F.sum(F.length("word")).cast("double") / F.count("*")).alias("avg_token_len"),
        (F.countDistinct("word").cast("double") / F.count("*")).alias(
            "type_token_ratio"
        ),
    )


def _ngram_query(n: int):
    spark_gram = "concat(" + ", ' ', ".join(
        f"element_at(toks, i + {j})" for j in range(n)
    ) + ")"

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        grams = docs.select(words().alias("toks")).select(
            F.explode(
                # sequence(1, k) is DESCENDING in Spark when k < 1 — guard
                # short documents explicitly (DuckDB generate_series is
                # empty there, Spark would emit [1, 0, ...]).
                F.when(
                    F.size("toks") >= n,
                    F.expr(
                        f"transform(sequence(1, size(toks) - {n - 1}), i -> {spark_gram})"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram")
        )
        return (
            grams.groupBy("gram")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("gram"))
            .limit(50)
        )

    fn.__name__ = f"ngrams_{n}_top50"
    fn.__doc__ = (
        f"Top-50 word {n}-grams (adjacency in the filtered token "
        "sequence; deterministic total order)."
    )
    return fn


# Register bigram/trigram via the factory (explicit, with oracles).
def _register_ngrams() -> None:
    for n, name in ((2, "ngrams_bigram_top50"), (3, "ngrams_trigram_top50")):
        fn = _ngram_query(n)
        duck_gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
        oracle = f"""
        SELECT gram, COUNT(*) AS cnt FROM (
            SELECT unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                                         i -> {duck_gram})) AS gram
            FROM (SELECT {sql_words()} AS toks FROM documents) d
        ) g
        GROUP BY gram
        ORDER BY cnt DESC, gram
        LIMIT 50
        """
        query(name, oracle=oracle)(fn)


@query(
    "tf_idf",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf, df.df,
           ROUND(LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS idf,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tf_idf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    """,
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency × ln(N/df).

    tf is the at-rest postings relation (wordcount.postings: one row
    per (doc, word), tokenized once per corpus), so df = count(*) per
    word over it; N comes from a metadata-only count over documents,
    broadcast as a scalar. Plan: postings scan → broadcast-joined with
    the vocabulary-sized df aggregate of a second postings scan — no
    explode anywhere."""
    tf = postings(spark, sf_dir).select("doc_id", "word", "tf")
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("double").alias("n_docs")
    )
    idf = F.round(F.log(F.col("n_docs") / F.col("df")), 6)
    return (
        tf.join(F.broadcast(df), "word")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            idf.alias("idf"),
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tf_idf"
            ),
        )
    )


@query(
    "quality_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               SUM(CASE WHEN word IN {_SQL_STOPS} THEN 1 ELSE 0 END) AS n_stop,
               SUM(LENGTH(word)) AS n_letters
        FROM ({_SQL_TOKEN_ROWS}) t GROUP BY doc_id)
    SELECT d.doc_id, d.n_chars, tok.n_tokens,
           CAST(tok.n_stop AS DOUBLE) / tok.n_tokens AS stopword_ratio,
           CAST(tok.n_letters AS DOUBLE) / d.n_chars AS letter_ratio,
           CAST(tok.n_letters AS DOUBLE) / tok.n_tokens AS avg_word_len,
           (CASE WHEN tok.n_tokens >= 20 THEN 1 ELSE 0 END
            + CASE WHEN CAST(tok.n_stop AS DOUBLE) / tok.n_tokens
                        BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END
            + CASE WHEN CAST(tok.n_letters AS DOUBLE) / tok.n_tokens
                        BETWEEN 2 AND 12 THEN 1 ELSE 0 END) AS quality_score
    FROM documents d JOIN tok ON d.doc_id = tok.doc_id
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring: length, stopword ratio,
    average word length — the classic pre-training filter triple
    (C4/Gopher-style rules, here reduced to SQL-exact arithmetic)."""
    tok = (
        tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("word").isin(*STOPWORDS), 1).otherwise(0)
            ).alias("n_stop"),
            F.sum(F.length("word")).alias("n_letters"),
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    letter_ratio = F.col("n_letters").cast("double") / F.col("n_chars")
    avg_len = F.col("n_letters").cast("double") / F.col("n_tokens")
    score = (
        F.when(F.col("n_tokens") >= 20, 1).otherwise(0)
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), 1).otherwise(0)
        + F.when((avg_len >= 2) & (avg_len <= 12), 1).otherwise(0)
    )
    return d.join(tok, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        letter_ratio.alias("letter_ratio"),
        avg_len.alias("avg_word_len"),
        score.alias("quality_score"),
    )


@query(
    "token_length_hist",
    oracle=f"""
    SELECT LENGTH(word) AS token_len, COUNT(*) AS cnt
    FROM ({_SQL_TOKEN_ROWS}) t
    GROUP BY LENGTH(word)
    """,
)
def token_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram over the whole corpus."""
    return (
        tokens(spark, sf_dir)
        .groupBy(F.length("word").alias("token_len"))
        .agg(F.count("*").alias("cnt"))
    )


# BPE-ish tokenization proxy: letter runs, 1-3 digit groups (BPE splits
# long numbers), single punctuation marks — the pre-merge segmentation a
# byte-pair tokenizer starts from. Portable across Java regex and RE2.
_BPE_PAT = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 \\t\\n]"


@query(
    "token_count_estimators",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens,
           ROUND(CAST(n_chars AS DOUBLE)
                 / len(regexp_extract_all(text, '{_BPE_PAT}')), 4)
               AS chars_per_bpe_token
    FROM documents
    """,
)
def token_count_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data token accounting: whitespace token count (the
    word-ish budget) and a BPE-ish regex count (the LLM-cost budget —
    letter runs + short digit groups + punctuation marks approximate a
    byte-pair tokenizer's pre-merge segmentation within a few percent).
    Both are single-pass projections + one aggregate-free scan; at
    100 TB this is the query that prices a corpus."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)"))
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias(
            "n_ws_tokens"
        ),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.col("n_chars").cast("double") / n_bpe, 4).alias(
            "chars_per_bpe_token"
        ),
    )


@query(
    "word_rarity_bottom10",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM ({_SQL_TOKEN_ROWS}) t
    GROUP BY word
    ORDER BY cnt ASC, word
    LIMIT 10
    """,
)
def word_rarity_bottom10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarest-word tail (the hapax-legomena end of the Zipf curve)."""
    return (
        tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.asc("cnt"), F.asc("word"))
        .limit(10)
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(array_to_string({sql_words()}, ' ')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over the normalized token stream —
    whitespace/punctuation-insensitive by construction (two documents
    differing only in separators collide, which is the point)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(words(), " ")).alias("fingerprint"),
    )


# Boilerplate detection: word 5-grams shared across documents. Line- or
# sentence-level dedup (RefinedWeb/C4 style) degenerates on this corpus
# (documents contain no newlines or punctuation), so the cross-document
# repetition unit is the n-gram — same operator shape: explode the
# repetition unit, count DISTINCT docs per unit, rank.
_BP_N = 5


@query(
    "boilerplate_ngrams",
    oracle=f"""
    SELECT gram, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - {_BP_N - 1}),
                      i -> {" || ' ' || ".join(f"t[i+{j}]" for j in range(_BP_N))})) AS gram
        FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d) x
    GROUP BY gram
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, gram
    LIMIT 50
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 boilerplate 5-grams: word 5-grams ranked by the number of
    DISTINCT documents containing them (≥2). Doc-frequency — not
    occurrence count like ngrams_*_top50 — is the boilerplate signal: a
    phrase repeated inside one document is repetition
    (gopher_repetition's axis); a phrase repeated across documents is
    template/boilerplate text to strip before training.

    Scale: per-doc `array_distinct` BEFORE the explode (the same
    doc-local dedup trick as the shingle pipeline) makes the groupBy
    count a plain COUNT(*) with map-side combine — no COUNT(DISTINCT)
    shuffle of (gram, doc_id) re-expansion."""
    spark_gram = "concat(" + ", ' ', ".join(
        f"element_at(toks, i + {j})" for j in range(_BP_N)
    ) + ")"
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", words().alias("toks")).select(
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("toks") >= _BP_N,
                    F.expr(
                        f"transform(sequence(1, size(toks) - {_BP_N - 1}),"
                        f" i -> {spark_gram})"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(50)
    )


# Hash-based dataset split: the reproducible train/val/test assignment a
# training pipeline derives from CONTENT (not doc_id), so the split is
# stable under re-crawls/re-sharding that renumber documents.
_SPLIT_BUCKETS = 100
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90  # [0,80) train, [80,90) val, rest test


@query(
    "dataset_split_assign",
    oracle=f"""
    SELECT doc_id,
           ({sql_md5h('text')}) % {_SPLIT_BUCKETS} AS bucket,
           CASE WHEN ({sql_md5h('text')}) % {_SPLIT_BUCKETS} < {_SPLIT_TRAIN} THEN 'train'
                WHEN ({sql_md5h('text')}) % {_SPLIT_BUCKETS} < {_SPLIT_VAL} THEN 'validation'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash split assignment: md5(text) → 60-bit
    int → bucket 0-99 → 80/10/10 train/validation/test. Pure per-row
    projection (no shuffle at any scale); the engine-portable md5
    fragment keeps Spark and DuckDB bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"({md5h('text')}) % {_SPLIT_BUCKETS}")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "validation")
        .otherwise("test")
        .alias("split"),
    )


# Sequence packing: fill fixed-size training sequences with documents.
_PACK_CAPACITY = 2048


@query(
    "pack_sequences",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, source, COUNT(*) AS n_tokens
        FROM ({_SQL_TOKEN_ROWS}) t GROUP BY doc_id, lang, source)
    SELECT doc_id, lang, source, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                // {_PACK_CAPACITY} AS BIGINT) AS pack_id
    FROM tok
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches: documents are
    assigned to fixed-capacity packs (_PACK_CAPACITY=2048 tokens) in
    doc_id order — pack_id = (running token total before this doc) //
    capacity, i.e. a document starts a new pack when the previous ones
    filled it. The standard pre-training batching op (packing short
    documents into one context window instead of padding).

    Scale: packing is PER (lang, source) GROUP — a global running sum
    would serialize into one partition at 100 TB (the classic global-
    window trap); per-shard packing is what production pipelines do
    anyway (packs must not mix languages/sources), and each group's
    window runs independently after one shuffle on the group key."""
    from pyspark.sql import Window as W

    tok = (
        tokens(spark, sf_dir)
        .groupBy("doc_id", "lang", "source")
        .agg(F.count("*").alias("n_tokens"))
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # Integer `div`, matching the oracle's BIGINT `//` at any
    # magnitude (double division drifts past ~2^53 running tokens —
    # see pipeline_tokenize_pack).
    return tok.withColumn("running", running).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.expr(f"running div {_PACK_CAPACITY}").alias("pack_id"),
    )


# Vocabulary building: ranked token ids for the top of the frequency
# distribution — the precursor to any subword/embedding-table step.
_VOCAB_K = 1000
_VOCAB_MIN_COUNT = 2


@query(
    "vocab_top1k",
    oracle=f"""
    SELECT word, cnt, token_id FROM (
        SELECT word, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) - 1 AS token_id
        FROM (SELECT word, COUNT(*) AS cnt FROM ({_SQL_TOKEN_ROWS}) t
              GROUP BY word HAVING COUNT(*) >= {_VOCAB_MIN_COUNT}) c) r
    WHERE token_id < {_VOCAB_K}
    """,
)
def vocab_top1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus word counts → min-count filter →
    dense token ids 0..K-1 assigned by rank (count desc, word asc as
    the deterministic tie-break — same convention as BPE vocab dumps).

    Scale: the count is the flagship word-count aggregate; the top-K
    cut runs FIRST as orderBy+limit — Spark's TakeOrderedAndProject, a
    per-partition top-K merged on the driver, so the vocabulary never
    funnels through one window partition — and only the K=1000
    surviving rows pass through the id-assigning row_number window."""
    from pyspark.sql import Window as W

    counts = (
        tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _VOCAB_MIN_COUNT)
    )
    topk = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(_VOCAB_K)
    w = W.orderBy(F.desc("cnt"), F.asc("word"))
    return topk.select(
        "word", "cnt", (F.row_number().over(w) - 1).alias("token_id")
    )


@query(
    "source_unigram_kl",
    oracle=f"""
    WITH sc AS (
        SELECT source, word, COUNT(*) AS cnt_s
        FROM (SELECT source, unnest({sql_words()}) AS word
              FROM documents) t
        GROUP BY source, word),
    stot AS (SELECT source, SUM(cnt_s) AS n_s FROM sc GROUP BY source),
    corp AS (SELECT word, SUM(cnt_s) AS cnt FROM sc GROUP BY word),
    n AS (SELECT SUM(cnt_s) AS nn FROM sc)
    SELECT sc.source, CAST(stot.n_s AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(
               (CAST(sc.cnt_s AS DOUBLE) / stot.n_s)
               * LN((CAST(sc.cnt_s AS DOUBLE) / stot.n_s)
                    / (CAST(corp.cnt AS DOUBLE) / n.nn))
               * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
               AS kl_unigram
    FROM sc
    JOIN stot USING (source)
    JOIN corp USING (word)
    CROSS JOIN n
    GROUP BY sc.source, stot.n_s
    """,
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per corpus slice: KL(P_source ‖ P_corpus)
    over unigram distributions — the standard check that one source
    (crawl, snapshot, domain) hasn't drifted from the corpus mix before
    it's blended into training data.

    Determinism: each KL term is a pure function of four integers
    (cnt_s, N_s, cnt, N); the cross-word sum uses the repo's
    quantize-to-int64 construction (functions/numeric.py) so
    accumulation order can't move the result. Caveat: the term contains
    a transcendental ln whose last ulp is not guaranteed identical
    across engines — a 1-ulp disagreement exactly on a quantization
    boundary would flip one summand (probability ≈ |term|·1e6·2⁻⁵² per
    term). tests/test_quantization_margin.py verifies the actual
    boundary margins on the oracle corpus.

    Scale: ONE token pass builds (source, word) counts; the corpus
    marginal and per-source totals are DERIVED from that relation
    (vocabulary-sized and #sources-sized), then broadcast back — no
    second corpus scan, no skew (the join keys are word/source on
    vocabulary-sized relations)."""
    from mapreduce_wordcounter_spark.functions.numeric import quantize

    sc = (
        tokens(spark, sf_dir)
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt_s"))
    )
    from mapreduce_wordcounter_spark.session import pin

    sc = pin(sc)
    stot = sc.groupBy("source").agg(F.sum("cnt_s").alias("n_s"))
    corp = sc.groupBy("word").agg(F.sum("cnt_s").alias("cnt"))
    n = sc.agg(F.sum("cnt_s").alias("nn"))
    p_s = F.col("cnt_s").cast("double") / F.col("n_s")
    p_c = F.col("cnt").cast("double") / F.col("nn")
    term = p_s * F.log(p_s / p_c)
    return (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(corp), "word")
        .join(F.broadcast(n))
        .groupBy("source", "n_s")
        .agg((F.sum(quantize(term)).cast("double") / 1_000_000).alias("kl_unigram"))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            "kl_unigram",
        )
    )


@query(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ({sql_md5h('text')}) % 1000 < 100
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% corpus sample: keep documents whose content
    hash lands in the first 100 of 1000 buckets. Unlike Bernoulli
    sampling (sample_bernoulli, seed- and partitioning-dependent), a
    hash sample is a pure per-row predicate — identical membership on
    any cluster, any partitioning, any engine, and stable across
    snapshot re-shards, which is why ablation/holdout sets in data
    pipelines are hash-defined. No shuffle; the predicate runs at scan
    time."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.expr(f"({md5h('text')}) % 1000 < 100")
    ).select("doc_id", "lang")


@query(
    "lang_marker_score",
    oracle=f"""
    SELECT doc_id,
           CAST(SUM(CASE WHEN word IN ('the', 'a', 'is', 'and') THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN word IN ('the', 'a', 'is', 'and') THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS en_score
    FROM ({_SQL_TOKEN_ROWS}) t
    GROUP BY doc_id
    """,
)
def lang_marker_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID building block: marker-word (n-gram heuristic) hit
    rate per document. Real language ID extends the marker lists per
    language and takes the argmax — the synthetic corpus shares one
    vocabulary, so only the scoring machinery is exercised here."""
    markers = ("the", "a", "is", "and")
    return (
        tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("word").isin(*markers), 1).otherwise(0)).alias(
                "en_hits"
            ),
            F.count("*").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "en_hits",
            "n_tokens",
            (F.col("en_hits").cast("double") / F.col("n_tokens")).alias("en_score"),
        )
    )


_register_ngrams()


# --- Gopher repetition filters ----------------------------------------------
#
# The repetition half of the Gopher quality rules (Rae et al. 2021,
# "Scaling Language Models", table A1): documents dominated by repeated
# lines or repeated n-grams are boilerplate/spam and get filtered before
# pre-training. Four signals, all SQL-exact:
#   - duplicate-line fraction          (lines - distinct lines) / lines
#   - top-2-gram character fraction    chars of the most frequent 2-gram
#   - top-3-gram character fraction      over the doc's n_chars
#   - duplicated-5-gram char fraction  chars in 5-grams seen more than once
# (The synthetic corpus is single-line, so dup_line_frac exercises the
# machinery but reads 0; the n-gram fractions carry the real signal.)


def _doc_ngrams(
    spark: SparkSession,
    sf_dir: str,
    n: int,
    *,
    distinct: bool = False,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, gram): word n-grams per document, adjacency order.

    Same guard as the corpus-level n-gram query: Spark's sequence() is
    descending for k < 1, so short documents emit an explicit empty
    array (DuckDB's generate_series is already empty there).

    ``distinct=True`` dedups WITHIN the document before the explode
    (array_distinct is a per-row op, so the (doc_id, gram) stream is
    distinct by construction with zero extra shuffles — same trick as
    dedup._spark_shingles).

    ``toks`` (doc_id, t) lets a caller that derives several gram sizes
    share ONE tokenization of the corpus (gopher_repetition pins it) —
    at 100 TB that is two fewer full scans + regex-splits."""
    spark_gram = "concat(" + ", ' ', ".join(
        f"element_at(t, i + {j})" for j in range(n)
    ) + ")"
    grams = F.when(
        F.size("t") >= n,
        F.expr(f"transform(sequence(1, size(t) - {n - 1}), i -> {spark_gram})"),
    ).otherwise(F.array().cast("array<string>"))
    if distinct:
        grams = F.array_distinct(grams)
    if toks is None:
        from mapreduce_wordcounter_spark.tables import spread_narrow_scan

        # Spread before the gram transform: n-gram generation (n
        # element_at concats per token position) is scan-stage CPU,
        # otherwise bounded by the file's split count (no-op at scale).
        # hash(doc_id), data-bounded: downstream groupBy(doc_id, ...)
        # consumers can reuse the clustering, and tiny SFs don't
        # shatter into core-count slivers (VERDICT r12 #3).
        toks = spread_narrow_scan(
            spark,
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            sf_dir,
            "documents",
            key="doc_id",
            rows_per_task=160,
        ).select("doc_id", words().alias("t"))
    return toks.select("doc_id", F.explode(grams).alias("gram"))


def _duck_doc_ngrams(n: int) -> str:
    duck_gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                                     i -> {duck_gram})) AS gram
        FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d
    """


def _top_gram_chars(
    spark: SparkSession, sf_dir: str, n: int, *, toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, chars): occurrences × length of the doc's most frequent
    n-gram (ties broken lexicographically — deterministic)."""
    from pyspark.sql import Window as W

    cnts = (
        _doc_ngrams(spark, sf_dir, n, toks=toks)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        cnts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", (F.col("cnt") * F.length("gram")).alias("chars"))
    )


def _duck_top_gram_chars(n: int) -> str:
    return f"""
        SELECT doc_id, cnt * length(gram) AS chars FROM (
            SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram) AS rn
            FROM (SELECT doc_id, gram, COUNT(*) AS cnt
                  FROM ({_duck_doc_ngrams(n)}) g GROUP BY doc_id, gram) c
        ) r WHERE rn = 1
    """


@query(
    "gopher_repetition",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, n_chars,
               list_filter(list_transform(string_split(text, chr(10)),
                                          s -> trim(s)), s -> s <> '') AS lines
        FROM documents),
    t2 AS ({_duck_top_gram_chars(2)}),
    t3 AS ({_duck_top_gram_chars(3)}),
    d5 AS (
        SELECT doc_id,
               SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_chars
        FROM (SELECT doc_id, gram, COUNT(*) AS cnt
              FROM ({_duck_doc_ngrams(5)}) g GROUP BY doc_id, gram) c
        GROUP BY doc_id)
    SELECT b.doc_id,
           ROUND(CASE WHEN len(lines) > 0
                      THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                           / len(lines)
                      ELSE 0.0 END, 6) AS dup_line_frac,
           ROUND(CAST(COALESCE(t2.chars, 0) AS DOUBLE) / b.n_chars, 6)
               AS top2_char_frac,
           ROUND(CAST(COALESCE(t3.chars, 0) AS DOUBLE) / b.n_chars, 6)
               AS top3_char_frac,
           ROUND(CAST(COALESCE(d5.dup_chars, 0) AS DOUBLE) / b.n_chars, 6)
               AS dup5_char_frac
    FROM base b
    LEFT JOIN t2 USING (doc_id)
    LEFT JOIN t3 USING (doc_id)
    LEFT JOIN d5 USING (doc_id)
    """,
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (see module note).

    Plan shape: three n-gram streams (n = 2, 3, 5), each one explode →
    map-side-combined groupBy on the high-cardinality (doc_id, gram)
    key, reduced to one row per doc before the final doc_id joins — the
    per-doc relations are corpus-row-sized, so the joins are cheap and
    the line metrics are a pure per-row projection (zero shuffles).
    The corpus is scanned + tokenized ONCE (pinned (doc_id, t)
    relation shared by the three gram streams). Survives 100×: nothing
    here is wider than the token stream."""
    from mapreduce_wordcounter_spark.session import pin

    docs = load_table(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_dlines"),
    )
    # Spread before tokenize + pin: a cached relation freezes its
    # partition layout, and this one is built straight off the scan —
    # single-split locally, so the pin build AND all three gram
    # consumers would otherwise run one-core-wide
    # (tables.spread_narrow_scan; no-op at scale).
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    toks = pin(
        spread_narrow_scan(
            spark,
            docs.select("doc_id", "text"),
            sf_dir,
            "documents",
            key="doc_id",
            rows_per_task=160,
        ).select("doc_id", words().alias("t"))
    )
    # r13 (guide §2.4): the three gram streams (n = 2, 3, 5) are
    # UNIONED with an n tag and aggregated through one shared exchange
    # chain — (doc_id, k, gram) counts → per-(doc, k) top-gram chars
    # and dup-chars → per-doc pivot — 3 exchanges total where the
    # former per-stream groupBy + row_number window + three final
    # joins planned ~9. Top-gram selection is min_by over
    # (-cnt, gram): smallest negated count = highest count, ties to
    # the lexicographically smallest gram — exactly the old window's
    # (cnt DESC, gram ASC) ordering, still engine-deterministic.
    grams = (
        _doc_ngrams(spark, sf_dir, 2, toks=toks)
        .withColumn("k", F.lit(2))
        .unionAll(
            _doc_ngrams(spark, sf_dir, 3, toks=toks).withColumn("k", F.lit(3))
        )
        .unionAll(
            _doc_ngrams(spark, sf_dir, 5, toks=toks).withColumn("k", F.lit(5))
        )
    )
    cnts = grams.groupBy("doc_id", "k", "gram").agg(F.count("*").alias("cnt"))
    per_k = cnts.groupBy("doc_id", "k").agg(
        F.min_by(
            F.col("cnt") * F.length("gram"),
            F.struct((-F.col("cnt")).alias("nc"), F.col("gram").alias("g")),
        ).alias("top_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram"))
        ).alias("dupc"),
    )
    metrics = per_k.groupBy("doc_id").agg(
        F.max(F.when(F.col("k") == 2, F.col("top_chars"))).alias("c2"),
        F.max(F.when(F.col("k") == 3, F.col("top_chars"))).alias("c3"),
        F.max(F.when(F.col("k") == 5, F.col("dupc"))).alias("dup_chars"),
    )
    dup_line = F.when(
        F.col("n_lines") > 0,
        (F.col("n_lines") - F.col("n_dlines")).cast("double") / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(metrics, "doc_id", "left")
        .select(
            "doc_id",
            F.round(dup_line, 6).alias("dup_line_frac"),
            F.round(
                F.coalesce(F.col("c2"), F.lit(0)).cast("double") / F.col("n_chars"), 6
            ).alias("top2_char_frac"),
            F.round(
                F.coalesce(F.col("c3"), F.lit(0)).cast("double") / F.col("n_chars"), 6
            ).alias("top3_char_frac"),
            F.round(
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                / F.col("n_chars"),
                6,
            ).alias("dup5_char_frac"),
        )
    )


@query(
    "quality_score_gopher",
    # Composed from the two component oracles (both already registered
    # above) — DuckDB accepts CTE-bearing subqueries as derived tables,
    # same pattern as dedup_components_canonical's oracle.
    oracle=f"""
    WITH qs AS ({ORACLE["quality_score"]}),
    gr AS ({ORACLE["gopher_repetition"]})
    SELECT qs.doc_id,
           qs.quality_score AS base_score,
           (CASE WHEN gr.dup_line_frac <= 0.30 THEN 1 ELSE 0 END
            + CASE WHEN gr.top2_char_frac <= 0.20 THEN 1 ELSE 0 END
            + CASE WHEN gr.top3_char_frac <= 0.18 THEN 1 ELSE 0 END
            + CASE WHEN gr.dup5_char_frac <= 0.15 THEN 1 ELSE 0 END) AS rep_score,
           qs.quality_score
           + (CASE WHEN gr.dup_line_frac <= 0.30 THEN 1 ELSE 0 END
              + CASE WHEN gr.top2_char_frac <= 0.20 THEN 1 ELSE 0 END
              + CASE WHEN gr.top3_char_frac <= 0.18 THEN 1 ELSE 0 END
              + CASE WHEN gr.dup5_char_frac <= 0.15 THEN 1 ELSE 0 END)
               AS gopher_score
    FROM qs JOIN gr ON qs.doc_id = gr.doc_id
    """,
)
def quality_score_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher-style quality gate: the length/stopword/word-length
    triple from `quality_score` plus the four repetition checks from
    `gopher_repetition`, using the paper's thresholds (dup-line ≤ 0.30,
    top-2-gram ≤ 0.20, top-3-gram ≤ 0.18, dup-5-gram ≤ 0.15). Score is
    0–7; a pre-training filter keeps gopher_score = 7.

    Checks are applied to the ROUNDED fractions on both engines (the
    component queries round to 6 decimals), so threshold comparisons
    are bit-identical by construction.

    The result relation is PINNED (r13): it is doc-sized (doc_id +
    three small ints — the cheap kind of cache) and consumed verbatim
    by pipeline_curate, pipeline_tokenize_pack and the quality-gated
    dedup/sampling queries, each of which otherwise replays the full
    three-stream n-gram aggregation; at 100 TB this is the quality-
    score column table every curation pipeline materializes once per
    corpus snapshot."""
    from mapreduce_wordcounter_spark.session import pin

    qs = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    gr = gopher_repetition(spark, sf_dir)
    rep = (
        F.when(F.col("dup_line_frac") <= 0.30, 1).otherwise(0)
        + F.when(F.col("top2_char_frac") <= 0.20, 1).otherwise(0)
        + F.when(F.col("top3_char_frac") <= 0.18, 1).otherwise(0)
        + F.when(F.col("dup5_char_frac") <= 0.15, 1).otherwise(0)
    )
    return pin(
        qs.join(gr, "doc_id").select(
            "doc_id",
            F.col("quality_score").alias("base_score"),
            rep.alias("rep_score"),
            (F.col("quality_score") + rep).alias("gopher_score"),
        )
    )


# --- benchmark contamination -------------------------------------------------
#
# The canonical pre-training hygiene check (GPT-3 appendix C / PaLM /
# Llama report): does a training document contain a long word n-gram
# that also appears in a held-out benchmark? 13-grams are the published
# convention. The benchmark here is a deterministic stand-in subset of
# the corpus (doc_id % 10 = 0 — wide enough that the synthetic corpus's
# clone pairs put nonzero overlap on both sides; a real run would point
# the bench side at the actual eval sets, which are tiny at any corpus
# scale).
#
# Scale posture: grams are doc-locally deduped before the explode, then
# reduced to a 60-bit portable hash so the join key is 8 bytes, not a
# 13-word string. The benchmark side is DISTINCT-reduced and BROADCAST
# — benchmark suites are MBs while the corpus is TBs, so the probe side
# never shuffles: one map-side hash-join pass + one per-doc aggregate.

_CONTAM_N = 13
_CONTAM_MOD = 10

_DUCK_CONTAM = f"""
    WITH g AS (
        SELECT DISTINCT doc_id, {sql_md5h('gram')} AS gh
        FROM ({_duck_doc_ngrams(_CONTAM_N)}) x),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % {_CONTAM_MOD} = 0),
    train AS (SELECT doc_id, gh FROM g WHERE doc_id % {_CONTAM_MOD} <> 0),
    tg AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_contaminated
        FROM train t JOIN bench b ON t.gh = b.gh
        GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(tg.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(hits.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           COALESCE(hits.n_contaminated, 0) > 0 AS contaminated
    FROM documents d
    LEFT JOIN tg ON d.doc_id = tg.doc_id
    LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % {_CONTAM_MOD} <> 0
"""


def _contam_gram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gh): distinct 13-gram 60-bit hashes per document."""
    g = _doc_ngrams(spark, sf_dir, _CONTAM_N, distinct=True)
    return g.select("doc_id", F.expr(md5h("gram")).alias("gh"))


@query("benchmark_contamination", oracle=_DUCK_CONTAM)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc benchmark contamination: how many of the doc's
    distinct 13-grams appear anywhere in the held-out benchmark subset
    (see module note for the plan shape and why the bench side is a
    broadcast).

    Result PINNED (r13): doc-sized (4 narrow columns), consumed
    verbatim by benchmark_contamination_rate and both pipeline_*
    compositions — each otherwise replays the 13-gram hash fan-out
    over the corpus (the decontamination verdict table a production
    pipeline materializes once per benchmark snapshot)."""
    from mapreduce_wordcounter_spark.session import pin

    gh = _contam_gram_hashes(spark, sf_dir)
    bench = (
        gh.filter(F.col("doc_id") % _CONTAM_MOD == 0).select("gh").distinct()
    )
    train = gh.filter(F.col("doc_id") % _CONTAM_MOD != 0)
    tg = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        train.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _CONTAM_MOD != 0)
        .select("doc_id")
    )
    return pin(
        base.join(tg, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            (F.coalesce("n_contaminated", F.lit(0).cast("long")) > 0).alias(
                "contaminated"
            ),
        )
    )


@query(
    "benchmark_contamination_rate",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated_docs,
           ROUND(CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contaminated_frac
    FROM ({_DUCK_CONTAM}) c
    """,
)
def benchmark_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level contamination summary: the contaminated-doc ratio a
    data-quality dashboard reports per snapshot."""
    per_doc = benchmark_contamination(spark, sf_dir)
    return per_doc.agg(
        F.count("*").alias("n_train_docs"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated_docs"),
        F.round(
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("contaminated_frac"),
    )


# --- End-to-end curation pipeline -------------------------------------------

_CURATE_MIN_SCORE = 6  # of 7 (3 C4-style gates + 4 Gopher repetition gates)


@query(
    "pipeline_curate",
    # Composes registered, independently-verified oracles — the
    # FROM-subquery nesting pattern established by
    # dedup_components_canonical (DuckDB allows WITH inside a derived
    # table). ORACLE["quality_score_gopher"] is registered above in
    # this module, _DUCK_CONTAM is the benchmark_contamination body.
    oracle=f"""
    WITH keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    survivors AS (
        SELECT d.doc_id, d.n_chars,
               ({sql_md5h('d.text')}) % 100 AS bucket
        FROM documents d
        JOIN keep k ON d.doc_id = k.doc_id
        JOIN (SELECT * FROM ({{qsg}}) q) qsg ON qsg.doc_id = d.doc_id
        JOIN (SELECT * FROM ({{contam}}) c) ct ON ct.doc_id = d.doc_id
        WHERE qsg.gopher_score >= {_CURATE_MIN_SCORE} AND NOT ct.contaminated
          -- PII gate on the raw text (vacuously true on this letters-only
          -- corpus; the detectors are oracle-exercised by pii_counts)
          AND NOT regexp_matches(d.text, '{{email}}')
          AND NOT regexp_matches(d.text, '{{phone}}')
          AND NOT regexp_matches(d.text, '{{ipv4}}'))
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM survivors
    GROUP BY 1
    """.replace("{qsg}", ORACLE["quality_score_gopher"])
    .replace("{contam}", _DUCK_CONTAM)
    .replace("{email}", _PII_EMAIL)
    .replace("{phone}", _PII_PHONE)
    .replace("{ipv4}", _PII_IPV4),
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation story in one plan — what this engine exists
    for: exact dedup (keep-first) → Gopher quality gate (score ≥ 6/7)
    → benchmark decontamination (drop contaminated docs AND the
    benchmark subset itself) → PII gate (drop docs with detectable
    email/phone/IPv4 spans) → content-hash split assignment → per-
    split doc/char totals. Every stage is an independently oracle-
    verified operator; this query is their composition, verified
    end-to-end against the composed SQL.

    Scale: the stages share the plan shapes already audited per-op —
    one 256-bit-hash shuffle (dedup), the token/n-gram aggregates
    (quality), a broadcast semi-join (contamination), a per-row hash
    projection (split). Nothing new is introduced by composing them;
    Catalyst pipelines the per-doc joins on doc_id."""
    from mapreduce_wordcounter_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    qsg = quality_score_gopher(spark, sf_dir).select("doc_id", "gopher_score")
    contam = benchmark_contamination(spark, sf_dir).select("doc_id", "contaminated")
    bucket = F.expr(f"({md5h('text')}) % 100")
    survivors = (
        docs.join(keep, "doc_id")
        .join(qsg, "doc_id")
        .join(contam, "doc_id")
        .filter(
            (F.col("gopher_score") >= _CURATE_MIN_SCORE)
            & ~F.col("contaminated")
            # PII gate on the raw text — per-row rlike projections, no
            # new shuffle (vacuous on this letters-only corpus; the
            # detectors carry signal in pii_counts' planted-span oracle)
            & ~F.col("text").rlike(_PII_EMAIL)
            & ~F.col("text").rlike(_PII_PHONE)
            & ~F.col("text").rlike(_PII_IPV4)
        )
        .select("doc_id", "n_chars", bucket.alias("bucket"))
    )
    return (
        survivors.groupBy(
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "validation")
            .otherwise("test")
            .alias("split")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --- BM25 retrieval ----------------------------------------------------------
#
# One step past TF-IDF: Okapi BM25 (Robertson/Spärck Jones) with the
# standard k1=1.2, b=0.75 and the +1-smoothed idf
# ln((N - df + 0.5)/(df + 0.5) + 1). Query terms are a fixed corpus mix
# (one rare marker + two mid-frequency words) so the ranking has signal
# at every SF.
#
# Cross-engine float determinism: each (doc, term) partial score is
# quantized to integer micro-units — floor(score·1e6 + 0.5) as BIGINT —
# BEFORE the per-doc sum, so the aggregate is an order-independent
# integer sum and the ranking is bit-identical between Spark and DuckDB
# (same trick as similarity._tp_buckets' quantized plane dots). The
# reported double is derived from the integer after the sum.

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("dup", "vector", "stream")
_BM25_TOPK = 20

_SQL_BM25_TERMS = "('" + "', '".join(_BM25_TERMS) + "')"


@query(
    "bm25_topk",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE)
               / (SELECT COUNT(*) FROM documents) AS avgdl
        FROM dl),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
           WHERE word IN {_SQL_BM25_TERMS} GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    term AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
                   * 1000000.0 + 0.5) AS BIGINT) AS micro
        FROM tf
        JOIN df ON tf.word = df.word
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s)
    SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro,
           ROUND(SUM(micro) / 1000000.0, 6) AS bm25
    FROM term GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for the fixed query term set.

    Plan shape: ONE pass over the token stream feeds both the per-doc
    length and the per-(doc, term) tf (the tf relation is filtered to
    |terms| words BEFORE its aggregate, so it is query-sized, not
    corpus-sized); df is an aggregate of tf (|terms| rows, broadcast);
    N/avgdl are scalar aggregates (broadcast). The only corpus-wide
    shuffle keys on doc_id — uniform, and identical to the dl shuffle,
    so AQE coalesces them. Survives 100×: every relation after the
    first aggregate is O(docs-matching-query) or O(|terms|)."""
    toks = tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("double").alias("n_docs")
    )
    stats = dl.agg(
        (F.sum("dl").cast("double")).alias("sum_dl")
    ).join(F.broadcast(n)).select(
        "n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl")
    )
    tf = (
        toks.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    micro = F.floor(score * 1000000.0 + 0.5).cast("long")
    term = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", micro.alias("micro"))
    )
    return (
        term.groupBy("doc_id")
        .agg(F.sum("micro").cast("long").alias("score_micro"))
        .select(
            "doc_id",
            "score_micro",
            F.round(F.col("score_micro") / 1000000.0, 6).alias("bm25"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


@query(
    "word_typo_pairs",
    oracle=f"""
    WITH top_words AS (
        SELECT word, COUNT(*) AS cnt
        FROM ({_SQL_TOKEN_ROWS}) t
        GROUP BY word
        ORDER BY cnt DESC, word
        LIMIT 200
    )
    SELECT a.word AS word_a, b.word AS word_b,
           levenshtein(a.word, b.word) AS dist
    FROM top_words a JOIN top_words b
      ON a.word < b.word
     AND abs(length(a.word) - length(b.word)) <= 1
     AND levenshtein(a.word, b.word) = 1
    """,
)
def word_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant detection: edit-distance-1 pairs among the top-200
    vocabulary. The candidate set is bounded by the LIMIT (a broadcast
    on both sides), and the length-difference band prunes the quadratic
    before the O(len²) levenshtein runs — the same bound-the-candidates
    pattern the LSH dedup family uses at corpus scale. At 100 TB the
    vocabulary cut stays small (top-K of an aggregate), so the
    quadratic never touches the full corpus."""
    top = (
        tokens(spark, sf_dir)
        .groupBy("word")
        .count()
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(200)
        .select("word")
    )
    a = F.broadcast(top.select(F.col("word").alias("word_a")))
    b = F.broadcast(top.select(F.col("word").alias("word_b")))
    return (
        a.join(
            b,
            (F.col("word_a") < F.col("word_b"))
            & (
                F.abs(F.length("word_a") - F.length("word_b")) <= 1
            )
            & (F.levenshtein("word_a", "word_b") == 1),
        )
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").alias("dist"),
        )
    )


# --- Document chunking -------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_no,
           CAST(start AS BIGINT) AS start_token,
           CAST(len(list_slice(t, start, start + {_CHUNK_TOKENS - 1})) AS BIGINT)
               AS n_tokens,
           md5(array_to_string(list_slice(t, start, start + {_CHUNK_TOKENS - 1}), ' '))
               AS chunk_md5
    FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(t), {_CHUNK_STRIDE})) AS start) s
    WHERE len(t) > 0
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking — the context-window prep step
    for RAG indexing and long-document training: 64-token chunks with a
    48-token stride (16-token overlap so no boundary context is lost).
    Emits (chunk_no, start, length, content digest) per chunk; a real
    pipeline would carry the chunk text into the embedding stage —
    digests keep the oracle compact while pinning exact content.

    Scale: pure per-row fan-out (sequence → explode → slice), no
    shuffle at all; chunk count ∝ tokens/stride. The 1→N shape is the
    same as the multimodal frame sampler, JVM-side here because slicing
    token arrays needs no codec."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words().alias("t")).filter(F.size("t") > 0)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(1, size(t), {_CHUNK_STRIDE})")
        ).alias("start"),
        "t",
    )
    sl = F.expr(f"slice(t, start, {_CHUNK_TOKENS})")
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_no"),
        F.col("start").cast("long").alias("start_token"),
        F.size(sl).cast("long").alias("n_tokens"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


# --- Language assignment (argmax over marker families) -----------------------

_LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "sql": ("table", "query", "row", "join"),
    "stream": ("stream", "batch", "window", "event"),
}


def _sql_in(words: tuple[str, ...]) -> str:
    return "('" + "', '".join(words) + "')"


@query(
    "lang_assign",
    oracle=f"""
    WITH scores AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN word IN {_sql_in(_LANG_MARKERS["en"])} THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS s_en,
               CAST(SUM(CASE WHEN word IN {_sql_in(_LANG_MARKERS["sql"])} THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS s_sql,
               CAST(SUM(CASE WHEN word IN {_sql_in(_LANG_MARKERS["stream"])} THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS s_stream
        FROM ({_SQL_TOKEN_ROWS}) t GROUP BY doc_id)
    SELECT doc_id, s_en, s_sql, s_stream,
           CASE WHEN s_en >= s_sql AND s_en >= s_stream THEN 'en'
                WHEN s_sql >= s_stream THEN 'sql'
                ELSE 'stream' END AS assigned_lang,
           GREATEST(s_en, s_sql, s_stream) AS confidence
    FROM scores
    """,
)
def lang_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification, completed: marker-family hit rates per
    document (the n-gram-heuristic building block lang_marker_score
    exposes) argmax'd into an assignment + confidence. Ties break by
    fixed family precedence (en > sql > stream) so the label is
    deterministic. Real lang-ID swaps the marker lists for per-language
    frequency profiles; the plan — one token pass, K conditional sums,
    per-row argmax — is unchanged at any K.

    Scale: single map-side-combined groupBy(doc_id); the argmax is a
    projection. The synthetic corpus shares one vocabulary, so the
    machinery (not linguistic truth) is what's verified."""
    t = tokens(spark, sf_dir)
    aggs = [
        (
            F.sum(F.when(F.col("word").isin(*words), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias(f"s_{fam}")
        for fam, words in _LANG_MARKERS.items()
    ]
    scores = t.groupBy("doc_id").agg(*aggs)
    assigned = (
        F.when(
            (F.col("s_en") >= F.col("s_sql")) & (F.col("s_en") >= F.col("s_stream")),
            "en",
        )
        .when(F.col("s_sql") >= F.col("s_stream"), "sql")
        .otherwise("stream")
    )
    return scores.select(
        "doc_id",
        "s_en",
        "s_sql",
        "s_stream",
        assigned.alias("assigned_lang"),
        F.greatest("s_en", "s_sql", "s_stream").alias("confidence"),
    )


@query(
    "zipf_slope",
    oracle=f"""
    WITH ranked AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
        FROM (SELECT word, COUNT(*) AS cnt FROM ({_SQL_TOKEN_ROWS}) t
              GROUP BY word) c),
    terms AS (
        SELECT LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(cnt AS DOUBLE)) AS y
        FROM ranked),
    sums AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sx,
               CAST(SUM(CAST(FLOOR(y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sy,
               CAST(SUM(CAST(FLOOR(x * y * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy,
               CAST(SUM(CAST(FLOOR(x * x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx
        FROM terms)
    SELECT CAST(n AS BIGINT) AS n_words,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM sums
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the whole vocabulary: OLS slope of ln(count)
    on ln(rank). Natural text sits near −1; a corpus that drifts far
    from its usual slope (template spam flattens it, dedup artifacts
    steepen it) fails this data-quality check — a one-scalar corpus
    fingerprint alongside source_unigram_kl.

    Determinism: each ln/ln·ln term is a pure per-row function of two
    integers (count, rank) and goes through the quantize-to-int64 sum,
    so accumulation ORDER cannot move the result. Caveat: ln is
    transcendental and neither java.lang.Math.log nor DuckDB's std::log
    is guaranteed correctly rounded, so a 1-ulp cross-engine
    disagreement landing exactly on a floor(x·1e6 + 0.5) boundary would
    flip one int64 summand. The per-term flip probability is
    ≈ |x|·1e6·2⁻⁵² (< 4e-9 here); tests/test_quantization_margin.py
    measures the actual distance of every term to its nearest boundary
    on the oracle corpus and asserts a ≫ulp margin, so parity is
    checked, not assumed. Scale: word count is the flagship aggregate;
    the vocabulary ranking is layout.distributed_rank (range-partition
    + broadcast offsets — no single-partition window even at 10⁸-word
    vocabularies; a value-banded bucket would collapse on the cnt=1
    plateau that holds half of any Zipfian vocabulary), and the moment
    sums map-combine over the ranked vocabulary.
    """
    from mapreduce_wordcounter_spark.operators.layout import distributed_rank

    counts = tokens(spark, sf_dir).groupBy("word").agg(F.count("*").alias("cnt"))
    ranked = distributed_rank(counts, [F.desc("cnt"), F.asc("word")])
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    q = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    sums = ranked.agg(
        F.count("*").alias("n"),
        (F.sum(q(x)).cast("double") / 1_000_000).alias("sx"),
        (F.sum(q(y)).cast("double") / 1_000_000).alias("sy"),
        (F.sum(q(x * y)).cast("double") / 1_000_000).alias("sxy"),
        (F.sum(q(x * x)).cast("double") / 1_000_000).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").cast("long").alias("n_words"),
        F.round(slope, 6).alias("zipf_slope"),
    )


# --- PII detection / redaction ----------------------------------------------
#
# The standard curation stage between quality gating and dedup in the
# C4/RefinedWeb recipe: count PII spans per document (email, phone,
# IPv4), produce the redacted projection, and gate the pipeline on
# PII-free docs (patterns _PII_* defined at module top; Java-regex/RE2
# common subset — [0-9] classes, \b word boundaries, bounded repeats —
# so Spark's regexp_count/regexp_replace and DuckDB's
# regexp_extract_all/regexp_replace('g') see identical semantics).
#
# The synthetic corpus is letters-only (zero digits or '@'), so real
# text would exercise none of the detectors. The registered queries
# therefore PLANT deterministic PII spans — the same expression in the
# Spark plan and the oracle SQL, keyed on doc_id — before detecting
# them, which makes the regex path, the per-pattern counts, and the
# redaction arithmetic all oracle-verified rather than vacuously zero.
# The detection/redaction expressions themselves are generic per-row
# projections over any text column: zero shuffles, trivially 100 TB.

# Planted spans (doc_id-keyed, deterministic, identical in both engines).
_DUCK_PII_AUG = """
    SELECT doc_id, text ||
        CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
             ELSE '' END ||
        CASE WHEN doc_id % 5 = 0
             THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
             THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 + 1 AS VARCHAR)
             ELSE '' END AS aug
    FROM documents
"""


def _spark_pii_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, aug): text with the planted PII spans appended."""
    return pii_aug_of(load_table(spark, sf_dir, "documents"))


def pii_aug_of(docs: DataFrame) -> DataFrame:
    """The augmentation as a pure projection over any (doc_id, text)
    relation — shared by the batch PII queries and the streaming scrub
    twin (streaming/windows.py), which applies it to an unbounded
    source."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise("")
    phone = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ipv4 = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
            F.lit("."),
            (did % 100 + 1).cast("string"),
        ),
    ).otherwise("")
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, phone, ipv4).alias("aug")
    )


@query(
    "pii_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(aug, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           (len(regexp_extract_all(aug, '{_PII_EMAIL}'))
            + len(regexp_extract_all(aug, '{_PII_PHONE}'))
            + len(regexp_extract_all(aug, '{_PII_IPV4}'))) > 0 AS has_pii
    FROM ({_DUCK_PII_AUG}) a
    """,
)
def pii_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII span counts (email / phone / IPv4) + the
    has_pii gate bit — the detection half of the curation stage.

    Pure per-row regex projection over one corpus scan: no shuffle, no
    Python, survives any scale. The planted-span construction (module
    note) makes every count column carry real signal on this corpus;
    the invariants (every doc_id % 3 == 0 doc has exactly one email,
    etc.) are pinned in tests/test_pii.py."""
    aug = _spark_pii_aug(spark, sf_dir)
    n_email = F.regexp_count(F.col("aug"), F.lit(_PII_EMAIL)).cast("long")
    n_phone = F.regexp_count(F.col("aug"), F.lit(_PII_PHONE)).cast("long")
    n_ipv4 = F.regexp_count(F.col("aug"), F.lit(_PII_IPV4)).cast("long")
    return aug.select(
        "doc_id",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ipv4.alias("n_ipv4"),
        ((n_email + n_phone + n_ipv4) > 0).alias("has_pii"),
    )


@query(
    "pii_redacted_stats",
    oracle=f"""
    WITH red AS (
        SELECT doc_id, aug,
               regexp_replace(regexp_replace(regexp_replace(aug,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g') AS redacted
        FROM ({_DUCK_PII_AUG}) a)
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT)
           + CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT)
           + CAST(len(regexp_extract_all(aug, '{_PII_IPV4}')) AS BIGINT) AS n_pii,
           CAST(length(aug) AS BIGINT) AS len_before,
           CAST(length(redacted) AS BIGINT) AS len_after
    FROM red
    """,
)
def pii_redacted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction half: replace every PII span with a typed
    placeholder (<EMAIL>/<PHONE>/<IP>, applied email-first so a
    placeholder can never re-match a later pattern) and report the
    char-length delta per doc — the audit record a redaction pass
    emits. Same zero-shuffle per-row profile as pii_counts; Spark's
    regexp_replace is replace-all by default, DuckDB needs the 'g'
    flag (both sides verified by the oracle compare)."""
    aug = _spark_pii_aug(spark, sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    n_pii = (
        F.regexp_count(F.col("aug"), F.lit(_PII_EMAIL))
        + F.regexp_count(F.col("aug"), F.lit(_PII_PHONE))
        + F.regexp_count(F.col("aug"), F.lit(_PII_IPV4))
    ).cast("long")
    return aug.select(
        "doc_id",
        n_pii.alias("n_pii"),
        F.length("aug").cast("long").alias("len_before"),
        F.length(redacted).cast("long").alias("len_after"),
    )


# --- Learned quality scoring (fasttext-style linear classifier) --------------
#
# The rule-based gates (quality_score, quality_score_gopher) cover the
# heuristic half of a curation stack; production pipelines add a LEARNED
# scorer — typically a fasttext linear model over token counts
# (CCNet/LLaMA-style "looks like Wikipedia" classifiers). The Spark
# shape is what matters: a model-vocabulary weight relation joined
# (broadcast — model vocabs are ~1M rows, trivially under the 8 GB
# broadcast ceiling) onto the per-doc term-frequency relation, then one
# integer dot-product aggregate per doc. Weights here are derived from
# the portable md5 hash so the model is deterministic and the oracle
# can state the same weights — swapping in trained weights changes the
# artifact loaded, not the plan.
#
# Float discipline: weights are integer MILLI-units in [-1000, 1000],
# so the per-doc dot product is an exact int64 sum (order-independent);
# the reported double is derived from the integer after the aggregate
# (same construction as bm25_topk).


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
    w AS (SELECT word, (({sql_md5h("word")}) % 2001) - 1000 AS w_milli
          FROM (SELECT DISTINCT word FROM tok) v),
    s AS (SELECT tf.doc_id,
                 CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                 CAST(SUM(tf.tf * w.w_milli) AS BIGINT) AS score_milli
          FROM tf JOIN w USING (word)
          GROUP BY tf.doc_id)
    SELECT doc_id, n_tokens,
           CAST(FLOOR(score_milli * 1000.0 / n_tokens + 0.5) AS BIGINT)
               AS score_micro,
           CAST(FLOOR(score_milli * 1000.0 / n_tokens + 0.5) AS BIGINT)
               / 1000000.0 AS quality_score,
           CASE WHEN score_milli >= 0 THEN 'keep' ELSE 'drop' END AS label
    FROM s
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over token counts: per-doc mean token
    weight (integer milli-unit weights → exact int64 dot product →
    derived double), with the keep/drop decision on the exact integer.

    Plan: ONE token pass feeds the (doc, word) tf aggregate; the weight
    relation is vocabulary-sized and broadcast onto tf (at 100 TB the
    weights come from the model artifact instead of a corpus distinct —
    the join is unchanged); the only corpus-wide shuffle keys on
    (doc_id, word), map-side combined. The division happens on two
    exact int64s, so the double is identical on any IEEE engine — no
    transcendental in sight (contrast zipf_slope's caveat)."""
    t = tokens(spark, sf_dir)
    tf = t.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    w = (
        tf.select("word")
        .distinct()
        .select(
            "word",
            F.expr(f"(({md5h('word')}) % 2001) - 1000").alias(
                "w_milli"
            ),
        )
    )
    s = (
        tf.join(F.broadcast(w), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w_milli")).cast("long").alias("score_milli"),
        )
    )
    micro = F.floor(
        F.col("score_milli") * 1000.0 / F.col("n_tokens") + 0.5
    ).cast("long")
    return s.select(
        "doc_id",
        "n_tokens",
        micro.alias("score_micro"),
        (micro / 1_000_000.0).alias("quality_score"),
        F.when(F.col("score_milli") >= 0, "keep").otherwise("drop").alias("label"),
    )


# --- Data mixing -------------------------------------------------------------
#
# The sampling/mixing half of a pre-training pipeline: what fraction of
# the final token budget each slice contributes (mixture weights),
# slice-dependent deterministic sampling rates (up/down-sampling), and
# quality-weighted repetition (good documents seen more epochs).

_STRAT_RATES = {"zh": 200, "en": 50}  # per-mille keep rates
_STRAT_DEFAULT = 100


@query(
    "mixture_weights",
    oracle=f"""
    WITH slice_tokens AS (
        SELECT lang, source, COUNT(*) AS n_tokens
        FROM (SELECT lang, source, unnest({sql_words()}) AS w
              FROM documents) t
        GROUP BY lang, source)
    SELECT lang, source, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / (SELECT SUM(n_tokens) FROM slice_tokens), 6) AS weight
    FROM slice_tokens
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: each (lang, source) slice's share of the
    total token budget — the numbers a data-mixing recipe (uniform,
    proportional, DoReMi-style reweighted) starts from.

    One token pass → slice aggregate; the total is a scalar over the
    slice relation (slices ≪ corpus), broadcast back. ROUND(6) on the
    share keeps the division engine-exact."""
    from pyspark.sql import Window as W

    t = tokens(spark, sf_dir)
    slices = t.groupBy("lang", "source").agg(F.count("*").alias("n_tokens"))
    total = F.sum("n_tokens").over(W.partitionBy())
    return slices.select(
        "lang",
        "source",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / total, 6).alias("weight"),
    )


@query(
    "stratified_sample_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ({sql_md5h('text')}) % 1000 <
          CASE lang WHEN 'zh' THEN {_STRAT_RATES["zh"]}
                    WHEN 'en' THEN {_STRAT_RATES["en"]}
                    ELSE {_STRAT_DEFAULT} END
    """,
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-slice keep rates (zh
    up-sampled at 20%, en down-sampled at 5%, default 10%) applied
    through the same content-hash predicate as deterministic_sample —
    reproducible up/down-sampling of corpus slices with zero shuffle
    and membership stable across re-shards."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "zh", _STRAT_RATES["zh"])
        .when(F.col("lang") == "en", _STRAT_RATES["en"])
        .otherwise(_STRAT_DEFAULT)
    )
    h = F.expr(f"({md5h('text')}) % 1000")
    return docs.filter(h < rate).select("doc_id", "lang")


@query(
    "repeat_upsample",
    # Epochs from the Gopher gate: 7/7 → 3 epochs, 6 → 2, else 1. The
    # oracle nests the registered quality_score_gopher oracle as a
    # derived table (same pattern as pipeline_curate).
    oracle="""
    SELECT q.doc_id,
           CASE WHEN q.gopher_score >= 7 THEN 3
                WHEN q.gopher_score >= 6 THEN 2
                ELSE 1 END AS n_epochs
    FROM ({qsg}) q
    """.replace("{qsg}", ORACLE["quality_score_gopher"]),
)
def repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted repetition: documents clearing every quality
    gate are repeated 3 epochs, near-misses 2, the rest once — the
    "repeat good data" knob of a data-mixing recipe, derived from the
    already-verified Gopher score. Per-row projection over the quality
    relation; the downstream trainer materializes epochs by exploding
    sequence(1, n_epochs), which stays ∝ the token budget."""
    q = quality_score_gopher(spark, sf_dir).select("doc_id", "gopher_score")
    return q.select(
        "doc_id",
        F.when(F.col("gopher_score") >= 7, 3)
        .when(F.col("gopher_score") >= 6, 2)
        .otherwise(1)
        .alias("n_epochs"),
    )


@query(
    "corpus_health_report",
    # One-row snapshot dashboard composing already-registered oracles
    # (derived-table nesting, as in pipeline_curate/repeat_upsample).
    oracle=f"""
    SELECT
        (SELECT COUNT(*) FROM documents) AS n_docs,
        (SELECT COUNT(*) FROM (SELECT unnest({sql_words()})
             FROM documents) t) AS n_tokens,
        (SELECT COUNT(DISTINCT w) FROM (SELECT unnest({sql_words()}) AS w
             FROM documents) t) AS vocab,
        (SELECT COUNT(*) - COUNT(DISTINCT sha256(text)) FROM documents)
            AS n_exact_dups,
        ROUND((SELECT CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS DOUBLE)
                      / COUNT(*) FROM documents), 6) AS dup_rate,
        (SELECT contaminated_frac FROM ({{contam_rate}}) c) AS contaminated_frac,
        (SELECT zipf_slope FROM ({{zipf}}) z) AS zipf_slope
    """.replace("{contam_rate}", ORACLE["benchmark_contamination_rate"]).replace(
        "{zipf}", ORACLE["zipf_slope"]
    ),
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-snapshot data-quality dashboard row: corpus size, token
    and vocabulary totals, exact-duplicate rate, benchmark-contamination
    fraction, and the Zipf-slope fingerprint — the numbers an ingestion
    pipeline publishes after every snapshot so drift is visible before
    training starts. Every component is an already-verified registered
    operator; this query is their one-row join (scalar aggregates →
    broadcast-joined singletons, no data-sized shuffle beyond the
    component aggregates themselves)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(spark, sf_dir)
    base = docs.agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.countDistinct(F.sha2("text", 256))).alias("n_exact_dups"),
        F.round(
            (F.count("*") - F.countDistinct(F.sha2("text", 256))).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_rate"),
    )
    tok = t.agg(
        F.count("*").alias("n_tokens"), F.countDistinct("word").alias("vocab")
    )
    contam = benchmark_contamination_rate(spark, sf_dir).select("contaminated_frac")
    zipf = zipf_slope(spark, sf_dir).select("zipf_slope")
    return (
        base.join(tok)
        .join(contam)
        .join(zipf)
        .select(
            "n_docs",
            "n_tokens",
            "vocab",
            "n_exact_dups",
            "dup_rate",
            "contaminated_frac",
            "zipf_slope",
        )
    )


# ---------------------------------------------------------------------------
# C4-style line-level cleaning
# ---------------------------------------------------------------------------
#
# The C4/RefinedWeb line filter: judge each LINE of a page against
# cheap per-line rules, rebuild the page from surviving lines, and drop
# pages left with too few lines. Line unit = the shared
# paragraph_relation segmentation (trimmed newline lines, long lines
# bounded into _PARA_TOKENS-token windows — see operators/dedup.py).
# Rules active here: minimum words per line and a blocklist term
# ('dup' — the corpus's rare spam-marker stand-in for C4's badword
# list). C4's ends-in-terminal-punctuation rule is one more rlike() in
# the same per-row projection, but this synthetic corpus has no
# sentence punctuation at all, so the rule would veto every line;
# it is deliberately not wired in rather than dishonestly vacuous.
#
# Scale: per-line rules are pure row-local projections over the
# segment relation (no shuffle); the only exchange is the doc_id
# rollup. At 100 TB this is scan-bound — exactly C4's profile.

_C4_MIN_WORDS = 5  # C4 uses >= 5 words per sentence/line
_C4_BADWORD = "dup"  # blocklist term (C4: any badword-list hit kills the line)
# C4 drops pages with < 3 surviving sentences; these ~50-word synthetic
# docs segment into only 1-4 lines, so the page threshold is 2 here
# (at 3, half the corpus dies on raw length, drowning the line rules).
_C4_MIN_LINES = 2


@query(
    "c4_line_filter",
    oracle=f"""
    WITH para AS ({_DUCK_PARAGRAPHS}),
    pl AS (
        SELECT doc_id,
               len(string_split(seg, ' ')) AS n_words,
               (len(string_split(seg, ' ')) >= {_C4_MIN_WORDS}
                AND NOT list_contains(string_split(seg, ' '), '{_C4_BADWORD}'))
                   AS keep
        FROM para)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS kept_frac,
           CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT)
               AS kept_words,
           (SUM(CASE WHEN keep THEN 1 ELSE 0 END) >= {_C4_MIN_LINES})
               AS doc_kept
    FROM pl GROUP BY doc_id
    """,
)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filter audit: per document, how many lines the
    per-line rules (>= {_C4_MIN_WORDS} words, no blocklist term) keep,
    the surviving fraction and word mass, and the page-level verdict
    (>= {_C4_MIN_LINES} surviving lines). The cleaned-text projection
    is the same relation filtered to keep=true and re-joined in
    pos_in_doc order; the audit shape keeps the oracle order-free."""
    para = paragraph_relation(load_table(spark, sf_dir, "documents"))
    seg_words = F.split(F.col("seg"), " ")
    keep = (F.size(seg_words) >= _C4_MIN_WORDS) & (
        ~F.array_contains(seg_words, _C4_BADWORD)
    )
    pl = para.select(
        "doc_id", F.size(seg_words).alias("n_words"), keep.alias("keep")
    )
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return (
        pl.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            kept.cast("long").alias("n_kept"),
            F.round(kept.cast("double") / F.count("*"), 6).alias("kept_frac"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0))
            .cast("long")
            .alias("kept_words"),
            (kept >= _C4_MIN_LINES).alias("doc_kept"),
        )
    )


@query(
    "mixture_temperature_weights",
    oracle=f"""
    WITH slice_tokens AS (
        SELECT lang, COUNT(*) AS n_tokens
        FROM (SELECT lang, unnest({sql_words()}) AS w
              FROM documents) t
        GROUP BY lang),
    sq AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS sq_micro
        FROM slice_tokens)
    SELECT lang, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / (SELECT SUM(n_tokens) FROM sq), 6) AS raw_weight,
           ROUND(CAST(sq_micro AS DOUBLE)
                 / (SELECT SUM(sq_micro) FROM sq), 6) AS temp_weight
    FROM sq
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language — the
    multilingual balancing recipe (mT5/XLM-R): sample language i with
    probability ∝ p_i^α instead of p_i, flattening the head and
    boosting the tail. α is fixed at 0.5 so the power is sqrt — a
    correctly-rounded IEEE op on any engine (a general α needs
    transcendental pow, the zipf_slope caveat); each sqrt is
    micro-quantized before summing so the normalizer is an exact
    BIGINT. Reports the raw share next to the temperature share.

    Plan: one token pass → per-lang counts (map-side combined), then
    scalar normalizers over the tiny slice relation via an
    empty-partition window — zero extra corpus shuffles."""
    from pyspark.sql import Window as W

    t = tokens(spark, sf_dir)
    slices = t.groupBy("lang").agg(F.count("*").alias("n_tokens"))
    sq = slices.withColumn(
        "sq_micro",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000 + F.lit(0.5))
        .cast("long"),
    )
    total_n = F.sum("n_tokens").over(W.partitionBy())
    total_sq = F.sum("sq_micro").over(W.partitionBy())
    return sq.select(
        "lang",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / total_n, 6).alias("raw_weight"),
        F.round(F.col("sq_micro").cast("double") / total_sq, 6).alias("temp_weight"),
    )


@query(
    "doc_mean_word_rank",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    freq AS (
        SELECT word, COUNT(*) AS n FROM tok WHERE word <> '' GROUP BY word),
    ranked AS (
        SELECT word, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM freq)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r.rank) AS BIGINT) AS rank_sum,
           ROUND(CAST(SUM(r.rank) AS DOUBLE) / COUNT(*), 6) AS mean_rank
    FROM tok t JOIN ranked r ON t.word = r.word
    WHERE t.word <> ''
    GROUP BY t.doc_id
    """,
)
def doc_mean_word_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-word density signal: each document's mean corpus frequency
    RANK of its tokens — a high mean rank means the document leans on
    rare vocabulary (OCR noise, code, jargon), a classic cheap quality
    feature next to the Gopher gates. Rank is a total order
    (count desc, word), so the integer rank sums are engine-exact.

    Plan: the frequency ranking is vocabulary-sized and its CONSUMER
    broadcast-joins it onto the token stream — the query's own join
    strategy caps the relation at broadcast scale, so the plain global
    rank window is bounded by the same constraint that makes the join
    viable (at the vocabulary size where the window would hurt, the
    broadcast dies first; strategy-consistency is the whitelist
    justification in tests/test_plan_hygiene.py). A corpus whose
    vocabulary outgrows broadcast needs the shuffle-join + layout.
    distributed_rank pair — zipf_slope demonstrates exactly that
    posture over the same relation. One doc_id rollup after the
    join."""
    from pyspark.sql import Window as W

    t = tokens(spark, sf_dir)
    freq = t.groupBy("word").agg(F.count("*").alias("n"))
    ranked = freq.select(
        "word",
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc("word")))
        .alias("rank"),
    )
    return (
        t.join(F.broadcast(ranked), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("rank").cast("long").alias("rank_sum"),
            F.round(
                F.sum("rank").cast("double") / F.count("*"), 6
            ).alias("mean_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Trigram inverted index (pg_trgm-style LIKE acceleration)
# ---------------------------------------------------------------------------
#
# A substring scan (`LIKE '%hash join%'`) reads every byte of every
# document. The pg_trgm trick: maintain a trigram posting list
# (trigram → documents), intersect the pattern's trigrams to get a
# small candidate set, and verify only candidates with the real
# `contains`. At 100 TB the posting list is the materialized index
# (bucketed on trigram at rest); the query touches |pattern|-2 posting
# rows + the candidate docs instead of the corpus. Candidate
# correctness is structural: a document containing the pattern
# contains every one of its trigrams, so the intersection NEVER drops
# a true match — the verify step only removes false positives
# (documents with all trigrams in scattered positions).

_TRGM_PATTERN = "hash join"

# Shared oracle: replay the posting-index construction + intersection
# + verify from the raw table (all three Spark variants below must
# equal it — the index is lossless for containment).
_TRGM_ORACLE = f"""
    WITH pat AS (
        SELECT DISTINCT substring('{_TRGM_PATTERN}', i, 3) AS tri
        FROM (SELECT unnest(generate_series(1,
                     {len(_TRGM_PATTERN) - 2})) AS i)),
    posting AS (
        SELECT DISTINCT doc_id, substring(lower(text), i, 3) AS tri
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, len(lower(text)) - 2))
                      AS i) g),
    cand AS (
        SELECT p.doc_id
        FROM posting p JOIN pat ON p.tri = pat.tri
        GROUP BY p.doc_id
        HAVING COUNT(*) = (SELECT COUNT(*) FROM pat))
    SELECT d.doc_id,
           CAST(strpos(lower(d.text), '{_TRGM_PATTERN}') AS BIGINT)
               AS first_pos
    FROM cand c JOIN documents d ON c.doc_id = d.doc_id
    WHERE strpos(lower(d.text), '{_TRGM_PATTERN}') > 0
    """


@query("trigram_match_scan", oracle=_TRGM_ORACLE)
def trigram_match_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-LESS substring search (the one-off-pattern fallback):
    build the pattern-relevant posting slice on the fly, intersect,
    verify candidates with contains(). This is what you run when no
    at-rest index exists (a single ad-hoc pattern doesn't amortize an
    index build); it reads the corpus once, so it scales like a scan
    (SCALE_CHECK r8 measured exponent 1.17 under its old serve-tier
    name trigram_index_match) — the SERVING path for repeated
    substring queries is trigram_index_match below, which probes the
    at-rest posting index at exponent ~0.2 (VERDICT r8 #2).

    Plan: array_intersect BEFORE the explode — generate only the
    pattern's ≤ |pattern|-2 posting rows per doc instead of ~|text|;
    array_intersect also dedups, matching the DISTINCT posting grain.
    The scan is spread first: the per-character trigram transform is
    the scan-stage cost and is otherwise bounded by the file's split
    count (tables.spread_narrow_scan; no-op at scale)."""
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    docs = spread_narrow_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
        key="doc_id",
        rows_per_task=160,
    )
    pat_tris = sorted(
        {_TRGM_PATTERN[i : i + 3] for i in range(len(_TRGM_PATTERN) - 2)}
    )
    pat_arr = F.array(*[F.lit(t) for t in pat_tris])
    posting = docs.select(
        "doc_id",
        F.explode(
            F.array_intersect(
                F.expr(
                    "transform(sequence(1, length(lower(text)) - 2),"
                    " i -> substring(lower(text), i, 3))"
                ),
                pat_arr,
            )
        ).alias("tri"),
    )
    cand = (
        posting.groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
        .filter(F.col("n_tri") == len(pat_tris))
        .select("doc_id")
    )
    return (
        cand.join(docs, "doc_id")
        .filter(F.instr(F.lower(F.col("text")), _TRGM_PATTERN) > 0)
        .select(
            "doc_id",
            F.instr(F.lower(F.col("text")), _TRGM_PATTERN)
            .cast("long")
            .alias("first_pos"),
        )
    )


# --- Trigram posting index AT REST ------------------------------------------
#
# trigram_index_match above builds the pattern-relevant slice of the
# posting index per query — honest, but the construction (per-char
# substring over every document) is the linear-in-corpus cost the
# round-5 scaling spot-check measured at exponent 0.97. A production
# substring-search system builds the FULL posting list once at ingest
# and probes it per query; this is that posture (the ANN/LPA/BPE
# at-rest pattern). Layout: partitioned by the trigram's first char
# (≤ |alphabet|+1 partitions → partition pruning reads only the
# pattern's prefixes), sorted by tri within partitions (row-group
# pruning via the pushed tri filter). The oracle replays index
# construction from scratch, keeping the at-rest content
# differentially verified.

def _trigram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest posting index as a CATALOG artifact (r9): keyed on
    the documents table's fingerprint, published once, reused across
    SparkSessions; a changed corpus invalidates through the
    fingerprint (sources/index_catalog.py)."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(data: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        posting = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(length(lower(text)) - 2, 0)),"
                        " i -> substring(lower(text), i, 3))"
                    )
                )
            ).alias("tri"),
        ).withColumn("tri0", F.substring("tri", 1, 1))
        (
            posting.repartition("tri0")
            .sortWithinPartitions("tri")
            .write.partitionBy("tri0")
            .parquet(data + "/posting")
        )

    rel = ic.table_index(
        spark,
        "trgm",
        [_os.path.join(sf_dir, "documents.parquet")],
        None,
        build,
        ["posting"],
    )
    return rel["posting"]


def _substring_search_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search against the AT-REST posting index: read only
    the pattern's partitions (partition pruning on the trigram's
    first char) and posting rows (pushed tri filter), intersect
    posting lists, verify candidates with contains(). The per-char
    substring construction over the corpus is paid once at build
    (ingest time at 100 TB), not per query; the probe's cost is
    |pattern trigrams| posting scans + a doc-grain verify join —
    independent of corpus growth except through posting-list length
    (SCALE_CHECK exponent ~0.2 at ×10)."""
    idx = _trigram_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pat_tris = sorted(
        {_TRGM_PATTERN[i : i + 3] for i in range(len(_TRGM_PATTERN) - 2)}
    )
    prefixes = sorted({t[0] for t in pat_tris})
    hits = idx.filter(
        F.col("tri0").isin(prefixes) & F.col("tri").isin(pat_tris)
    )
    cand = (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
        .filter(F.col("n_tri") == len(pat_tris))
        .select("doc_id")
    )
    return (
        cand.join(docs, "doc_id")
        .filter(F.instr(F.lower(F.col("text")), _TRGM_PATTERN) > 0)
        .select(
            "doc_id",
            F.instr(F.lower(F.col("text")), _TRGM_PATTERN)
            .cast("long")
            .alias("first_pos"),
        )
    )


@query("trigram_index_match", oracle=_TRGM_ORACLE)
def trigram_index_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE serving entry for substring search — probes the at-rest
    trigram posting index (pg_trgm posture). Until r8 this name
    carried the index-less on-the-fly variant (now
    trigram_match_scan), whose per-query posting construction scaled
    like a corpus scan (SCALE_CHECK exponent 1.17 — the repo's only
    superlinear serve entry); per VERDICT r8 #2 the serving name now
    IS the probe plan, and the construction cost lives in the build
    tier (_trigram_index, paid once per corpus at ingest)."""
    return _substring_search_at_rest(spark, sf_dir)


@query("trigram_index_probe", oracle=_TRGM_ORACLE)
def trigram_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias of trigram_index_match (kept for bench continuity — this
    name has carried the at-rest probe plan since round 5)."""
    return _substring_search_at_rest(spark, sf_dir)


@query(
    "doc_unigram_logprob",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    freq AS (
        SELECT word, COUNT(*) AS n FROM tok WHERE word <> '' GROUP BY word),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
    terms AS (
        SELECT t.doc_id,
               CAST(FLOOR(LN(CAST(f.n AS DOUBLE) / tot.total) * 1000000.0
                          + 0.5) AS BIGINT) AS lp_micro
        FROM tok t
        JOIN freq f ON t.word = f.word
        CROSS JOIN tot
        WHERE t.word <> '')
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-CAST(SUM(lp_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
               AS mean_nll
    FROM terms GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy: each document's mean negative log
    probability under the corpus unigram model — the classic cheap
    stand-in for model-based perplexity filtering (high mean NLL =
    improbable token mix). Same transcendental caveat as zipf_slope:
    ln() terms are micro-quantized before the exact int64 sum, and
    tests/test_quantization_margin.py measures every term's distance
    to its quantization boundary rather than assuming cross-engine ln
    agreement.

    Plan: vocabulary-probability relation broadcast back onto the
    token stream (tf_idf's posture), one doc_id rollup; the corpus
    total is a 1-row scalar."""
    t = tokens(spark, sf_dir)
    freq = t.groupBy("word").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    lp_micro = F.floor(
        F.log(F.col("n").cast("double") / F.col("total")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    probs = freq.join(F.broadcast(tot)).select(
        "word", lp_micro.alias("lp_micro")
    )
    return (
        t.join(F.broadcast(probs), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                -F.sum("lp_micro").cast("double") / 1_000_000 / F.count("*"), 6
            ).alias("mean_nll"),
        )
    )


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH tok AS ({{tok}}),
    freq AS (
        SELECT word, COUNT(*) AS n FROM tok WHERE word <> '' GROUP BY word),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
    terms AS (
        SELECT t.doc_id,
               CAST(FLOOR(LN(CAST(f.n AS DOUBLE) / tot.total) * 1000000.0
                          + 0.5) AS BIGINT) AS lp_micro
        FROM tok t
        JOIN freq f ON t.word = f.word
        CROSS JOIN tot
        WHERE t.word <> ''),
    nll AS (
        SELECT doc_id,
               ROUND(-CAST(SUM(lp_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
                   AS mean_nll
        FROM terms GROUP BY doc_id),
    bucketed AS (
        SELECT n.doc_id, d.lang, n.mean_nll,
               CAST(NTILE(3) OVER (PARTITION BY d.lang
                                   ORDER BY n.mean_nll, n.doc_id)
                    AS BIGINT) AS bucket
        FROM nll n JOIN documents d ON n.doc_id = d.doc_id)
    SELECT doc_id, lang, mean_nll, bucket, bucket <= 2 AS keep
    FROM bucketed
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al., 2020): within each
    language, rank documents by LM perplexity (here the unigram-NLL
    proxy, doc_unigram_logprob's relation) and split into
    head/middle/tail terciles; the published pipeline keeps head +
    middle and drops the tail — the standard first quality gate for
    web-crawl pretraining corpora. Ties on mean_nll break on doc_id so
    the tercile boundary is deterministic on both engines.

    Plan: the NLL relation (vocab-probability broadcast, one doc_id
    rollup) plus a per-lang NTILE window — partitioned by lang, never
    single-partition; the documents join is doc-grain."""
    from pyspark.sql import Window as W

    rel = doc_unigram_logprob(spark, sf_dir).select("doc_id", "mean_nll")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy("mean_nll", "doc_id")
    bucket = F.ntile(3).over(w).cast("long")
    return (
        rel.join(docs, "doc_id")
        .select("doc_id", "lang", "mean_nll", bucket.alias("bucket"))
        .withColumn("keep", F.col("bucket") <= 2)
    )


ORACLE["ccnet_perplexity_buckets"] = ORACLE["ccnet_perplexity_buckets"].format(
    tok=_SQL_TOKEN_ROWS
)

_BUDGET_TOKENS = 100_000  # the global training-token budget to allocate


@query(
    "token_budget_allocation",
    oracle=f"""
    WITH slice_tokens AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ({{tok}}) t WHERE word <> '' GROUP BY lang),
    sq AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS sq_micro
        FROM slice_tokens),
    tot AS (SELECT CAST(SUM(sq_micro) AS BIGINT) AS tsq FROM sq),
    base AS (
        SELECT lang, n_tokens, sq_micro,
               ({_BUDGET_TOKENS} * sq_micro) // tsq AS q0,
               ({_BUDGET_TOKENS} * sq_micro) % tsq AS rem
        FROM sq CROSS JOIN tot),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr,
               (SELECT {_BUDGET_TOKENS} - SUM(q0) FROM base) AS leftover
        FROM base)
    SELECT lang, n_tokens,
           CAST(q0 + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota,
           CAST(LEAST(q0 + CASE WHEN rr <= leftover THEN 1 ELSE 0 END,
                      n_tokens) AS BIGINT) AS alloc
    FROM ranked
    """,
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer token-budget allocator: split a fixed global training
    budget (_BUDGET_TOKENS = 100k tokens) across languages proportionally
    to the α=0.5 temperature weights (mixture_temperature_weights'
    exact sq_micro construction) with LARGEST-REMAINDER rounding, so
    the per-lang quotas are integers that sum to the budget EXACTLY —
    the arithmetic a mixture sampler actually needs (a float weight
    vector leaves the budget off by rounding drift). ``alloc`` caps
    each quota at the language's availability; Σ quota == budget is
    pinned in tests.

    Exactness: budget × sq_micro stays far below 2^63, so the floor
    quotas and remainders are exact int64 on both engines; the
    remainder ranking breaks ties on lang. The only windows run over
    the ≤|langs| slice relation (constant-bounded, whitelisted)."""
    from pyspark.sql import Window as W

    t = tokens(spark, sf_dir)
    slices = t.groupBy("lang").agg(F.count("*").cast("long").alias("n_tokens"))
    sq = slices.withColumn(
        "sq_micro",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000 + F.lit(0.5)
        ).cast("long"),
    )
    tsq = F.sum("sq_micro").over(W.partitionBy())
    base = sq.select(
        "lang",
        "n_tokens",
        F.expr(f"({_BUDGET_TOKENS}L * sq_micro)").alias("num"),
        tsq.alias("tsq"),
    ).select(
        "lang",
        "n_tokens",
        F.expr("num div tsq").alias("q0"),
        F.expr("num % tsq").alias("rem"),
    )
    leftover = (
        F.lit(_BUDGET_TOKENS) - F.sum("q0").over(W.partitionBy())
    ).alias("leftover")
    rr = F.row_number().over(W.orderBy(F.desc("rem"), F.asc("lang")))
    ranked = base.select("lang", "n_tokens", "q0", rr.alias("rr"), leftover)
    quota = F.col("q0") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "lang",
        "n_tokens",
        quota.cast("long").alias("quota"),
        F.least(quota, F.col("n_tokens")).cast("long").alias("alloc"),
    )


ORACLE["token_budget_allocation"] = ORACLE["token_budget_allocation"].format(
    tok=_SQL_TOKEN_ROWS
)


# --- DSIR-style importance weighting -----------------------------------------
#
# Data Selection with Importance Resampling (Xie et al., 2023): score
# every raw document by how much more likely its tokens are under a
# TARGET distribution (here: the corpus's `lang = 'en'` slice standing
# in for "looks like the high-quality domain") than under the RAW
# corpus distribution, using cheap hashed/unigram bag-of-words models —
# then keep the top of the ranking. This is the published scalable
# recipe for "select pretraining data that looks like Wikipedia"
# without running a model over 100 TB.

_DSIR_TARGET_LANG = "en"  # the target-distribution slice
_DSIR_TOPK = 64  # selection size served by dsir_topk_selection


def _dsir_word_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained half of DSIR: per-word micro-quantized log
    importance weight `lw` between the Laplace-smoothed target-slice
    unigram model and the raw corpus model. ONE vocabulary aggregate
    computes both counts (the target count is a conditional sum), the
    1-row totals scalar broadcasts onto it. Vocabulary-sized — the
    model table both the batch scorer and the stream-static serving
    join consume."""
    freq = tokens(spark, sf_dir).groupBy("word").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("nt"),
    )
    tot = freq.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("nt").cast("long").alias("ntt"),
        F.count("*").cast("long").alias("v"),
    )
    lw = (
        F.floor(
            F.log(
                (F.col("nt").cast("double") + 1.0)
                / (F.col("ntt") + F.col("v")).cast("double")
            )
            * 1_000_000
            + F.lit(0.5)
        ).cast("long")
        - F.floor(
            F.log(F.col("n").cast("double") / F.col("nn").cast("double"))
            * 1_000_000
            + F.lit(0.5)
        ).cast("long")
    )
    return freq.join(F.broadcast(tot)).select("word", lw.alias("lw"))


# Shared oracle fragment: token rows -> per-word DSIR weight (lw).
# Consumed by the batch scorer, the top-K selection (via nesting), and
# the stream-static serving twin in streaming/windows.py.
_DSIR_LW_CTES = f"""tok AS ({_SQL_TOKEN_ROWS}),
    freq AS (
        SELECT word, COUNT(*) AS n,
               SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS nt
        FROM tok WHERE word <> '' GROUP BY word),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(nt) AS BIGINT) AS ntt,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM freq),
    lw AS (
        SELECT word,
               CAST(FLOOR(LN((CAST(nt AS DOUBLE) + 1.0)
                             / CAST(ntt + v AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT)
               - CAST(FLOOR(LN(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS lw
        FROM freq, tot)"""


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_LW_CTES}
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(l.lw) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
               AS mean_log_ratio,
           (SUM(l.lw) >= 0) AS keep
    FROM tok t JOIN lw l ON t.word = l.word
    WHERE t.word <> ''
    GROUP BY t.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: the mean log importance
    ratio of its tokens between a Laplace-smoothed TARGET unigram model
    (the `lang = 'en'` slice; +1 smoothing over the full corpus
    vocabulary so unseen-in-target words stay finite) and the RAW
    corpus unigram model — the published importance-resampling score
    for selecting pretraining data that resembles a trusted domain
    (Xie et al., 2023). `keep` is the sign of the EXACT integer weight
    sum (micro-quantized ln terms, int64 additions), so the decision
    boundary has no float exposure; both ln terms ride the
    doc_unigram_logprob quantize-then-sum recipe and are margin-checked
    in tests/test_quantization_margin.py.

    Plan: ONE vocabulary aggregate computes raw and target counts
    together (the target count is a conditional sum — no second corpus
    pass), the 1-row totals scalar broadcast onto it, and the per-word
    weight relation (vocabulary-sized) broadcast back onto the token
    stream with a doc_id rollup — tf_idf's posture end to end. At
    100 TB: two map-combined shuffles (vocab, doc) over one scan."""
    t = tokens(spark, sf_dir)
    weights = _dsir_word_weights(spark, sf_dir)
    return (
        t.join(F.broadcast(weights), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.sum("lw").cast("double") / 1_000_000 / F.count("*"), 6
            ).alias("mean_log_ratio"),
            (F.sum("lw") >= 0).alias("keep"),
        )
    )


@query(
    "dsir_topk_selection",
    # Derived-table nesting over the registered weights oracle (the
    # corpus_health_report composition pattern).
    oracle=f"""
    WITH w AS ({{dsir}})
    SELECT doc_id, n_tokens, mean_log_ratio
    FROM w
    ORDER BY mean_log_ratio DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """.replace("{dsir}", ORACLE["dsir_importance_weights"]),
)
def dsir_topk_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR SELECTION step: the top-K documents by importance
    weight (deterministic doc_id tiebreak) — the rows a curation
    pipeline would actually forward to training. Ranking safety: the
    weight is ROUND(exact-int / 1e6 / count, 6) — identical doubles on
    both engines because the numerator is integer-exact — so the K-th/
    K+1-th boundary cannot disagree cross-engine.

    Scale: Spark plans orderBy().limit(K) as TakeOrderedAndProject —
    per-partition top-K heaps merged on the driver, K rows of driver
    state, no global sort."""
    return (
        dsir_importance_weights(spark, sf_dir)
        .select("doc_id", "n_tokens", "mean_log_ratio")
        .orderBy(F.desc("mean_log_ratio"), F.asc("doc_id"))
        .limit(_DSIR_TOPK)
    )


_DSIR_SAMPLE_DEN = 10  # dsir_sample_fraction keeps 1/10 of the corpus


@query(
    "dsir_sample_fraction",
    # Derived-table nesting over the registered weights oracle; the
    # rank/threshold replay is ROW_NUMBER over the same total order.
    oracle=f"""
    WITH w AS ({{dsir}}),
    r AS (
        SELECT doc_id, n_tokens, mean_log_ratio,
               ROW_NUMBER() OVER (
                   ORDER BY mean_log_ratio DESC, doc_id) AS sel_rank,
               COUNT(*) OVER () AS n_docs
        FROM w)
    SELECT doc_id, n_tokens, mean_log_ratio,
           CAST(sel_rank AS BIGINT) AS sel_rank
    FROM r WHERE sel_rank * {_DSIR_SAMPLE_DEN} <= n_docs
    """.replace("{dsir}", ORACLE["dsir_importance_weights"]),
)
def dsir_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection at FRACTION scale — the published resampling
    step a 100 TB curation run actually executes (Xie et al., 2023:
    select a target-sized subset by importance weight), vs the K=64
    TakeOrdered demo above: keep the top ``1/_DSIR_SAMPLE_DEN`` of the
    corpus by importance weight. The threshold is an exact QUANTILE of
    the ranking order, stated as the integer comparison
    ``sel_rank * 10 <= n_docs`` — no float boundary, so the selected
    set is identical cross-engine (the weight itself is
    ROUND(exact-int / 1e6 / count, 6): identical doubles both sides,
    and ties break on doc_id, making the order total).

    Scale: a 10%-of-corpus selection cannot TakeOrdered (millions of
    driver-heap rows); instead the weights relation gets a GLOBAL rank
    via layout.distributed_rank — range-repartition on (weight DESC,
    doc_id), local ranks, an n_parts-row offset table broadcast back —
    then one filter against the 1-row corpus-count scalar (computed
    from the SAME persisted range assignment, so no second corpus
    scan). No global sort, no single-partition window, selection cost
    ∝ corpus / cores. Output keeps ``sel_rank`` so a downstream epoch
    shuffle / pack step can consume the selection order directly."""
    from mapreduce_wordcounter_spark.operators.layout import distributed_rank

    w = dsir_importance_weights(spark, sf_dir).select(
        "doc_id", "n_tokens", "mean_log_ratio"
    )
    ranked = distributed_rank(
        w,
        [F.desc("mean_log_ratio"), F.asc("doc_id")],
        out="sel_rank",
    )
    # n_docs from the ranked relation itself: reads the persisted
    # range assignment distributed_rank pinned, not a fresh corpus
    # scan of the weights pipeline.
    tot = ranked.agg(F.max("sel_rank").cast("long").alias("__nd"))
    return (
        ranked.join(F.broadcast(tot))
        .filter(F.col("sel_rank") * _DSIR_SAMPLE_DEN <= F.col("__nd"))
        .select(
            "doc_id",
            "n_tokens",
            "mean_log_ratio",
            F.col("sel_rank").cast("long").alias("sel_rank"),
        )
    )


_DSIR_GUMBEL_SEED = 42  # seeded: re-runs select the SAME sample

# Strictly-interior uniform from the portable 60-bit md5 hash:
# (h % p + 1) / (p + 2) in (0, 1) — integer arithmetic exact on both
# engines, one exact double division. p = 1e9+7.
_GUMBEL_P = 1_000_000_007


# Shared oracle fragment: per-doc exact int64 log-weight sum plus the
# seeded Gumbel-perturbed key (consumed by both gumbel selections).
_DSIR_GUMBEL_CTES = f"""{_DSIR_LW_CTES},
    d AS (
        SELECT t.doc_id, CAST(SUM(l.lw) AS BIGINT) AS lw_micro
        FROM tok t JOIN lw l ON t.word = l.word
        WHERE t.word <> ''
        GROUP BY t.doc_id),
    g AS (
        SELECT doc_id, lw_micro,
               lw_micro + CAST(FLOOR(-LN(-LN(
                   (({sql_md5h(f"'gumbel:{_DSIR_GUMBEL_SEED}:' || CAST(doc_id AS VARCHAR)")})
                    % {_GUMBEL_P} + 1)
                   / {_GUMBEL_P + 2}.0)) * 1000000.0 + 0.5) AS BIGINT)
               AS key_micro
        FROM d)"""


def _gumbel_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lw_micro, key_micro): the exact int64 per-doc
    log-weight sum plus the seeded micro-quantized Gumbel
    perturbation — the relation both gumbel selections rank."""
    t = tokens(spark, sf_dir)
    weights = _dsir_word_weights(spark, sf_dir)
    d = (
        t.join(F.broadcast(weights), "word")
        .groupBy("doc_id")
        .agg(F.sum("lw").cast("long").alias("lw_micro"))
    )
    h = F.expr(
        md5h(f"concat('gumbel:{_DSIR_GUMBEL_SEED}:', cast(doc_id as string))")
    )
    u = ((h % _GUMBEL_P) + 1).cast("double") / F.lit(float(_GUMBEL_P + 2))
    g = F.floor(-F.log(-F.log(u)) * 1_000_000 + F.lit(0.5)).cast("long")
    return d.select(
        "doc_id", "lw_micro", (F.col("lw_micro") + g).alias("key_micro")
    )


@query(
    "dsir_gumbel_sample",
    oracle=f"""
    WITH {_DSIR_GUMBEL_CTES}
    SELECT doc_id, lw_micro, key_micro FROM g
    ORDER BY key_micro DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's STOCHASTIC selection half: weighted sampling WITHOUT
    replacement, K documents with inclusion ∝ importance weight — the
    Gumbel top-k construction (taking the top K of
    ``log w_i + Gumbel_i`` is distributionally identical to K
    successive without-replacement draws ∝ w_i), which is how the
    published resampling recipe (Xie et al., 2023) draws a
    target-distribution-shaped sample rather than a deterministic
    head (``dsir_sample_fraction``'s quantile cut). Seeded and
    engine-exact: u_i comes from the repo's portable 60-bit md5 hash
    of (seed, doc_id) mapped to a strictly-interior rational — both
    engines compute the SAME double — and the perturbed key is the
    exact int64 log-weight sum plus the micro-quantized Gumbel term,
    so the selected set and its order replay exactly (the ln calls
    ride the same quantize-then-floor margin argument as the weight
    model itself, tests/test_quantization_margin.py).

    Scale: the weights pipeline (one vocabulary aggregate + one
    doc-grain rollup), a map-side hash/perturb expression, and a
    TakeOrdered top-K — per-partition heaps, K driver rows, no global
    sort. The fraction-sized stochastic selection is
    dsir_gumbel_sample_fraction (same key, distributed-rank threshold
    instead of the LIMIT)."""
    return (
        _gumbel_keyed(spark, sf_dir)
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(_DSIR_TOPK)
    )


@query(
    "dsir_gumbel_sample_fraction",
    oracle=f"""
    WITH {_DSIR_GUMBEL_CTES},
    r AS (
        SELECT doc_id, lw_micro, key_micro,
               ROW_NUMBER() OVER (
                   ORDER BY key_micro DESC, doc_id) AS sel_rank,
               COUNT(*) OVER () AS n_docs
        FROM g)
    SELECT doc_id, lw_micro, key_micro,
           CAST(sel_rank AS BIGINT) AS sel_rank
    FROM r WHERE sel_rank * {_DSIR_SAMPLE_DEN} <= n_docs
    """,
)
def dsir_gumbel_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE published DSIR resampling step at production shape: a
    target-FRACTION weighted sample without replacement — the seeded
    Gumbel-perturbed key (sampling ∝ importance weight, see
    dsir_gumbel_sample) ranked by the collect-free distributed rank
    and cut at the exact integer quantile threshold
    (``sel_rank * 10 <= n_docs``, dsir_sample_fraction's
    construction). Completes the selection matrix: deterministic
    head / stochastic sample, each at top-K and at fraction scale.

    Scale: one corpus pass for the weights, a map-side perturbation,
    one range exchange for the rank, a 1-row count scalar from the
    same persisted range assignment — no TakeOrdered (the selection
    is millions of rows at 100 TB), no global sort, no
    single-partition window."""
    from mapreduce_wordcounter_spark.operators.layout import distributed_rank

    keyed = _gumbel_keyed(spark, sf_dir)
    ranked = distributed_rank(
        keyed, [F.desc("key_micro"), F.asc("doc_id")], out="sel_rank"
    )
    tot = ranked.agg(F.max("sel_rank").cast("long").alias("__nd"))
    return (
        ranked.join(F.broadcast(tot))
        .filter(F.col("sel_rank") * _DSIR_SAMPLE_DEN <= F.col("__nd"))
        .select(
            "doc_id",
            "lw_micro",
            "key_micro",
            F.col("sel_rank").cast("long").alias("sel_rank"),
        )
    )


# --- Source-level (domain-level) curation -----------------------------------
#
# CCNet/RefinedWeb gate whole DOMAINS, not just documents: a source whose
# documents are mostly junk is dropped wholesale (its good-looking pages
# are usually templated flukes). Here "source" plays the domain role.


@query(
    "source_quality_stats",
    oracle=f"""
    WITH q AS ({{q}})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN q.quality_score >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           ROUND(CAST(SUM(CASE WHEN q.quality_score >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS pass_share,
           CAST(2 * SUM(CASE WHEN q.quality_score >= 2 THEN 1 ELSE 0 END)
                >= COUNT(*) AS BOOLEAN) AS keep_source
    FROM q JOIN documents d ON q.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def source_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup: document count, docs passing the
    rule-based gate (quality_score ≥ 2 of 3), pass share, and the
    domain-level keep decision (≥ half the docs pass — stated as the
    integer comparison ``2·n_pass ≥ n_docs`` so the threshold is exact,
    no float boundary).

    Scale: quality_score is one token-stream pass keyed on doc_id; this
    adds a doc_id join to recover source (at scale, source would be
    carried through the aggregate instead) and a groupBy on source —
    domain cardinality, tiny next to the corpus."""
    q = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    passing = F.sum(
        F.when(F.col("quality_score") >= 2, 1).otherwise(0)
    )
    return (
        q.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            passing.alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            F.round(
                F.col("n_pass").cast("double") / F.col("n_docs"), 6
            ).alias("pass_share"),
            (2 * F.col("n_pass") >= F.col("n_docs")).alias("keep_source"),
        )
    )


ORACLE["source_quality_stats"] = ORACLE["source_quality_stats"].format(
    q=ORACLE["quality_score"]
)


@query(
    "source_gated_docs",
    oracle=f"""
    WITH stats AS ({{stats}})
    SELECT d.doc_id, d.source, stats.keep_source AS kept
    FROM documents d JOIN stats ON d.source = stats.source
    """,
)
def source_gated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level projection of the domain gate: every doc tagged
    with its source's keep decision — the relation a curation pipeline
    semi-joins against before the expensive per-doc stages.

    Scale: the stats side is domain-cardinality → broadcast; the corpus
    side never shuffles."""
    stats = source_quality_stats(spark, sf_dir).select(
        "source", F.col("keep_source").alias("kept")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return d.join(F.broadcast(stats), "source").select(
        "doc_id", "source", "kept"
    )


ORACLE["source_gated_docs"] = ORACLE["source_gated_docs"].format(
    stats=ORACLE["source_quality_stats"]
)


# --- Bigram language model ---------------------------------------------------


@query(
    "doc_bigram_logprob",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id,
               split_part(gram, ' ', 1) AS w1,
               split_part(gram, ' ', 2) AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1]))
                       AS gram
            FROM (SELECT doc_id, {sql_words()} AS toks FROM documents) d) g),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bg GROUP BY w1, w2),
    cc AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
          FROM ({_SQL_TOKEN_ROWS}) t),
    probs AS (
        SELECT bc.w1, bc.w2,
               CAST(FLOOR(LN(CAST(bc.c12 + 1 AS DOUBLE) / (cc.c1 + v.v))
                          * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
        FROM bc JOIN cc ON bc.w1 = cc.w1 CROSS JOIN v)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-CAST(SUM(p.lp_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
               AS mean_nll
    FROM bg JOIN probs p ON bg.w1 = p.w1 AND bg.w2 = p.w2
    GROUP BY bg.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy with add-one smoothing: each doc's
    mean negative log probability under the corpus bigram model,
    P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V) — one order up from
    doc_unigram_logprob, and the filter that catches word-salad
    documents whose unigram mix looks normal. Same quantization
    posture: ln terms are micro-quantized before the exact int64 sum;
    tests/test_quantization_margin.py measures every term's boundary
    margin instead of assuming cross-engine ln agreement.

    Plan: the bigram stream is derived once per consumer from the doc
    token arrays (no corpus self-join anywhere); the model relations
    (bigram counts, context counts) are vocabulary²-bounded, joined
    back onto the stream; V is a 1-row scalar (bounded BNLJ,
    whitelisted)."""
    docs = load_table(spark, sf_dir, "documents")
    # sequence(1, k) is DESCENDING in Spark when k < 1 (the ngram
    # factory's trap, and ANSI element_at(toks, 0) would throw) — guard
    # short documents with an explicit empty array, exactly matching
    # DuckDB's empty generate_series(1, len - 1).
    bg = (
        docs.select("doc_id", words().alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.expr(
                        "transform(sequence(1, size(toks) - 1),"
                        " i -> struct(element_at(toks, i) AS w1,"
                        "             element_at(toks, i + 1) AS w2))"
                    ),
                ).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>")
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = tokens(spark, sf_dir).agg(
        F.countDistinct("word").alias("v")
    )
    lp = F.floor(
        F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    probs = (
        bc.join(cc, "w1").join(F.broadcast(v)).select("w1", "w2", lp.alias("lp_micro"))
    )
    return (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                -F.sum("lp_micro").cast("double") / 1_000_000 / F.count("*"), 6
            ).alias("mean_nll"),
        )
    )


@query(
    "bpe_top_pairs",
    oracle=f"""
    WITH wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({_SQL_TOKEN_ROWS}) t GROUP BY word),
    pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                     i -> word[i:i+1])) AS pair,
               cnt
        FROM wc WHERE length(word) >= 2)
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 50
    """,
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of byte-pair-encoding tokenizer training:
    corpus-weighted adjacent-symbol-pair frequencies (top 50, total
    order). A full BPE trainer is this count → merge argmax → re-pair
    loop; the count table is the distributed-heavy step — the merge
    itself touches only the vocabulary.

    Scale: pairs are generated from the VOCABULARY relation (word,
    count), not the token stream — each distinct word fans out to
    len-1 pairs once and carries its corpus count, so the explode is
    vocab-sized. One groupBy on pair (≤ alphabet² keys)."""
    wc = (
        tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(50)
    )


# --- Full iterative BPE training --------------------------------------------
#
# bpe_top_pairs above is ONE merge step; this section is the real
# tokenizer-training pass: K iterative merges (count adjacent symbol
# pairs corpus-weighted → take the argmax pair → apply the merge to
# every word → recount), then the learned segmentation applied back to
# the corpus. All state lives on the VOCABULARY relation (word, count,
# symbol-sequence) — the token stream is touched exactly once (the
# word-count) plus once more at tokenize time, which is what makes BPE
# training tractable at 100 TB: the iterative loop runs at vocab
# cardinality, not corpus cardinality.
#
# Cross-engine exactness: a word's symbol sequence is represented as a
# delimiter-wrapped string '(l)(o)(w)'; a merge of pair (a,b) is
# literal string replace of '(a)(b)' with '(ab)', which is
# left-to-right non-overlapping on BOTH engines (Java String.replace /
# DuckDB replace) — exactly BPE's merge rule, pinned byte-identically
# ('(a)(a)(a)(a)' → '(aa)(aa)'). Symbols are letters only (the
# tokenizer strips everything else), so the parens can never collide
# with content. The argmax is total-ordered (count DESC, left ASC,
# right ASC) and counts are exact int64 — the merge sequence is
# engine-exact by construction.
#
# Like the ANN index and the LPA labels, the learned tokenizer is an
# artifact AT REST: trained once per (session, sf_dir), merges + final
# vocab segmentation written to session-scratch parquet; the three
# registered queries read the tables. Oracles replay the unrolled-K
# training from scratch (the PageRank/LPA pattern), so the at-rest
# content stays differentially verified.

_BPE_MERGES = 6

_BPE_WRAP_DUCK = "regexp_replace(word, '(.)', '(\\1)', 'g')"
_BPE_SYMS_DUCK = "str_split(substring(s, 2, length(s) - 2), ')(')"


def _bpe_oracle_ctes(k: int) -> str:
    """Unrolled-K BPE-training CTE prefix: wc → v0 → (p_i, b_i, v_i)
    per merge. v{k} is the final segmentation; b1..b{k} the merges."""
    parts = [
        f"""wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({_SQL_TOKEN_ROWS}) t GROUP BY word),
    v0 AS (SELECT word, cnt, {_BPE_WRAP_DUCK} AS s FROM wc)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
        SELECT pr.a AS a, pr.b AS b, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(syms) - 1),
                       j -> struct_pack(a := syms[j], b := syms[j+1]))) AS pr,
                   cnt
            FROM (SELECT {_BPE_SYMS_DUCK} AS syms, cnt FROM v{i - 1})
            WHERE len(syms) >= 2)
        GROUP BY pr.a, pr.b),
    b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
    v{i} AS (
        SELECT word, v.cnt,
               replace(v.s, '(' || b.a || ')(' || b.b || ')',
                       '(' || b.a || b.b || ')') AS s
        FROM v{i - 1} v CROSS JOIN b{i} b)"""
        )
    return ",\n    ".join(parts)


def _bpe_merges_oracle(k: int) -> str:
    rows = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS pair_a, b AS pair_b,"
        f" a || b AS merged, cnt FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""
    WITH {_bpe_oracle_ctes(k)}
    SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair_a, pair_b,
           merged, CAST(cnt AS BIGINT) AS cnt
    FROM ({rows}) m
    """


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the K-merge loop once per source fingerprint; returns the
    (merges, vocab) parquet paths of the at-rest tokenizer — a
    CATALOG artifact since r9 (sources/index_catalog.py): published
    once, reused across SparkSessions, invalidated when the corpus
    changes. The loop's only driver reads are the per-iteration 1-row
    argmax (the connected-components scalar-read posture) — the
    vocabulary relation itself never leaves the executors."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(base: str) -> None:
        v = (
            tokens(spark, sf_dir)
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .withColumn("s", F.regexp_replace("word", "(.)", "($1)"))
        )
        # The chain is K projections deep over a vocab-sized base;
        # localCheckpoint per iteration would be overkill at K=6, but
        # each iteration's argmax re-executes the chain so far — cache
        # the base once (vocab-sized).
        v = v.persist()
        merges: list[tuple[int, str, str, str, int]] = []
        for i in range(1, _BPE_MERGES + 1):
            syms = F.expr(
                "split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')"
            )
            pairs = (
                v.select(syms.alias("syms"), "cnt")
                .filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " j -> struct(element_at(syms, j) AS a,"
                            "             element_at(syms, j + 1) AS b))"
                        )
                    ).alias("pr"),
                    "cnt",
                )
                .groupBy("pr.a", "pr.b")
                .agg(F.sum("cnt").alias("cnt"))
            )
            best = (
                pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()[0]
            )
            a, b = best["a"], best["b"]
            merges.append((i, a, b, a + b, int(best["cnt"])))
            # Symbols are letters only — safe to inline as SQL literals.
            v = v.withColumn(
                "s", F.expr(f"replace(s, '({a})({b})', '({a}{b})')")
            )
        spark.createDataFrame(
            merges,
            "merge_rank long, pair_a string, pair_b string,"
            " merged string, cnt long",
        ).write.parquet(base + "/merges")
        v.select("word", "cnt", "s").write.parquet(base + "/vocab")
        v.unpersist()

    src = _os.path.join(sf_dir, "documents.parquet")
    params = {"k": _BPE_MERGES}
    fp = ic.parquet_fingerprint(src)
    data = ic.lookup("bpe", src, params, fp)
    if data is None:
        data = ic.allocate("bpe", src, params)
        build(data)
        ic.publish("bpe", src, params, fp, data)
    return data + "/merges", data + "/vocab"


@query("bpe_learn_merges", oracle=_bpe_merges_oracle(_BPE_MERGES))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the real loop: K=6 iterative merges,
    each = corpus-weighted adjacent-pair count over the vocabulary →
    total-ordered argmax → literal merge applied to every word's
    symbol sequence → recount. Returns the learned merge table
    (rank, pair, merged symbol, pair count at selection time) — the
    artifact a BPE tokenizer ships.

    Scale: the iterative state is the VOCABULARY relation — one
    corpus-wide word count up front, then K vocab-sized explode +
    map-combined pair aggregates; the per-iteration argmax is a 1-row
    driver read (the CC convergence-counter posture). Trained once per
    (session, sf_dir), served from parquet at rest; the oracle replays
    the unrolled-K loop (the PageRank/LPA pattern)."""
    merges_path, _ = _bpe_train(spark, sf_dir)
    return spark.read.parquet(merges_path)


@query(
    "bpe_subword_vocab",
    oracle=f"""
    WITH {_bpe_oracle_ctes(_BPE_MERGES)},
    sub AS (
        SELECT unnest({_BPE_SYMS_DUCK}) AS subword, cnt
        FROM v{_BPE_MERGES}),
    sv AS (
        SELECT subword, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM sub GROUP BY subword)
    SELECT subword, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, subword) - 1
                AS BIGINT) AS token_id
    FROM sv
    """,
)
def bpe_subword_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subword vocabulary induced by the learned merges: every
    surviving symbol with its corpus frequency and a dense token id
    (frequency-ranked, ties toward the lexicographically smaller
    subword — total order, so ids are engine-exact). This is the
    id-assignment step between merge learning and tokenization.

    Scale: one vocab-sized explode of the at-rest segmentation + one
    groupBy on subword (≤ |alphabet| + K extra keys beyond single
    chars... bounded by distinct subwords) + one global rank window
    over the SUBWORD vocabulary — tiny by construction (the global
    window is safe here precisely because the relation is
    vocabulary-of-subwords-sized, never corpus-sized)."""
    from pyspark.sql import Window as W

    _, vocab_path = _bpe_train(spark, sf_dir)
    v = spark.read.parquet(vocab_path)
    syms = F.expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')")
    sv = (
        v.select(F.explode(syms).alias("subword"), "cnt")
        .groupBy("subword")
        .agg(F.sum("cnt").alias("cnt"))
    )
    rk = W.orderBy(F.desc("cnt"), F.asc("subword"))
    return sv.select(
        "subword",
        "cnt",
        (F.row_number().over(rk) - 1).cast("long").alias("token_id"),
    )


@query(
    "bpe_tokenize",
    oracle=f"""
    WITH {_bpe_oracle_ctes(_BPE_MERGES)},
    sub AS (
        SELECT unnest({_BPE_SYMS_DUCK}) AS subword, cnt
        FROM v{_BPE_MERGES}),
    sv AS (
        SELECT subword, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM sub GROUP BY subword),
    ids AS (
        SELECT subword,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, subword) - 1
                    AS BIGINT) AS token_id
        FROM sv),
    seg AS (SELECT word, {_BPE_SYMS_DUCK} AS syms FROM v{_BPE_MERGES}),
    tok AS (
        SELECT t.doc_id, unnest(g.syms) AS subword
        FROM ({_SQL_TOKEN_ROWS}) t JOIN seg g ON t.word = g.word)
    SELECT tok.doc_id, tok.subword, i.token_id,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tok JOIN ids i ON tok.subword = i.subword
    GROUP BY tok.doc_id, tok.subword, i.token_id
    """,
)
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer applied back to the corpus: every
    document's subword counts with vocabulary token ids — the
    (doc × subword) relation a pre-training pipeline feeds to
    sequence building (doc_token_ids / pack_sequences take relations
    exactly like this one at the word tier; this is the subword tier
    the reference's word counter could never reach).

    Scale: tokenization is a JOIN of the token stream against the
    at-rest segmentation on word — vocab side is small (broadcast or
    bucketed at 10⁹-word vocabularies), corpus side streams; then the
    explode fans out per-word subwords (bounded by word length) and a
    map-combined (doc, subword) count. No Python anywhere — the whole
    tokenizer is three native operators."""
    from pyspark.sql import Window as W

    _, vocab_path = _bpe_train(spark, sf_dir)
    v = spark.read.parquet(vocab_path)
    syms = F.expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')")
    sv = (
        v.select(F.explode(syms).alias("subword"), "cnt")
        .groupBy("subword")
        .agg(F.sum("cnt").alias("cnt"))
    )
    rk = W.orderBy(F.desc("cnt"), F.asc("subword"))
    ids = sv.select(
        "subword",
        (F.row_number().over(rk) - 1).cast("long").alias("token_id"),
    )
    seg = v.select("word", syms.alias("syms"))
    tok = (
        tokens(spark, sf_dir)
        .select("doc_id", "word")
        .join(F.broadcast(seg), "word")
        .select("doc_id", F.explode("syms").alias("subword"))
    )
    return (
        tok.join(F.broadcast(ids), "subword")
        .groupBy("doc_id", "subword", "token_id")
        .agg(F.count("*").alias("n"))
    )


@query(
    "bpe_pack_sequences",
    oracle=f"""
    WITH {_bpe_oracle_ctes(_BPE_MERGES)},
    seg AS (SELECT word, CAST(len({_BPE_SYMS_DUCK}) AS BIGINT) AS n_sub
            FROM v{_BPE_MERGES}),
    tok AS (
        SELECT t.doc_id, t.lang, t.source,
               CAST(SUM(g.n_sub) AS BIGINT) AS n_tokens
        FROM ({_SQL_TOKEN_ROWS}) t JOIN seg g ON t.word = g.word
        GROUP BY t.doc_id, t.lang, t.source)
    SELECT doc_id, lang, source, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                // {_PACK_CAPACITY} AS BIGINT) AS pack_id
    FROM tok
    """,
)
def bpe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences at the SUBWORD tier: per-document token counts
    come from the learned BPE segmentation (each word contributes its
    subword count), then the same greedy fixed-capacity packing per
    (lang, source) shard. This closes the loop the word-tier packing
    gestures at: learn merges → segment → count real model tokens →
    pack into 2048-token contexts — the counts a training run actually
    bills by.

    Scale: the segmentation join is vocab-sized (broadcast), the
    per-doc aggregate map-combines, and packing stays per-shard (one
    shuffle on the shard key, never a global window) — identical
    profile to pack_sequences with one extra broadcast."""
    from pyspark.sql import Window as W

    _, vocab_path = _bpe_train(spark, sf_dir)
    syms = F.expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')")
    seg = (
        spark.read.parquet(vocab_path)
        .select("word", F.size(syms).cast("long").alias("n_sub"))
    )
    tok = (
        tokens(spark, sf_dir)
        .join(F.broadcast(seg), "word")
        .groupBy("doc_id", "lang", "source")
        .agg(F.sum("n_sub").alias("n_tokens"))
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return tok.withColumn("running", running).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.expr(f"running div {_PACK_CAPACITY}").alias("pack_id"),
    )



@query(
    "doc_keywords_top3",
    oracle="""
    WITH ti AS ({ti})
    SELECT doc_id, word, tf_idf, rk
    FROM (
        SELECT doc_id, word, tf_idf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tf_idf DESC, word) AS rk
        FROM ti) r
    WHERE rk <= 3
    """,
)
def doc_keywords_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by TF-IDF with a
    total tie-break (score desc, word asc) — the summarization /
    faceting primitive layered on the already-audited tf_idf relation.

    Scale: one rank window partitioned by doc_id over the (doc, word)
    relation — same key as the tf aggregate, so at scale the window
    reuses the tf shuffle's partitioning (no extra exchange of the
    corpus)."""
    from pyspark.sql import Window as W

    ti = tf_idf(spark, sf_dir).select("doc_id", "word", "tf_idf")
    w = W.partitionBy("doc_id").orderBy(F.desc("tf_idf"), F.asc("word"))
    return (
        ti.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf_idf", "rk")
    )


ORACLE["doc_keywords_top3"] = ORACLE["doc_keywords_top3"].format(
    ti=ORACLE["tf_idf"]
)


@query(
    "lang_confusion_matrix",
    oracle="""
    WITH la AS ({la})
    SELECT d.lang AS meta_lang, la.assigned_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM la JOIN documents d ON la.doc_id = d.doc_id
    GROUP BY d.lang, la.assigned_lang
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the corpus' lang metadata and the
    marker-based language assignment — the audit that catches both a
    drifting classifier and mislabeled upstream metadata (on this
    synthetic corpus the two are independent by construction, so the
    matrix is near-uniform: the machinery, not linguistic truth, is
    what's verified).

    Scale: doc-cardinality join on doc_id + a |langs|²-cardinality
    groupBy."""
    la = lang_assign(spark, sf_dir).select("doc_id", "assigned_lang")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("meta_lang")
    )
    return (
        la.join(d, "doc_id")
        .groupBy("meta_lang", "assigned_lang")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE["lang_confusion_matrix"] = ORACLE["lang_confusion_matrix"].format(
    la=ORACLE["lang_assign"]
)


@query(
    "source_lang_chisq",
    oracle="""
    WITH c AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY source, lang),
    t AS (
        SELECT o,
               CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS rs,
               CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS cs,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM c),
    terms AS (
        SELECT CAST(FLOOR(
            (CAST(o AS DOUBLE) - CAST(rs AS DOUBLE) * cs / n)
            * (CAST(o AS DOUBLE) - CAST(rs AS DOUBLE) * cs / n)
            / (CAST(rs AS DOUBLE) * cs / n)
            * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM t),
    dims AS (
        SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS nc
        FROM documents)
    SELECT ROUND(CAST((SELECT SUM(q) FROM terms) AS DOUBLE) / 1000000.0, 6)
               AS chisq,
           (nr - 1) * (nc - 1) AS dof
    FROM dims
    """,
)
def source_lang_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between source and language — the
    statistical form of the drift question behind
    lang_confusion_matrix (is the language mix the same across
    sources?). All cell terms derive from exact integer counts through
    identical correctly-rounded IEEE ops on both engines, so — unlike
    the ln()-based scores — the micro-quantized per-cell terms carry
    NO boundary risk at all: divisions are deterministic, only the
    cross-cell sum needed ordering protection (int64 sum).

    Scale: one groupBy over documents metadata to a |sources|×|langs|
    relation; everything after runs on ≤ dozens of rows (the window
    sums are over the contingency table, not the corpus)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("o"))
    rs = F.sum("o").over(W.partitionBy("source"))
    cs = F.sum("o").over(W.partitionBy("lang"))
    n = F.sum("o").over(W.partitionBy())
    e = rs.cast("double") * cs / n
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    q = F.floor(term * 1_000_000 + F.lit(0.5)).cast("long")
    chisq = c.select(q.alias("q")).agg(
        F.round(F.sum("q").cast("double") / 1_000_000, 6).alias("chisq")
    )
    dims = d.agg(
        F.countDistinct("source").alias("nr"),
        F.countDistinct("lang").alias("nc"),
    )
    return dims.join(F.broadcast(chisq)).select(
        "chisq", ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof")
    )


@query(
    "source_vocab_overlap",
    oracle=f"""
    WITH v AS (SELECT DISTINCT source, word FROM ({_SQL_TOKEN_ROWS}) t),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM v
           GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON i.source_a = sa.source
    JOIN sz sb ON i.source_b = sb.source
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-drift
    diagnostic that tells "new crawl slice speaks a different language"
    apart from "same distribution, more of it" (pairs with KL drift,
    source_unigram_kl, which compares frequencies rather than sets).

    Scale: the join is on WORD over per-source vocabularies — each
    word joins across ≤ |sources| rows, so output is bounded by
    |vocab| · |sources|², never corpus-quadratic. Per-source sizes are
    |sources| rows (broadcast)."""
    v = (
        tokens(spark, sf_dir).select("source", "word").distinct()
    )
    sz = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("source_a"), "word")
    b = v.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "stratified_topk_sample",
    oracle="""
    SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents) r
    WHERE rk <= 20
    """,
)
def stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling: 20 docs per source, chosen by
    md5 rank — the eval-set construction that needs a FIXED size per
    stratum (the hash-threshold sampler, stratified_sample_hash, gives
    binomial counts). Deterministic: the hash is the random key, doc_id
    breaks ties, so the sample is reproducible on any engine.

    Scale: one rank window per source partition. For strata too large
    for a single partition's sort, the production form pre-filters
    with a hash threshold bounding the candidate set (~10k per
    stratum) before ranking — composition of the two registered
    samplers."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "source", "rk")
    )


@query(
    "bigram_pmi_top50",
    oracle=f"""
    WITH tok AS ({_SQL_TOKEN_ROWS}),
    uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c1
            FROM tok GROUP BY word),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    bg AS (
        SELECT split_part(gram, ' ', 1) AS w1,
               split_part(gram, ' ', 2) AS w2
        FROM (
            SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1]))
                       AS gram
            FROM (SELECT {sql_words()} AS toks FROM documents) d) g),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bg GROUP BY w1, w2),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbg FROM bg),
    top AS (
        SELECT w1, w2, c12 FROM bc
        ORDER BY c12 DESC, w1, w2 LIMIT 50)
    SELECT t.w1, t.w2, t.c12,
           ROUND(CAST(CAST(FLOOR(LN((CAST(t.c12 AS DOUBLE) / nb.nbg)
                               / ((CAST(u1.c1 AS DOUBLE) / tot.n)
                                  * (CAST(u2.c1 AS DOUBLE) / tot.n)))
                            * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
                 / 1000000.0, 6) AS pmi
    FROM top t
    JOIN uni u1 ON t.w1 = u1.word
    JOIN uni u2 ON t.w2 = u2.word
    CROSS JOIN tot CROSS JOIN nb
    """,
)
def bigram_pmi_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for the 50 most frequent bigrams:
    PMI = ln(p(w1,w2) / (p(w1)·p(w2))) — the lexical-association score
    that separates collocations ('machine learning') from coincidences
    of two frequent words. The ln is applied AFTER the top-50 cut, so
    the transcendental touches 50 rows; each value is micro-quantized
    (the zipf posture, margin measured by
    tests/test_quantization_margin.py).

    Scale: unigram and bigram count relations are vocab-bounded; the
    top-50 is a TakeOrdered over the bigram counts; the PMI join
    touches 50 rows."""
    docs = load_table(spark, sf_dir, "documents")
    uni = tokens(spark, sf_dir).groupBy("word").agg(
        F.count("*").alias("c1")
    )
    tot = uni.agg(F.sum("c1").alias("n"))
    bg = (
        docs.select(words().alias("toks"))
        .select(
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.expr(
                        "transform(sequence(1, size(toks) - 1),"
                        " i -> struct(element_at(toks, i) AS w1,"
                        "             element_at(toks, i + 1) AS w2))"
                    ),
                ).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>")
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    nb = bc.agg(F.sum("c12").alias("nbg"))
    top = bc.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2")).limit(50)
    u1 = uni.select(F.col("word").alias("w1"), F.col("c1").alias("ca"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c1").alias("cb"))
    pmi_raw = F.log(
        (F.col("c12").cast("double") / F.col("nbg"))
        / (
            (F.col("ca").cast("double") / F.col("n"))
            * (F.col("cb").cast("double") / F.col("n"))
        )
    )
    pmi = F.round(
        F.floor(pmi_raw * 1_000_000 + F.lit(0.5)).cast("long").cast("double")
        / 1_000_000,
        6,
    )
    return (
        top.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(tot))
        .join(F.broadcast(nb))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
    )


@query(
    "doc_token_ids",
    oracle=f"""
    WITH vocab AS (
        SELECT word, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word)
                          AS BIGINT) AS id
        FROM (SELECT word, COUNT(*) AS cnt FROM ({_SQL_TOKEN_ROWS}) t
              GROUP BY word ORDER BY cnt DESC, word LIMIT 1000) v),
    pos AS (
        SELECT d.doc_id, i AS pos, d.toks[i] AS word
        FROM (SELECT doc_id, {sql_words()} AS toks FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1,
                          LEAST(len(d.toks), 32))) AS i) g),
    mapped AS (
        SELECT p.doc_id, p.pos, COALESCE(v.id, 0) AS id
        FROM pos p LEFT JOIN vocab v ON p.word = v.word)
    SELECT doc_id,
           array_to_string(list(id ORDER BY pos), ',') AS ids,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM mapped GROUP BY doc_id
    """,
)
def doc_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application — the bridge between text curation and
    training: map each document's first 32 tokens to integer ids from
    the frequency-ranked top-1k vocabulary (OOV → 0), preserving
    order. Downstream, pack_sequences takes relations exactly like
    this one into fixed-length training rows.

    Scale: the vocabulary is rank-built once (vocab_top1k's plan) and
    broadcast onto the positional token stream; order is restored by
    an engine-portable sort_array over (pos, id) structs — no window,
    no driver collect. Sequence truncation (32 here) bounds the
    per-doc fan-out exactly as a real tokenizer's max_length does.

    SERVING SHAPE (VERDICT r10 #2): ``ids`` is the comma-joined
    string of the id sequence, not ``array<bigint>`` — top-level
    complex columns are banned repo-wide because the external
    harness's canonicalizer cannot hash list cells
    (tests/test_plan_hygiene.py). Order is preserved by the
    serialization; pack_sequences consumes the pre-serialization
    relation shape directly."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(1000)
        .select(
            "word",
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), F.asc("word")))
            .cast("long")
            .alias("id"),
        )
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(F.slice(words(), 1, 32)).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    mapped = pos.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )
    return mapped.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, id))),"
            " s -> cast(s.id as string)), ',')"
        ).alias("ids"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )


@query(
    "pipeline_tokenize_pack",
    # Same survivor predicate as pipeline_curate (composed from the
    # independently-verified stage oracles), then token counts and the
    # pack_sequences window over SURVIVORS only — curation before
    # tokenization, the production order.
    oracle=f"""
    WITH keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    surv AS (
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        JOIN keep k ON d.doc_id = k.doc_id
        JOIN (SELECT * FROM ({{qsg}}) q) qsg ON qsg.doc_id = d.doc_id
        JOIN (SELECT * FROM ({{contam}}) c) ct ON ct.doc_id = d.doc_id
        WHERE qsg.gopher_score >= {_CURATE_MIN_SCORE} AND NOT ct.contaminated
          AND NOT regexp_matches(d.text, '{{email}}')
          AND NOT regexp_matches(d.text, '{{phone}}')
          AND NOT regexp_matches(d.text, '{{ipv4}}')),
    tok AS (
        SELECT t.doc_id, t.lang, t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ({_SQL_TOKEN_ROWS}) t
        JOIN surv s ON t.doc_id = s.doc_id
        GROUP BY t.doc_id, t.lang, t.source),
    packed AS (
        SELECT lang, source, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY lang, source
                                         ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    // {_PACK_CAPACITY} AS BIGINT) AS pack_id
        FROM tok)
    SELECT lang, source, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY lang, source, pack_id
    """.replace("{qsg}", ORACLE["quality_score_gopher"])
    .replace("{contam}", _DUCK_CONTAM)
    .replace("{email}", _PII_EMAIL)
    .replace("{phone}", _PII_PHONE)
    .replace("{ipv4}", _PII_IPV4),
)
def pipeline_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard manifest: curation survivors (pipeline_curate's
    exact gate — dedup ∧ Gopher ∧ decontaminate ∧ no-PII) tokenized and
    greedily packed into 2048-token contexts per (lang, source) shard,
    reported as docs/tokens per pack. With doc_token_ids this closes
    the full pre-training path: curate → tokenize → pack → manifest,
    every stage independently oracle-verified and the composition
    verified end-to-end.

    Scale: the curation joins are per-doc on doc_id (pipeline_curate's
    audited shapes); packing is per-(lang, source) shard — one shuffle
    on the shard key, never a global window."""
    from pyspark.sql import Window as W

    from mapreduce_wordcounter_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    qsg = quality_score_gopher(spark, sf_dir).select("doc_id", "gopher_score")
    contam = benchmark_contamination(spark, sf_dir).select(
        "doc_id", "contaminated"
    )
    surv = (
        docs.join(keep, "doc_id")
        .join(qsg, "doc_id")
        .join(contam, "doc_id")
        .filter(
            (F.col("gopher_score") >= _CURATE_MIN_SCORE)
            & ~F.col("contaminated")
            & ~F.col("text").rlike(_PII_EMAIL)
            & ~F.col("text").rlike(_PII_PHONE)
            & ~F.col("text").rlike(_PII_IPV4)
        )
        .select("doc_id")
    )
    tok = (
        tokens(spark, sf_dir)
        .join(surv, "doc_id")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count("*").alias("n_tokens"))
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # Integer floor-division (div), matching the oracle's BIGINT `//`
    # exactly at ANY magnitude: a double-division round-trip is only
    # equivalent below ~2^53 accumulated tokens — a boundary a 100 TB
    # shard can actually cross.
    packed = tok.withColumn("running", running).select(
        "lang",
        "source",
        "n_tokens",
        F.expr(f"running div {_PACK_CAPACITY}").alias("pack_id"),
    )
    return packed.groupBy("lang", "source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@query(
    "hashed_features",
    oracle=f"""
    SELECT doc_id,
           ({sql_md5h("word")}) % 256 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({_SQL_TOKEN_ROWS}) t
    GROUP BY doc_id, ({sql_md5h("word")}) % 256
    """,
)
def hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: per-document sparse feature vector over 256
    hash buckets (portable md5 prefix, the repo's cross-engine hash) —
    the fixed-width featurizer behind fastText/Vowpal-style linear
    models, and the input shape quality_classifier_score consumes.
    No vocabulary relation at all: the feature space is fixed at plan
    time, which is the trick's entire point at 100 TB (no vocab build,
    no OOV, no broadcast).

    Scale: one map-side projection on the token stream + a
    (doc, bucket) groupBy — the wc_per_source plan with a hashed
    grouping key."""
    t = tokens(spark, sf_dir)
    bucket = (F.expr(md5h("word")) % 256).alias("bucket")
    return t.groupBy("doc_id", bucket).agg(F.count("*").alias("cnt"))


@query(
    "dedup_keep_best_quality",
    oracle="""
    WITH comp AS ({comp}),
    qs AS ({qs}),
    ranked AS (
        SELECT c.canonical_id AS cluster_id, c.doc_id,
               q.quality_score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.canonical_id
                   ORDER BY q.quality_score DESC, c.doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY c.canonical_id) AS n_docs
        FROM comp c JOIN qs q ON c.doc_id = q.doc_id)
    SELECT cluster_id, doc_id AS keep_doc_id,
           CAST(quality_score AS BIGINT) AS keep_quality,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rk = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within every near-dup
    cluster, keep the HIGHEST-QUALITY member (integer heuristic score,
    ties toward the smaller doc_id) instead of the arbitrary min-id
    representative — what a production pipeline actually ships, since
    near-duplicates routinely differ in boilerplate/truncation and
    min-id keeps a random one. Composes two audited relations: the
    connected-components cluster labels and the quality_score triple.
    The score is an exact integer (0-3) and the tie-break total, so
    the choice is engine-exact with no float-ranking caveat.

    Scale: one doc-grain join (cluster labels ⋈ scores, both keyed on
    doc_id) + one rank window partitioned by cluster id — group sizes
    are near-dup cluster sizes, bounded by the dedup QA histogram
    (dedup_cluster_sizes), never corpus-scale."""
    from pyspark.sql import Window as W

    from mapreduce_wordcounter_spark.operators.dedup import (
        dedup_components_canonical,
    )

    comp = dedup_components_canonical(spark, sf_dir).select(
        F.col("canonical_id").alias("cluster_id"), "doc_id"
    )
    qs = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    j = comp.join(qs, "doc_id")
    w = W.partitionBy("cluster_id")
    rk_w = W.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        j.withColumn("rk", F.row_number().over(rk_w))
        .withColumn("n_docs", F.count("*").over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("quality_score").cast("long").alias("keep_quality"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


ORACLE["dedup_keep_best_quality"] = ORACLE[
    "dedup_keep_best_quality"
].format(
    comp=ORACLE["dedup_components_canonical"],
    qs=ORACLE["quality_score"],
)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

_WS_K = 100  # sample size
_WS_P = 1_000_003  # prime modulus for the unit-interval hash


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, n_chars,
               CAST((({sql_md5h('text')}) % {_WS_P} + 1) AS DOUBLE)
                   / {_WS_P + 1}.0 AS u
        FROM documents),
    keyed AS (
        SELECT doc_id, n_chars,
               CAST(FLOOR(LN(u) / GREATEST(n_chars, 1) * 1000000000000.0
                          + 0.5) AS BIGINT) AS priority_pico
        FROM u)
    SELECT doc_id, n_chars, priority_pico FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY priority_pico DESC, doc_id) AS rn
        FROM keyed) t
    WHERE rn <= {_WS_K}
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES, IPL 2006 — public): each document draws
    a priority key u^(1/w) from a content-hash uniform u and weight
    w = n_chars, and the sample is the top-K keys. Equivalent ranking
    ln(u)/w is used so the key stays in a numerically tame range; the
    ln terms are pico-quantized before ranking (the zipf/KL ln
    convention — both engines compute ln of bit-identical rational
    doubles, and the margin suite checks no corpus value sits near a
    floor boundary).

    This is the data-mixing primitive the mixture-weight operators
    gesture at: "sample a training subset proportional to document
    size (or any per-doc weight) reproducibly, on any engine, any
    partitioning" — hash-seeded like deterministic_sample, so
    membership is stable across re-shards and resumable pipelines.

    Scale: per-row key projection (no shuffle), then distributed
    top-K — Spark plans orderBy+limit as TakeOrderedAndProject
    (per-partition heaps + a K-row driver merge), never a global
    sort. The oracle's window states the same order; K rows make the
    comparison exact."""
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(
        f"cast(({md5h('text')}) % {_WS_P} + 1 as double)"
        f" / {_WS_P + 1}.0"
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.floor(
            F.log(u) / F.expr("greatest(n_chars, 1)") * 1e12 + F.lit(0.5)
        )
        .cast("long")
        .alias("priority_pico"),
    )
    return (
        keyed.orderBy(F.desc("priority_pico"), F.asc("doc_id"))
        .limit(_WS_K)
    )


_WS_K_GROUP = 20  # per-language sample size


@query(
    "sample_weighted_per_lang",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, lang, n_chars,
               CAST((({sql_md5h('text')}) % {_WS_P} + 1) AS DOUBLE)
                   / {_WS_P + 1}.0 AS u
        FROM documents),
    keyed AS (
        SELECT doc_id, lang, n_chars,
               CAST(FLOOR(LN(u) / GREATEST(n_chars, 1) * 1000000000000.0
                          + 0.5) AS BIGINT) AS priority_pico
        FROM u)
    SELECT doc_id, lang, n_chars, priority_pico FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY priority_pico DESC, doc_id) AS rn
        FROM keyed) t
    WHERE rn <= {_WS_K_GROUP}
    """,
)
def sample_weighted_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling: the A-ES priority construction of
    sample_weighted_topk, but top-K WITHIN each language — the
    "balanced multilingual subset, weighted by document size" recipe
    (each stratum gets an independent weighted WOR sample from one
    shared key computation, because A-ES priorities are independent
    across strata by construction).

    Scale: per-row keys (no shuffle), then ONE window shuffle on lang;
    per-stratum state is a K-row heap equivalent. When stratum
    cardinality is huge and K small, swap the window for a
    groupBy(lang) + per-group TakeOrdered via the same priority — the
    window form keeps the plan one exchange here."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(
        f"cast(({md5h('text')}) % {_WS_P} + 1 as double)"
        f" / {_WS_P + 1}.0"
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(
            F.log(u) / F.expr("greatest(n_chars, 1)") * 1e12 + F.lit(0.5)
        )
        .cast("long")
        .alias("priority_pico"),
    )
    w = W.partitionBy("lang").orderBy(
        F.desc("priority_pico"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WS_K_GROUP)
        .select("doc_id", "lang", "n_chars", "priority_pico")
    )


# Deterministic epoch shuffle: the data-loader side of training. Each
# epoch needs a DIFFERENT but perfectly REPRODUCIBLE permutation of
# the corpus into ordered shards — hash(epoch, doc) gives both.
_SHUFFLE_EPOCHS = 3
_SHUFFLE_SHARDS = 8
_EPOCH_KEY_S = md5h("concat(cast(epoch as string), ':', cast(doc_id as string))")
_EPOCH_KEY_D = sql_md5h("CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")


@query(
    "epoch_shuffle_assignments",
    oracle=f"""
    WITH e AS (
        SELECT d.doc_id, ep.epoch, ({_EPOCH_KEY_D}) AS k
        FROM documents d,
             (SELECT unnest(generate_series(0, {_SHUFFLE_EPOCHS - 1}))
                  AS epoch) ep)
    SELECT epoch, doc_id,
           k % {_SHUFFLE_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch, k % {_SHUFFLE_SHARDS}
               ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM e
    """,
)
def epoch_shuffle_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-loader's epoch shuffle, as a deterministic relation:
    for each of K epochs, every document gets a shard (md5(epoch:doc)
    mod S) and an ORDER within that shard (rank of its hash key) — a
    different, uncorrelated permutation per epoch that any worker can
    recompute independently (no shuffle-state file to ship, no RNG to
    seed-synchronize; the hash IS the shuffle — the composable-seed
    recipe used by large-scale loaders).

    Scale: per-row hashing (map-only) then ONE shuffle keyed on the
    balanced (epoch, shard) pair for the rank window — each window
    partition holds ~|corpus|/S rows, so pick S (here 8; production:
    thousands) to size partitions, never a global sort. Epochs
    multiply rows K-fold here only to make the relation oracle-
    checkable in one query; a loader materializes one epoch at a
    time."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, {_SHUFFLE_EPOCHS - 1})")
        ).alias("epoch"),
    ).select("doc_id", "epoch", F.expr(_EPOCH_KEY_S).alias("k"))
    shard = F.col("k") % _SHUFFLE_SHARDS
    return e.select(
        "epoch",
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(
            W.partitionBy("epoch", shard).orderBy("k", "doc_id")
        ).cast("bigint").alias("pos"),
    )


# -- positional inverted index: phrase search --------------------------------

_PHRASE = ("hash", "join")  # the served 2-word phrase query


def _phrase_posting_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest POSITIONAL posting index (doc_id, pos, word): the
    structure behind phrase/proximity search in every production
    full-text engine (Lucene positional postings, pg tsvector with
    positions). Built once per corpus through the index catalog
    (fingerprint-keyed, cross-session reuse), laid out partitioned by
    the word's first char (bounded partition count, partition-pruned
    probes) and sorted by word within partitions (row-group pruning
    via the pushed word filter). Positions are 1-based token ordinals
    under the shared tokenizer."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(data: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        posting = docs.select(
            "doc_id", F.posexplode(words()).alias("pos0", "word")
        ).select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "word",
            F.substring("word", 1, 1).alias("w0"),
        )
        (
            posting.repartition("w0")
            .sortWithinPartitions("word", "doc_id", "pos")
            .write.partitionBy("w0")
            .parquet(data + "/posting")
        )

    rel = ic.table_index(
        spark,
        "phrasepos",
        [_os.path.join(sf_dir, "documents.parquet")],
        None,
        build,
        ["posting"],
    )
    return rel["posting"]


@query(
    "search_phrase_positional",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_words()} AS toks FROM documents),
    m AS (SELECT doc_id,
                 list_filter(generate_series(1, greatest(len(toks) - 1, 0)),
                             i -> toks[i] = '{_PHRASE[0]}'
                                  AND toks[i + 1] = '{_PHRASE[1]}') AS hits
          FROM t)
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
           CAST(hits[1] AS BIGINT) AS first_pos
    FROM m WHERE len(hits) > 0
    """,
)
def search_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH over the at-rest positional posting index:
    'hash join' matches where the words occupy ADJACENT token
    positions — which substring/bag-of-words search cannot express.
    The probe reads only the two words' postings (partition pruning
    on first char + pushed word filter), then intersects them with
    one equi-join on (doc_id, adjacency key): p1 joins at pos+1 =
    p2.pos, so a phrase of length L costs L-1 hash joins over
    posting-list-sized inputs — never a corpus scan. Per-doc result:
    occurrence count and first match position, replayed exactly by
    the oracle's token-array scan over raw documents (construction
    differentially verified, trigram-index posture).

    Scale: posting lists shuffle on (doc_id, key) — at 100 TB the
    probe cost tracks the PHRASE WORDS' document frequency, not
    corpus size; the linear token-explode is paid once at ingest."""
    idx = _phrase_posting_index(spark, sf_dir)
    w1, w2 = _PHRASE
    p1 = idx.filter(
        (F.col("w0") == w1[0]) & (F.col("word") == w1)
    ).select("doc_id", F.col("pos").alias("pos1"), (F.col("pos") + 1).alias("jk"))
    p2 = idx.filter(
        (F.col("w0") == w2[0]) & (F.col("word") == w2)
    ).select("doc_id", F.col("pos").alias("jk"))
    return (
        p1.join(p2, ["doc_id", "jk"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("pos1").cast("bigint").alias("first_pos"),
        )
    )
