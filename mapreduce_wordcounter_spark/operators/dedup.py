"""Deduplication operators over ``documents`` (SURVEY.md §7 phase 5).

The training-data dedup toolbox: exact (hash groupBy), normalized
exact, keep-first windowed dedup, n-gram Jaccard, and a full
MinHash+LSH pipeline (shingle → minhash → band → bucket-join →
verify). The reference has no dedup at all — this is north-star
extension surface (BASELINE.json).

Everything here is oracle-checked, including MinHash+LSH: instead of
engine-specific hash functions (Spark's xxhash64 vs DuckDB's hash are
incompatible), strings are hashed portably via md5 — identical hex in
every engine — with the leading 15 hex digits (60 bits) converted to
BIGINT on both sides, and the minhash permutations are explicit affine
maps ``(a_j * id + b_j) mod p`` over ``id = md5_60(s) mod p``. That
makes the *whole* pipeline SQL-expressible and differentially testable,
which ml.feature.MinHashLSH is not. (An earlier revision used a
per-character polynomial rolling hash; md5 is one JVM intrinsic call
per string instead of a length-N higher-order-function fold, ~2× faster
end-to-end on the shingle stream.)

Scale posture (100 TB):
- exact dedup: shuffle on a 256-bit hash — perfectly uniform keys, no
  skew, one exchange;
- shingle Jaccard: the shingle self-join explodes on hot shingles;
  production runs drop stop-shingles (document frequency cap) first —
  here the corpus is synthetic and flat so the join is bounded;
- MinHash+LSH: the scale path — candidate generation is a bucket-join
  on (band, signature), i.e. |pairs| is bounded by bucket collisions,
  not |docs|²; signatures are 16 ints per doc (fits the shuffle).
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
from mapreduce_wordcounter_spark.registry import ORACLE, query
from mapreduce_wordcounter_spark.tables import load_table

# 3-gram word shingles, distinct per doc, with their portable hash ids.
_DUCK_SHINGLES = f"""
    SELECT DISTINCT doc_id, s, ({sql_md5h('s')}) % 2147483647 AS sid
    FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d
    ) x
"""

# MinHash: 16 affine permutations of the shingle id space.
_N_HASH = 16
_P = 2147483647


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, sid): distinct word-3-gram shingles + portable hash.

    Persisted: every consumer (minhash ×16 perms, banding, both sides of
    the candidate self-join, Jaccard verification) reuses one
    materialization instead of re-exploding the corpus — Spark's cache
    manager dedups by logical plan, so repeated calls share the entry.
    (Observed: 12 parquet scans → 2 in lsh_verified_pairs without it.)
    Cached through session.pin so the dedup pass's cache is released by
    session.release_pinned after the query (bench does; the driver's
    one-query sessions don't need to).

    The scan is SPREAD before the shingle work — hash(doc_id),
    DATA-BOUNDED (tables.spread_narrow_scan): the pin build's
    tokenize + 3-gram + md5 otherwise runs at the file's split count
    (one core locally), which doubles minhash_signatures, the family
    member that pays the build. r12 shipped this as a round-robin
    repartition to CLUSTER width — the frozen 32-sliver cache layout
    plus the pre-exchange local sort took lsh_verified_pairs from
    1.09 s to 2.38 s at c32 (VERDICT r12 #2); the keyed, data-bounded
    form keeps the build parallel while the cache width tracks the
    corpus (~20 partitions at sf0.1, 1 at sf0.001)."""
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    docs = spread_narrow_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
        key="doc_id",
        rows_per_task=256,
    )
    toks = docs.select(
        "doc_id",
        words().alias("t"),
    )
    # array_distinct BEFORE the explode: per-doc dedup is a per-row op,
    # so the (doc_id, s) stream is distinct by construction — the
    # full-stream `.distinct()` exchange this replaces was the largest
    # shuffle in the LSH pipeline (the oracle's SELECT DISTINCT is
    # unchanged; doc-local dedup is equivalent because doc_id is part
    # of the key).
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("t") >= 3,
                    F.expr(
                        "transform(sequence(1, size(t) - 2),"
                        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("s"),
    )
    from mapreduce_wordcounter_spark.session import pin

    return pin(sh.withColumn("sid", F.expr(f"({md5h('s')}) % {_P}")))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on sha256(text), keep the lowest doc_id.
    One shuffle on a uniform 256-bit key — the cheapest dedup at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lowercase + whitespace
    collapse) — catches trivially-reformatted copies."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.groupBy(F.sha2(norm, 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@query(
    "dedup_keep_first",
    oracle=f"""
    SELECT doc_id, fingerprint FROM (
        SELECT doc_id,
               md5(array_to_string({sql_words()}, ' ')) AS fingerprint,
               ROW_NUMBER() OVER (PARTITION BY md5(array_to_string({sql_words()}, ' '))
                                  ORDER BY doc_id) AS rn
        FROM documents) t
    WHERE rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup as a window: survivors of token-stream
    fingerprint collisions (whitespace/punct-insensitive dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words()
    from pyspark.sql import Window as W

    fp = docs.select("doc_id", F.md5(F.array_join(toks, " ")).alias("fingerprint"))
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup
# ---------------------------------------------------------------------------


@query(
    "jaccard_near_dup_pairs",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def jaccard_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (3-gram shingles, J ≥ 0.5)
    via shingle self-join. The exact-but-quadratic-in-collisions
    baseline that lsh_verified_pairs approximates at scale."""
    sh = _spark_shingles(spark, sf_dir).select("doc_id", "s")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # sa/sb are corpus-cardinality (one row per doc) — no broadcast hint;
    # AQE broadcasts at test scale, shuffles at 10^9 docs where a
    # doc-sized broadcast would OOM the driver.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# Stop-shingle document-frequency cap: the production guard for the
# exact shingle self-join (drop shingles appearing in more than CAP
# docs before joining — they are stop-phrases/boilerplate and each one
# contributes O(df²) join rows). On this corpus max shingle df is ~7,
# so a cap of 5 genuinely filters.
_DF_CAP = 5

_DUCK_CAPPED_SHINGLES = f"""
    SELECT doc_id, s FROM ({_DUCK_SHINGLES}) sh
    WHERE s NOT IN (
        SELECT s FROM ({_DUCK_SHINGLES}) h GROUP BY s HAVING COUNT(*) > {_DF_CAP})
"""


@query(
    "jaccard_capped_pairs",
    oracle=f"""
    WITH sh AS ({_DUCK_CAPPED_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def jaccard_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`jaccard_near_dup_pairs` with the stop-shingle guard made real:
    shingles whose document frequency exceeds _DF_CAP are dropped
    before the self-join, which bounds the join's per-key expansion at
    df²·CAP² instead of (hot-shingle df)² — the difference between a
    quadratic blowup and a linear pass on a boilerplate-heavy corpus.
    Jaccard is computed over the capped shingle universe on both sides
    of the differential test, so the oracle is exact.

    The hot-shingle list is a tiny relation (df > CAP shingles are by
    definition few distinct values... though each is frequent) —
    broadcast anti-join, no extra shuffle of the shingle stream."""
    sh = _spark_shingles(spark, sf_dir).select("doc_id", "s")
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _DF_CAP)
        .select("s")
    )
    kept = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # Per-doc size relations are corpus-cardinality — no broadcast hint;
    # AQE broadcasts at test scale, shuffles at history scale.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (fully oracle-checked)
# ---------------------------------------------------------------------------

_DUCK_MINHASH = f"""
    SELECT doc_id, j,
           MIN(((2 * j + 1) * sid + (7919 * j + 1)) % {_P}) AS mh
    FROM ({_DUCK_SHINGLES}) sh
    CROSS JOIN (SELECT unnest(generate_series(0, {_N_HASH - 1})) AS j) perms
    GROUP BY doc_id, j
"""


def _spark_minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh15): 16 minhashes per doc via explicit affine
    permutations over the portable shingle ids.

    Wide form on purpose: 16 `min` aggregates over one pass of the
    shingle stream = map-side partial aggregation and a single shuffle
    whose payload is 16 longs per doc. The alternative (crossJoin with
    a 16-row perm table, then groupBy(doc_id, j)) expands the shingle
    stream 16× before the combine — measurably slower here and strictly
    worse at 100 TB."""
    sh = _spark_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(((2 * j + 1) * F.col("sid") + (7919 * j + 1)) % _P).alias(f"mh{j}")
            for j in range(_N_HASH)
        ]
    )


def _spark_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, j, mh): long-form signature matrix, unpivoted from the
    wide aggregate (stack is a zero-shuffle projection)."""
    wide = _spark_minhash_wide(spark, sf_dir)
    stack = ", ".join(f"{j}L, mh{j}" for j in range(_N_HASH))
    return wide.select(
        "doc_id", F.expr(f"stack({_N_HASH}, {stack}) AS (j, mh)")
    )


@query(
    "minhash_signatures",
    oracle=f"""
    SELECT doc_id, j, mh FROM ({_DUCK_MINHASH}) m
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (doc × 16 permutations), long form."""
    return _spark_minhash(spark, sf_dir)


_DUCK_BANDS = f"""
    SELECT doc_id, j // 4 AS band,
           CONCAT_WS('-',
               MAX(CASE WHEN j % 4 = 0 THEN mh END),
               MAX(CASE WHEN j % 4 = 1 THEN mh END),
               MAX(CASE WHEN j % 4 = 2 THEN mh END),
               MAX(CASE WHEN j % 4 = 3 THEN mh END)) AS band_sig
    FROM ({_DUCK_MINHASH}) m
    GROUP BY doc_id, j // 4
"""


def _spark_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: 4 bands × 4 rows, projected straight off the wide
    signature row — band signatures are deterministic j-order concats
    and the unpivot to (doc_id, band, band_sig) is a stack projection,
    so banding adds zero shuffles on top of the signature aggregate."""
    wide = _spark_minhash_wide(spark, sf_dir)
    sigs = wide.select(
        "doc_id",
        *[
            F.concat_ws(
                "-", *[F.col(f"mh{4 * band + r}").cast("string") for r in range(4)]
            ).alias(f"sig{band}")
            for band in range(_N_HASH // 4)
        ],
    )
    stack = ", ".join(f"{band}L, sig{band}" for band in range(_N_HASH // 4))
    return sigs.select(
        "doc_id", F.expr(f"stack({_N_HASH // 4}, {stack}) AS (band, band_sig)")
    )


@query(
    "lsh_candidate_pairs",
    oracle=f"""
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ({_DUCK_BANDS}) a
    JOIN ({_DUCK_BANDS}) b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on any full band. The
    bucket-join replaces the |docs|² comparison — this is the 100 TB
    near-dup strategy."""
    # Both self-join branches derive bands from the PINNED shingle
    # relation, so the duplicated work is only the (fast, map-combined)
    # minhash aggregate — measured cheaper than forcing an extra cache
    # materialization boundary here (pinning bands cost +0.4s at sf0.1).
    bands = _spark_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "lsh_verified_pairs",
    oracle=f"""
    WITH cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({_DUCK_BANDS}) a
        JOIN ({_DUCK_BANDS}) b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    sh AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
        GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LSH pipeline: candidates from band collisions, then
    exact Jaccard verification (J ≥ 0.5) on candidates only."""
    cand = lsh_candidate_pairs(spark, sf_dir)
    sh = _spark_shingles(spark, sf_dir).select("doc_id", "s")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa_s"))
    b = sh.select(F.col("doc_id").alias("b_doc"), F.col("s").alias("sb_s"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("b_doc")) & (F.col("sa_s") == F.col("sb_s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # Per-doc size relations are corpus-cardinality — no broadcast hint;
    # AQE broadcasts at test scale, shuffles at history scale.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "minhash_jaccard_est",
    oracle=f"""
    WITH cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({_DUCK_BANDS}) a
        JOIN ({_DUCK_BANDS}) b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    mh AS ({_DUCK_MINHASH})
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS DOUBLE)
                 / {_N_HASH}, 6) AS jaccard_est
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b AND ma.j = mb.j
    GROUP BY c.doc_a, c.doc_b
    """,
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-space Jaccard estimate for every LSH candidate pair:
    the fraction of the 16 minhash permutations on which the two docs
    agree (an unbiased estimator of true Jaccard — the MinHash
    property). This is the cheap verification tier a production
    pipeline runs BEFORE exact shingle-intersection verification:
    signatures are 16 longs/doc, so estimating J costs a 16-row zip per
    candidate instead of re-joining the shingle streams; only pairs
    whose estimate clears the threshold go to exact verification
    (lsh_verified_pairs).

    Plan: candidates × wide signatures — two broadcast-able joins on
    doc_id against the 16-long signature rows; agreement is a single
    projection over the zipped signature arrays, no shingle access."""
    cand = lsh_candidate_pairs(spark, sf_dir)
    wide = _spark_minhash_wide(spark, sf_dir)
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        F.array(*[F.col(f"mh{j}") for j in range(_N_HASH)]).alias("sig_a"),
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        F.array(*[F.col(f"mh{j}") for j in range(_N_HASH)]).alias("sig_b"),
    )
    agree = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree.cast("double") / _N_HASH, 6).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@query(
    "simhash32",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({sql_words()}) AS word FROM documents),
    th AS (SELECT doc_id, {sql_md5h('word')} AS h FROM tok),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS weight
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bb
        GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN weight > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over token hashes: bit b of the signature is the
    sign of the multiplicity-weighted vote of bit b across all token
    hashes. Near-dup docs land within small Hamming distance.

    One pass over the token stream: bit b's vote is one of 32 `sum`
    aggregates of ±1 over the same rows, so the whole signature is a
    single map-side-combined shuffle of 32 longs per doc. (A crossJoin
    against a 32-row bit table + groupBy(doc_id, b) computes the same
    thing but expands the token stream 32× before the combine.)

    The scan is spread first on hash(doc_id): the per-token md5 + 32
    vote aggregates are map-side work bounded by the file's split
    count otherwise (tables.spread_narrow_scan; no-op at scale), and
    because the votes group by the SAME key the keyed exchange is the
    groupBy's exchange moved below the tokenize — total exchange count
    unchanged, map work cluster-wide."""
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    docs = spread_narrow_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
        key="doc_id",
        rows_per_task=256,
    )
    tok = docs.select(
        "doc_id",
        F.explode(
            words()
        ).alias("word"),
    )
    th = tok.select("doc_id", F.expr(md5h("word")).alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"w{b}")
            for b in range(32)
        ]
    )
    sig = None
    for b in range(32):
        term = F.when(F.col(f"w{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


# SimHash near-dup pairs: 60-bit signature, pigeonhole block buckets.
#
# 32 bits is enough to *rank* similarity (simhash32 above) but too few
# to *threshold* it on a large corpus: at sf0.01 (500 docs) the 32-bit
# signature already yields 11 random hamming-0 collisions between
# unrelated documents; at 100 TB it would be pure noise. The pair
# query therefore uses a 60-bit signature (all the entropy the
# portable md5-prefix hash carries).
#
# Scale path (pigeonhole): any two signatures within hamming distance
# H=3 agree exactly on at least one of B=4 disjoint 15-bit blocks
# (3 differing bits cannot touch all 4 blocks). Candidate generation
# is therefore a bucket-join on (block_id, block_value) — |candidates|
# is bounded by block-bucket collisions, never |docs|² — followed by
# an exact bit_count(xor) verify. This is the standard production
# SimHash layout (Manku et al., WWW'07 table construction).
_SIMHASH_BITS = 60
_HAM_BLOCKS = 4
_HAM_BLOCK_BITS = _SIMHASH_BITS // _HAM_BLOCKS  # 15
_HAM_MAX = _HAM_BLOCKS - 1  # pigeonhole guarantee: H < B

_DUCK_SIMHASH60 = f"""
    WITH tok AS (
        SELECT doc_id, unnest({sql_words()}) AS word FROM documents),
    th AS (SELECT doc_id, {sql_md5h('word')} AS h FROM tok),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS weight
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS b) bb
        GROUP BY doc_id, b),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN weight > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id)
"""


def _simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) with the 60-bit signature (see simhash32 for
    the one-shuffle vote construction; this just widens 32 → 60).
    Scan spread on hash(doc_id) before the map-side md5 + 60 vote
    aggregates — the keyed exchange IS the vote groupBy's exchange
    moved below the tokenize (tables.spread_narrow_scan; no-op at
    scale)."""
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    docs = spread_narrow_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        "documents",
        key="doc_id",
        rows_per_task=256,
    )
    tok = docs.select(
        "doc_id",
        F.explode(
            words()
        ).alias("word"),
    )
    th = tok.select("doc_id", F.expr(md5h("word")).alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"w{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(_SIMHASH_BITS):
        term = (
            F.when(F.col(f"w{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


@query(
    "simhash_hamming_pairs",
    oracle=f"""
    {_DUCK_SIMHASH60}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAM_MAX}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash: (doc_a, doc_b, hamming) for all
    pairs within hamming distance ≤3 of the 60-bit signature.

    The oracle is the brute-force all-pairs spec; the engine plan is
    the scale path — signatures explode into 4 disjoint 15-bit blocks,
    candidates come from an equi-join on (block_id, block_value)
    (pigeonhole: H=3 < B=4 blocks guarantees no miss), and only
    candidates pay the bit_count(xor) verify. Candidate volume is
    bounded by bucket collisions (32k distinct values per block), not
    |docs|²; on a real corpus hot buckets are exact-dup clusters whose
    pair listing is the requested output anyway.

    The signature relation is PINNED: it feeds both sides of the
    block-bucket self-join, and unpinned each side replays the full
    tokenize + 60-bit vote aggregate over the corpus (two text scans —
    the one genuinely expensive pass here; the signatures themselves
    are doc-grain, 16 bytes/row)."""
    from mapreduce_wordcounter_spark.session import pin

    sig = pin(_simhash60(spark, sf_dir))
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.expr(
                            f"(simhash >> {i * _HAM_BLOCK_BITS})"
                            f" & {(1 << _HAM_BLOCK_BITS) - 1}"
                        ).alias("block_val"),
                    )
                    for i in range(_HAM_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.block_id") == F.col("b.block_id"),
                F.col("a.block_val") == F.col("b.block_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()  # a pair sharing k blocks appears k times
    )
    return cand.filter(
        F.expr(f"bit_count(sig_a ^ sig_b) <= {_HAM_MAX}")
    ).select(
        "doc_a",
        "doc_b",
        F.expr("cast(bit_count(sig_a ^ sig_b) as bigint)").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the verified pairs
# ---------------------------------------------------------------------------

_DUCK_JACCARD_PAIRS = ORACLE["jaccard_near_dup_pairs"]


def cc_two_phase(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """(doc_id, canonical_id, is_canonical) via alternating LARGE-STAR
    / SMALL-STAR (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the O(log²n)-ROUND connected components.
    The min-label loop (connected_components below) converges in
    O(component diameter) rounds: right for shallow near-dup clusters,
    wrong for chain-heavy graphs (follower chains, citation paths)
    where diameter ∝ n. The star operations square away diameter
    instead of peeling it:

    - LARGE-STAR per node u over the symmetric neighborhood Γ(u):
      emit (v, min(Γ(u) ∪ {u})) for every v ∈ Γ(u) with v > u;
    - SMALL-STAR per node u over its strictly-smaller neighbors N(u):
      emit (u, min N(u)) and (v, min N(u)) for the rest of N(u).

    Each phase is ONE groupBy-min over the edge list joined back onto
    it (edge-grain work, no per-node state), per-round results are
    localCheckpoint()ed, and convergence is read from an order-free
    per-round signature (edge count + sum of per-edge hashes — one
    scalar job, never an edge-set diff join). At the fixpoint the edge
    set IS the star forest (v → component minimum), so labels are read
    off directly. Raises if ``max_rounds`` passes without convergence
    — the chain-graph pytest pins the round bound the algorithm
    exists for."""
    E = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        E.select(F.col("a").alias("doc_id"))
        .union(E.select(F.col("b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    converged = E.isEmpty()
    for _ in range(max_rounds):
        if converged:
            break
        sym = E.union(
            E.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        gm = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(gm, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star input: orient big -> small (large-star output
        # already is, but normalize so the phase is self-contained)
        d = large.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        g2 = d.groupBy("a").agg(F.min("b").alias("m"))
        e_new = (
            g2.select("a", F.col("m").alias("b"))
            .union(
                d.join(g2, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # hash sum in decimal(38,0): full-range int64 hashes overflow
        # a long sum under ANSI mode; the decimal sum is exact
        sig = e_new.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        E = e_new
        if prev_sig == (sig["n"], sig["h"]):
            converged = True
        prev_sig = (sig["n"], sig["h"])
    if not converged:
        raise RuntimeError(
            f"cc_two_phase did not converge in {max_rounds} rounds"
        )
    labels = nodes.join(
        E.select(F.col("a").alias("doc_id"), F.col("b").alias("label")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("canonical_id"),
    )
    return labels.select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(doc_id, canonical_id, is_canonical) labels for the graph given
    as an edge list ``(doc_a, doc_b)`` — iterative min-label
    propagation (the MapReduce connected-components construction).

    Every node starts as its own label; each round joins labels across
    the symmetrized edge list and keeps the minimum seen; converges in
    O(component diameter) rounds — near-dup clusters are shallow
    (diameter ≤ a few hops), so 3-4 rounds in practice, capped
    defensively. Each round is one shuffle join + one groupBy min, all
    keyed on doc_id. The driver loop only reads a scalar convergence
    count per round (no data collected); per-round results are
    localCheckpoint()ed to truncate lineage, the standard guard for
    iterative DataFrame algorithms.

    Shared by the shingle-Jaccard pipeline (dedup_components_canonical)
    and the embedding-cosine pipeline (semantic_dedup_components in
    similarity.py) — the edge source is the only difference."""
    # Persist the edge list BEFORE symmetrizing: the union's two
    # branches read the same relation, and without the cache each
    # branch would recompute the (potentially expensive) upstream
    # pair-generation pipeline once.
    edges = edges.persist()
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # cap >> any real near-dup component diameter
        neighbor_min = (
            sym.join(labels, sym.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the convergence flag INSIDE the checkpointed relation:
        # `chg` is true iff the neighbor min improved this node's label,
        # so the changed-count is a trivial scan of the (tiny, already
        # materialized) label table instead of a join against the
        # previous round — one fewer job per iteration.
        new_label = F.least("label", F.coalesce("nbr_label", F.col("label")))
        tagged = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                new_label.alias("label"),
                (new_label < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = tagged.filter(F.col("chg")).count()
        labels = tagged.select("doc_id", "label")
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    return labels.select(
        "doc_id",
        F.col("label").alias("canonical_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


@query(
    "dedup_components_canonical",
    oracle=f"""
    WITH RECURSIVE
    edges AS (SELECT doc_a AS a, doc_b AS b FROM ({_DUCK_JACCARD_PAIRS}) jp),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    nodes AS (SELECT DISTINCT a FROM sym),
    reach(src, dst) AS (
        SELECT a, a FROM nodes
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
    SELECT src AS doc_id, MIN(dst) AS canonical_id,
           CAST(src = MIN(dst) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY src
    """,
)
def dedup_components_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the verified
    Jaccard pairs, each doc labeled with its component's minimum doc_id
    as the canonical representative — the "keep one per duplicate
    cluster" step that follows pair generation in a training-data
    dedup pipeline (pairs alone over-delete: A~B, B~C must collapse to
    ONE canonical even when A~C wasn't emitted).

    Algorithm + scale posture: see :func:`connected_components` (the
    shared iterative min-label loop). The oracle states the same
    fixpoint declaratively as a recursive CTE — DuckDB can afford
    transitive closure at test scale; the iterative form is what runs
    at 10^9 docs.

    Like the LPA community labels (graph.py), the component labeling
    is an artifact AT REST as of round 5 — and a persistent CATALOG
    artifact as of round 9 (sources/index_catalog.py): the iterative
    loop runs once per source fingerprint, survives session restart,
    and consumers (this query, dedup_cluster_sizes,
    dedup_keep_best_quality) read the label table from the published
    parquet — replaying a convergence loop per consumer was pure
    recompute. The oracle still replays the fixpoint, keeping at-rest
    content differentially verified."""
    return _components_at_rest(spark, sf_dir)


def _components_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The component-label relation as a CATALOG artifact (r9): keyed
    on the documents table's fingerprint, published once, reused
    across SparkSessions (sources/index_catalog.py)."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(data: str) -> None:
        edges = jaccard_near_dup_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        connected_components(edges).write.parquet(data + "/labels")

    rel = ic.table_index(
        spark,
        "dedup_comp",
        [_os.path.join(sf_dir, "documents.parquet")],
        None,
        build,
        ["labels"],
    )
    return rel["labels"]


# ---------------------------------------------------------------------------
# Incremental / cross-snapshot dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_incremental_new",
    oracle="""
    SELECT d.doc_id, sha256(d.text) AS content_hash
    FROM documents d
    WHERE d.doc_id % 3 = 0
      AND NOT EXISTS (SELECT 1 FROM documents b
                      WHERE b.doc_id % 3 <> 0
                        AND sha256(b.text) = sha256(d.text))
    """,
)
def dedup_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the production shape of daily
    corpus ingestion: yesterday's survivor set is *at rest* as a table
    bucketed on content_hash; today's batch anti-joins against it and
    only hashes never seen before survive. Here the snapshot split is
    deterministic (doc_id % 3: ≠0 = already-ingested base, =0 = today's
    increment) so the result is oracle-checkable.

    Scale posture: the base snapshot (the ~100 TB side, accumulated
    history) is pre-bucketed on the join key, so the anti-join plans
    ZERO exchanges on that side — only today's (small) increment
    shuffles to match the bucketing, and the new survivors can be
    appended to the same bucketed layout for tomorrow. Pinned at plan
    time by tests/test_sources.py::test_incremental_dedup_base_no_exchange.
    (At sf0.01 Catalyst would rightly broadcast the base instead; the
    plan test forces the sort-merge path a real history-sized base
    would take.)"""
    docs = load_table(spark, sf_dir, "documents")
    table = write_base_snapshot(spark, sf_dir)
    today = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    return today.join(spark.table(table), "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


def write_base_snapshot(spark: SparkSession, sf_dir: str) -> str:
    """Write the base-snapshot survivor set (distinct content_hash of
    the doc_id % 3 ≠ 0 docs) as a content_hash-bucketed external table
    in a scratch dir; returns the table name. Shared by the batch
    (dedup_incremental_new) and streaming (stream_incremental_dedup)
    increment-dedup paths — in production this is the persistent,
    append-per-day survivor table."""
    import os
    import uuid

    from mapreduce_wordcounter_spark.session import (
        register_scratch_table,
        scratch_dir,
    )
    from mapreduce_wordcounter_spark.sources.writers import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.sha2("text", 256).alias("content_hash"))
        .distinct()
    )
    table = register_scratch_table("dedup_base_" + uuid.uuid4().hex[:8])
    write_bucketed_table(
        base,
        table,
        ["content_hash"],
        8,
        sort_by=["content_hash"],
        path=os.path.join(scratch_dir("incr_dedup_"), table),
    )
    return table


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window of consecutive 3-gram hashes per fingerprint


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                   i -> ({sql_md5h("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}) % {_P}) AS hs
        FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d
        WHERE len(t) >= 3)
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(hs) - {_WINNOW_W - 1}, 1)),
                                 j -> list_min(hs[j:j+{_WINNOW_W - 1}]))) AS fp
    FROM h
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm): slide
    a window of {_WINNOW_W} consecutive 3-gram rolling hashes and keep
    each window's minimum — the selected fingerprints GUARANTEE that
    any shared run of ≥ window+gram tokens between two documents shares
    at least one fingerprint, at a fraction of the full shingle set.
    The sparse fingerprint index is what plagiarism/near-dup systems
    store instead of every shingle; matching docs is then an equi-join
    on fp (the same bucket-join shape as every candidate generator
    here).

    Positional hashes (not the deduped shingle set — winnowing is
    order-sensitive) via the portable md5 fragment; window minima are
    doc-local array ops, so the whole selection is a per-row projection
    with one explode — no shuffle until a consumer aggregates. Short
    documents (fewer grams than the window) emit their global min, the
    standard boundary rule."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        words().alias("t"),
    ).filter(F.size("t") >= 3)
    gram = "concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2))"
    hashes = F.expr(
        f"transform(sequence(1, size(t) - 2), i -> ({md5h(gram)}) % {_P})"
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {_WINNOW_W - 1}, 1)),"
        f" j -> array_min(slice(hs, j, {_WINNOW_W}))))"
    )
    return toks.withColumn("hs", hashes).select(
        "doc_id", F.explode(fps).alias("fp")
    )


@query(
    "winnowing_match_pairs",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                   i -> ({sql_md5h("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}) % {_P}) AS hs
        FROM (SELECT doc_id, {sql_words()} AS t FROM documents) d
        WHERE len(t) >= 3),
    fp AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(hs) - {_WINNOW_W - 1}, 1)),
                                     j -> list_min(hs[j:j+{_WINNOW_W - 1}]))) AS fp
        FROM h)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def winnowing_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of the winnowing index: document pairs sharing ≥ 3
    selected fingerprints — how MOSS-style systems surface candidate
    matches. The equi-join runs on the SPARSE fingerprint set (~2.6×
    smaller than the shingle set here; the gap widens with window
    size), so candidate generation costs a fraction of the full
    shingle self-join while the winnowing guarantee bounds what it can
    miss."""
    fp = winnowing_fingerprints(spark, sf_dir)
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup (the RefinedWeb/C4 unit)
# ---------------------------------------------------------------------------
#
# Document-level dedup (dedup_exact) misses the dominant duplication
# mode of web corpora: repeated paragraphs (boilerplate, quoted posts,
# syndicated fragments) inside otherwise-distinct documents. The
# RefinedWeb/C4 pass removes the duplicated PARAGRAPH occurrences and
# keeps the first, corpus-wide.
#
# Paragraph unit here: documents are split on newline into trimmed
# non-empty lines (the gopher_repetition machinery); because this
# synthetic corpus is single-line, each line is further segmented into
# fixed _PARA_TOKENS-token windows — the standard fallback
# segmentation for unsegmented text (OCR output, crawl text with
# stripped markup). With real multi-line documents the line split does
# the work and long lines still get bounded segments; both levels are
# expressed identically in the oracle.
#
# Scale: segmentation is a per-row array projection; "first occurrence
# corpus-wide" is ONE shuffle on the (uniform, 128-bit) paragraph md5 —
# exact dedup's profile at paragraph grain — and the per-doc survival
# rollup shuffles doc-id-sized data. Position keys pack
# (doc_id, line_no, seg_no) into one BIGINT so the arg-min is a plain
# MIN; the packing bound (line_no, seg_no < 100000) is asserted in
# tests/test_paragraph_dedup.py against the corpus and holds for any
# document under 100k lines / 2.5M tokens-per-line.

_PARA_TOKENS = 25  # tokens per fallback segment for unsegmented lines
_POS_PACK = 100_000  # per-level capacity of the packed position key

_DUCK_PARAGRAPHS = f"""
    SELECT doc_id,
           (line_no - 1) * {_POS_PACK} + seg_no AS pos_in_doc,
           seg
    FROM (
        SELECT doc_id, line_no,
               unnest(list_transform(generate_series(1, len(t), {_PARA_TOKENS}),
                      i -> array_to_string(list_slice(t, i, i + {_PARA_TOKENS - 1}), ' '))) AS seg,
               unnest(generate_series(1, greatest((len(t) + {_PARA_TOKENS - 1}) // {_PARA_TOKENS}, 0))) AS seg_no
        FROM (
            SELECT doc_id, line_no,
                   {sql_words("line")} AS t
            FROM (
                SELECT doc_id,
                       unnest(list_filter(list_transform(string_split(text, chr(10)),
                                                         s -> trim(s)), s -> s <> '')) AS line,
                       unnest(generate_series(1, len(list_filter(list_transform(
                           string_split(text, chr(10)), s -> trim(s)), s -> s <> '')))) AS line_no
                FROM documents) lines) toks
        WHERE len(t) > 0) segs
    WHERE seg <> ''
"""


def paragraph_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, pos_in_doc, seg): the trimmed-line → bounded-token-
    window segmentation described in the module note — shared by
    dedup_paragraphs and the C4-style line filter (text.py), and the
    exact Spark mirror of _DUCK_PARAGRAPHS."""
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    with_lines = docs.select(
        "doc_id", F.posexplode(lines).alias("line_idx", "line")
    ).select(
        "doc_id",
        (F.col("line_idx") + 1).alias("line_no"),
        words("line").alias("t"),
    ).filter(F.size("t") > 0)
    segs_arr = F.expr(
        f"transform(sequence(1, size(t), {_PARA_TOKENS}),"
        f" i -> array_join(slice(t, i, {_PARA_TOKENS}), ' '))"
    )
    return (
        with_lines.select(
            "doc_id", "line_no", F.posexplode(segs_arr).alias("seg_idx", "seg")
        )
        .filter(F.col("seg") != "")
        .select(
            "doc_id",
            (
                (F.col("line_no") - 1) * _POS_PACK + F.col("seg_idx") + 1
            ).alias("pos_in_doc"),
            "seg",
        )
    )


@query(
    "dedup_paragraphs",
    oracle=f"""
    WITH para AS ({_DUCK_PARAGRAPHS}),
    keyed AS (
        SELECT doc_id, seg,
               doc_id * {_POS_PACK * _POS_PACK} + pos_in_doc AS pos_key
        FROM para),
    first_pos AS (
        SELECT doc_id, pos_key,
               MIN(pos_key) OVER (PARTITION BY md5(seg)) AS min_pos
        FROM keyed)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN pos_key = min_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(CAST(SUM(CASE WHEN pos_key = min_pos THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS kept_frac
    FROM first_pos
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level corpus dedup: keep each paragraph's FIRST
    occurrence corpus-wide (ordered by packed (doc_id, line, segment)
    position), report per-document paragraph count, survivors, and
    surviving fraction — the RefinedWeb/C4 remove-duplicated-paragraphs
    pass reduced to its audit record. The surviving-text projection is
    the same relation filtered to pos_key = min_pos before re-joining
    segments; the audit shape keeps the oracle total-order-free.

    Plan: per-row line split + tokenize + window segmentation (no
    shuffle), one exchange on md5(seg) for the window MIN (uniform
    256-bit-derived key, no skew), one doc_id rollup. See module note
    for the segmentation semantics and SCALE.md §4 for the 100 TB
    posture."""
    para = paragraph_relation(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window as W

    pos_key = F.col("doc_id") * (_POS_PACK * _POS_PACK) + F.col("pos_in_doc")
    keyed = para.select("doc_id", "seg", pos_key.alias("pos_key"))
    first_pos = keyed.select(
        "doc_id",
        "pos_key",
        F.min("pos_key").over(W.partitionBy(F.md5("seg"))).alias("min_pos"),
    )
    kept = F.sum(F.when(F.col("pos_key") == F.col("min_pos"), 1).otherwise(0))
    return first_pos.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paragraphs"),
        kept.cast("long").alias("n_kept"),
        F.round(kept.cast("double") / F.count("*"), 6).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (character-window grain)
# ---------------------------------------------------------------------------
#
# The exact-substring pass of "Deduplicating Training Data Makes
# Language Models Better" (Lee et al. 2022) removes any character span
# that occurs verbatim elsewhere in the corpus. The paper builds a
# suffix array; the distributed equivalent here samples fixed-width
# character windows on a stride (every duplicated region >= _SPAN_W +
# _SPAN_STRIDE chars is guaranteed to contain at least one aligned
# duplicated window, so window-grain detection bounds span-grain
# recall), hashes each window, and keeps the corpus-wide first
# occurrence — the paragraph-dedup profile at character grain.
#
# Scale: window extraction is a per-row projection (bounded fan-out:
# len/stride windows per doc); the only corpus-scale exchange is the
# window-hash shuffle for the COUNT/MIN — uniform 128-bit-derived key,
# no skew. Position keys pack (doc_id, char_pos) into one BIGINT
# (char_pos < 1e6: documents over a million characters should be
# chunked upstream — mm_chunk_dedup's posture).

_SPAN_W = 40  # window width (chars)
_SPAN_STRIDE = 10  # stride between window starts
_SPAN_PACK = 1_000_000  # per-doc capacity of the packed position key


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, i AS win_pos, substring(lower(text), i, {_SPAN_W}) AS span
        FROM documents,
             LATERAL (SELECT unnest(generate_series(
                 1, len(lower(text)) - {_SPAN_W - 1}, {_SPAN_STRIDE})) AS i) g
        WHERE len(lower(text)) >= {_SPAN_W}),
    k AS (
        SELECT doc_id,
               doc_id * {_SPAN_PACK} + win_pos AS pos_key,
               COUNT(*) OVER (PARTITION BY md5(span)) AS cnt,
               MIN(doc_id * {_SPAN_PACK} + win_pos)
                   OVER (PARTITION BY md5(span)) AS min_pos
        FROM w)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST(SUM(CASE WHEN pos_key <> min_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           ROUND(CAST(SUM(CASE WHEN pos_key <> min_pos THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_frac
    FROM k GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup audit: strided {_SPAN_W}-char windows
    over the normalized text, duplicated corpus-wide iff the identical
    window occurs anywhere else (including the same document); keep the
    first occurrence by packed (doc_id, char_pos). Per document:
    window count, windows duplicated anywhere, non-first occurrences
    (what span-removal would cut), and the removed fraction. The
    removal projection is the span set at pos_key = min_pos merged back
    by position; the audit shape keeps the oracle order-free."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    norm = "lower(text)"
    spans = F.expr(
        f"transform(sequence(1, length({norm}) - {_SPAN_W - 1}, {_SPAN_STRIDE}),"
        f" i -> substring({norm}, i, {_SPAN_W}))"
    )
    w = (
        docs.filter(F.length(F.expr(norm)) >= _SPAN_W)
        .select("doc_id", F.posexplode(spans).alias("win_idx", "span"))
        .select(
            "doc_id",
            (F.lit(1) + F.col("win_idx") * _SPAN_STRIDE).alias("win_pos"),
            "span",
        )
    )
    pos_key = F.col("doc_id") * _SPAN_PACK + F.col("win_pos")
    wh = W.partitionBy(F.md5("span"))
    k = w.select(
        "doc_id",
        pos_key.alias("pos_key"),
        F.count("*").over(wh).alias("cnt"),
        F.min(pos_key).over(wh).alias("min_pos"),
    )
    removed = F.sum(F.when(F.col("pos_key") != F.col("min_pos"), 1).otherwise(0))
    return k.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
        removed.cast("long").alias("n_removed"),
        F.round(removed.cast("double") / F.count("*"), 6).alias("dup_frac"),
    )


@query(
    "dedup_cluster_sizes",
    oracle="""
    WITH comp AS ({comp})
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY canonical_id) c
    GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup QA dashboard number
    (a long tail of giant clusters means boilerplate or a broken
    shingle config; healthy corpora show mostly 2-3-doc clusters).
    Composes the audited connected-components labeling; two
    constant-output aggregates on top.

    Scale: groupBy canonical_id over the label relation (one row per
    clustered doc), then a histogram over cluster counts."""
    comp = dedup_components_canonical(spark, sf_dir)
    sizes = comp.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )


from mapreduce_wordcounter_spark.registry import ORACLE as _ORACLE_D  # noqa: E402

_ORACLE_D["dedup_cluster_sizes"] = _ORACLE_D["dedup_cluster_sizes"].format(
    comp=_ORACLE_D["dedup_components_canonical"]
)


@query(
    "lsh_containment_pairs",
    oracle=f"""
    WITH cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({_DUCK_BANDS}) a
        JOIN ({_DUCK_BANDS}) b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    sh AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
        GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_common AS DOUBLE) / sa.n, 6) AS containment_ab,
           ROUND(CAST(n_common AS DOUBLE) / sb.n, 6) AS containment_ba
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.8
       OR CAST(n_common AS DOUBLE) / sb.n >= 0.8
    """,
)
def lsh_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric Jaccard) verification on the LSH
    candidates: |A∩B|/|A| and |A∩B|/|B| — the detector for
    NEAR-SUPERSET duplication (a document wholly embedded in a longer
    one), which symmetric Jaccard under-scores precisely when the size
    ratio is large. Pairs where either direction ≥ 0.8 survive; a
    production pass drops the contained (smaller) side.

    Scale: identical plan to lsh_verified_pairs (candidates from band
    collisions, exact set intersection only on candidates) — the
    verify metric is the only change. Caveat shared with all
    MinHash-LSH recall arguments: candidates are recalled by
    symmetric-Jaccard banding, so extreme-ratio containments may not
    be candidates at all; dedicated containment search would band
    over bottom-k sketches instead."""
    cand = lsh_candidate_pairs(spark, sf_dir)
    sh = _spark_shingles(spark, sf_dir).select("doc_id", "s")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa_s"))
    b = sh.select(F.col("doc_id").alias("b_doc"), F.col("s").alias("sb_s"))
    inter = (
        cand.join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("b_doc"))
            & (F.col("sa_s") == F.col("sb_s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    c_ab = F.col("n_common").cast("double") / F.col("na")
    c_ba = F.col("n_common").cast("double") / F.col("nb")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((c_ab >= 0.8) | (c_ba >= 0.8))
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 6).alias("containment_ab"),
            F.round(c_ba, 6).alias("containment_ba"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------


# Adaptive regime switch (VERDICT r8 #3): estimated candidate pairs
# per document above which the exact prefix join escalates to the
# banded-LSH verified-pairs plan. Calibration on this corpus family:
# distinct corpora sit at ~3 (sf0.01) to ~86 (sf0.1) candidates/doc
# and are scale-invariant under a vocabulary-disjoint 10x blow-up,
# while a 10x-replica (duplicate-heavy) corpus measures ~150+ and
# grows linearly with the duplication factor — the two regimes are
# separated by the threshold with margin on both sides.
_PREFIX_MASS_PER_DOC_MAX = 120.0

# (strategy, mass_per_doc, n_docs) per (applicationId, sf_dir) — the
# estimate is deterministic per corpus, so serving calls after the
# first skip the two estimate aggregates.
_JACCARD_STRATEGY: dict[tuple[str, str], tuple[str, float, int]] = {}


def jaccard_pairs_strategy(spark: SparkSession, sf_dir: str) -> dict:
    """Size-adaptive strategy pick for exact-Jaccard pair search (the
    orders_rfm_segments pattern applied to dedup): estimate the prefix
    self-join's candidate mass — Σ_s C(df_prefix(s), 2), one cheap
    map-combined aggregate over the (pinned) prefix relation, no pair
    is ever generated — and choose:

    - ``prefix``: the lossless AllPairs/PPJoin plan (exact);
    - ``lsh``: the banded-MinHash verified-pairs plan, when the
      estimate exceeds ``_PREFIX_MASS_PER_DOC_MAX`` candidates/doc —
      the duplicate-heavy regime where exact prefix filtering is
      candidate-quadratic (PREFIX_JOIN_DECOMP: replica x10 grew
      candidates x102, wall x40) and a real crawl's dedup pass must
      bound its own cost.

    Returns {"strategy", "mass_per_doc", "n_docs", "parts"}; the pin
    on the prefix relation is reused by both sides of the candidate
    self-join when the prefix plan runs. The (strategy, mass) pair is
    deterministic per corpus, so it is memoized per (session, sf_dir)
    — repeated serving calls skip the estimate aggregates."""
    from mapreduce_wordcounter_spark.session import pin

    parts = _prefix_join_parts(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _JACCARD_STRATEGY.get(key)
    if cached is not None:
        strategy, mass_per_doc, n_docs = cached
        if strategy == "prefix":
            pin(parts["prefix"])  # still reused by both join sides
        return {
            "strategy": strategy,
            "mass_per_doc": mass_per_doc,
            "n_docs": n_docs,
            "parts": parts,
        }
    prefix = pin(parts["prefix"])
    mass = (
        prefix.groupBy("s")
        .agg(F.count("*").alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / F.lit(2.0)).alias("mass")
        )
        .collect()[0]["mass"]
        or 0.0
    )
    n_docs = prefix.select("doc_id").distinct().count()
    mass_per_doc = mass / max(n_docs, 1)
    strategy = (
        "prefix" if mass_per_doc <= _PREFIX_MASS_PER_DOC_MAX else "lsh"
    )
    _JACCARD_STRATEGY[key] = (strategy, mass_per_doc, n_docs)
    return {
        "strategy": strategy,
        "mass_per_doc": mass_per_doc,
        "n_docs": n_docs,
        "parts": parts,
    }


@query("jaccard_prefix_join", oracle=_DUCK_JACCARD_PAIRS)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs with a SIZE-ADAPTIVE strategy (VERDICT
    r8 #3). Default plan: EXACT prefix filtering — the AllPairs/PPJoin
    construction (Bayardo et al., WWW'07; public literature): order
    every document's shingles by a global rarity order (ascending
    document frequency, shingle id as the total-order tie-break), keep
    only each document's first |d| - ceil(tau*|d|) + 1 shingles (the
    "prefix"), and generate candidates from the PREFIX self-join only.
    Any pair with J >= tau shares at least ceil(tau*max(|a|,|b|))
    shingles, so it MUST collide inside the prefixes — the filter is
    lossless. On top of the prefix collision, PPJoin's length filter
    (tau <= |b|/|a| <= 1/tau) and positional filter (the matched
    ranks bound the achievable overlap) prune pairs inside the join
    itself — both lossless integer predicates, measured ~6x fewer
    candidates reaching verification on this corpus.

    The exact plan's weakness is duplicate-HEAVY corpora — exactly
    where dedup runs in production: N copies of a document put the
    same rare shingles in N prefixes, so candidates grow ~N² per
    duplicated doc (PREFIX_JOIN_DECOMP: replica x10 → candidates x102,
    wall x40). The adaptive guard (jaccard_pairs_strategy) estimates
    candidate mass from the prefix-token frequency relation — one
    cheap aggregate, no pair generated — and escalates to the
    banded-LSH verified-pairs plan (probabilistic recall, exponent
    0.69 at x10) past _PREFIX_MASS_PER_DOC_MAX candidates/doc. Both
    regimes are pinned in tests/test_dedup_adaptive.py. The PURE exact
    plan stays available as jaccard_near_dup_pairs / _prefix_join_parts
    (lsh_recall_vs_exact audits against it, never the adaptive pick).

    The oracle replays the exact construction: the driver's sf0.01
    corpus is distinct-regime (~3 candidates/doc, 37x under the
    threshold), so the oracle-checked path is the exact plan.

    Scale (prefix regime): df-counts are one map-combined groupBy;
    prefix extraction is one window per doc (shuffle on doc_id); the
    candidate join is an equi-join on rare shingles whose fan-out is
    bounded by rare-df collisions (Σ df_prefix² ≪ Σ df²);
    verification joins candidate pairs back to the (pinned) shingle
    relation — work ∝ candidates, never all-pairs. Measured
    (SCALE.md §"prefix-join decomposition"): on a 10x corpus of
    DISTINCT docs, candidates, output and wall-clock all grow
    ~linearly."""
    pick = jaccard_pairs_strategy(spark, sf_dir)
    if pick["strategy"] == "lsh":
        return lsh_verified_pairs(spark, sf_dir)
    return pick["parts"]["pairs"]


def _prefix_join_parts(spark: SparkSession, sf_dir: str) -> dict:
    """The prefix-join pipeline with its stages exposed (shingles ->
    prefix -> candidates -> verified pairs), so the scale harness can
    decompose candidate growth from output growth without duplicating
    the operator (tools/prefix_join_decompose.py)."""
    from pyspark.sql import Window as W

    sh = _spark_shingles(spark, sf_dir).select("doc_id", "s")
    # r13 (guide §2.4 share one exchange): df-counts and per-doc sizes
    # as WINDOW sums instead of groupBy+join-back — dfc rides one
    # exchange on s (the former plan shuffled sh AND the vocab-sized
    # aggregate into a sort-merge join), and n shares the rn window's
    # doc_id exchange — 2 exchanges and one pass over the shingle
    # relation where the r12 plan used ~5 exchanges and three passes.
    ranked = (
        sh.withColumn("dfc", F.count("*").over(W.partitionBy("s")))
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("dfc", "s")
            ),
        )
    )
    # tau = 0.5: ceil(n/2) = (n+1) div 2, so prefix = n - ceil(n/2) + 1
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(n + 1) div 2") + 1
    ).select("doc_id", "s", "rn", "n")
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "s",
        F.col("rn").alias("rn_a"),
        F.col("n").alias("pna"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "s",
        F.col("rn").alias("rn_b"),
        F.col("n").alias("pnb"),
    )
    # PPJoin's two lossless pair-level prunes on top of the prefix
    # collision (both pure integer predicates evaluated inside the
    # join, BEFORE the distinct — on shared-vocabulary corpora they
    # cut the candidate set ~6x):
    #  - length filter: J >= tau forces tau <= |b|/|a| <= 1/tau;
    #  - positional filter: a token matched at prefix ranks (rn_a,
    #    rn_b) bounds the overlap above by min(na-rn_a, nb-rn_b)+1,
    #    which must reach minoverlap = ceil(tau/(1+tau)*(na+nb))
    #    = ceil((na+nb)/3) at tau = 0.5.
    cand = (
        pa.join(pb, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("pnb") * 2 >= F.col("pna"))
            & (F.col("pna") * 2 >= F.col("pnb"))
            & (
                F.least(
                    F.col("pna") - F.col("rn_a"), F.col("pnb") - F.col("rn_b")
                )
                + 1
                >= F.expr("(pna + pnb + 2) div 3")
            )
        )
        .select("doc_a", "doc_b", F.col("pna").alias("na"), F.col("pnb").alias("nb"))
        .distinct()
    )
    # verify: true intersection for candidate pairs only. na/nb RIDE
    # THROUGH the candidate join (pna IS doc_a's full shingle count —
    # the prefix rows keep n): the r12 plan re-joined the sizes
    # aggregate twice at the end, two more exchanges for values the
    # candidates already carried (guide §1.2: don't recompute what you
    # have).
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b2"), F.col("s").alias("s_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("s_a") == F.col("s_b")),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    pairs = (
        inter.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return {"shingles": sh, "prefix": prefix, "cand": cand, "pairs": pairs}


def _exact_pairs_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact J >= 0.5 pair set as a CATALOG artifact (the
    trigram-index pattern, sources/index_catalog.py — VERDICT r10 #6):
    the prefix-join construction is an OFFLINE build paid once per
    corpus fingerprint, and every recall audit after that reprices
    against the at-rest relation instead of recomputing the exact side
    per run. A changed corpus invalidates through the fingerprint; the
    DuckDB oracle replays the construction from scratch, keeping the
    at-rest content differentially verified exactly like the trigram
    posting index."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(data: str) -> None:
        _prefix_join_parts(spark, sf_dir)["pairs"].write.parquet(
            data + "/pairs"
        )

    rel = ic.table_index(
        spark,
        "exact_pairs",
        [_os.path.join(sf_dir, "documents.parquet")],
        {"tau": "0.5"},
        build,
        ["pairs"],
    )
    return rel["pairs"]


@query(
    "lsh_recall_vs_exact",
    oracle="""
    WITH exact AS ({e}),
    lsh AS ({l}),
    hits AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM exact e JOIN lsh l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
    SELECT n_hits, n_exact,
           ROUND(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall
    FROM hits CROSS JOIN tot
    """,
)
def lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous recall audit of the probabilistic dedup tier against
    the EXACT tier (the ann_ivf_recall pattern applied to dedup): what
    fraction of true J >= 0.5 pairs does the banded-MinHash pipeline
    recover? Before round 5 the exact reference was the quadratic
    all-pairs baseline — affordable only offline; jaccard_prefix_join
    makes the exact side a scale path too, so this audit can run at
    production cadence (the number every LSH parameter choice — bands
    x rows — is tuned against).

    Scale: both sides are verified-pair relations (candidates only,
    never all-pairs); the audit join is pair-grain and the scalars are
    1-row. The exact side is the PURE prefix-join plan (not the
    adaptive serving entry, which may itself pick LSH on
    duplicate-heavy corpora — an audit comparing LSH to LSH would be
    vacuous), served AT REST since r11 (VERDICT r10 #6): the
    construction is paid once per corpus fingerprint in the catalog
    (_exact_pairs_at_rest) and the per-run audit cost is one pair-grain
    parquet read + the LSH side."""
    exact = _exact_pairs_at_rest(spark, sf_dir).select("doc_a", "doc_b")
    lsh = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    tot = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    return hits.crossJoin(F.broadcast(tot)).select(
        "n_hits",
        "n_exact",
        F.round(F.col("n_hits").cast("double") / F.col("n_exact"), 6).alias(
            "recall"
        ),
    )


ORACLE["lsh_recall_vs_exact"] = ORACLE["lsh_recall_vs_exact"].format(
    e=ORACLE["jaccard_prefix_join"], l=ORACLE["lsh_verified_pairs"]
)
