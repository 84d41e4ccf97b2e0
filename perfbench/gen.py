"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet (plus plain text for the
corpus) into a directory the engine reads as its ``sf_dir``:

- :func:`write_tables` -- the ten engine tables (TPC-H-shaped
  ``region nation customer supplier part orders lineitem`` plus
  ``events documents embeddings``) with the column types and value
  ranges of the engine's standard test corpus, scaled by ``sf``
  (sf 0.01 = 60k lineitem rows).
- :func:`write_corpus` -- a Zipf-distributed word-count corpus, written
  twice with identical tokens: fifteen plain-text files ``a`` .. ``o``
  (the word counter's file input) and a multi-file ``documents.parquet``
  dataset (one row per paragraph).

The same seed gives byte-identical files. Nothing here imports Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DOC_WORDS = (
    "a the row key value table part hash agg scan slow fast merge batch "
    "spark line sort window join order data column query big small stream "
    "filter group customer vector"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _us(ts: np.ndarray) -> np.ndarray:
    return ts.astype("datetime64[us]")


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return _us(lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]"))


def _doc_texts(rng, n: int) -> list[str]:
    """Short space-joined documents over a small fixed vocabulary, plus
    a few exact and near duplicates so the dedup family has work."""
    lens = rng.integers(8, 90, n)
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in range(0, n, 60):  # every 60th doc repeats an earlier one
        j = int(rng.integers(0, max(i, 1)))
        texts[i] = texts[j] if i % 120 == 0 else texts[j] + " stream"
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten engine tables at scale ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(
        pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        p("region"),
    )
    _write(
        pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        p("nation"),
    )
    _write(
        pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }),
        p("customer"),
    )
    _write(
        pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        p("supplier"),
    )
    adj = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
    _write(
        pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        p("part"),
    )
    _write(
        pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        p("orders"),
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(
        pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
        p("lineitem"),
    )
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(month_us, n_ev, replace=False))
    _write(
        pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        p("events"),
    )
    texts = _doc_texts(rng, n_docs)
    _write(
        pd.DataFrame({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        p("documents"),
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, p("embeddings"))


# Letters for the corpus vocabulary, ASCII listed twice so most words
# are mostly ASCII. Every uppercase letter here has a single
# context-free lowercase form in both Java and DuckDB (no final sigma,
# no dotted I), so tokens agree across engines.
_LETTERS = list(
    "abcdefghijklmnopqrstuvwxyz" "abcdefghijklmnoprstu"
    "ABCDEFGHIJKLMNOPRSTUVWZ"
    "éèêàâäöüçñßøåæ" "ÉÀÇÑÖÜ"
    "жщдлбфыю" "ЖДЛ" "λμπθ" "ΛΠ" "日本語文字"
)
_SEPS = list(" " * 40 + "0123456789_.,;:!?-'\"()/")


def write_corpus(out_dir: str, seed: int, mbytes: float) -> None:
    """Write about ``mbytes`` MB of Zipf-distributed text into
    ``out_dir``: fifteen text files ``a`` .. ``o`` and a
    ``documents.parquet`` dataset holding the same paragraphs."""
    rng = np.random.default_rng(seed)
    vocab_size = 40_000
    lens = rng.integers(2, 11, vocab_size)
    letters = np.array(_LETTERS)
    vocab = np.array(
        ["".join(letters[rng.integers(0, len(letters), k)]) for k in lens]
    )
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    prob = ranks ** -1.1
    prob /= prob.sum()

    n_tokens = int(mbytes * 1e6 / 7.0)
    words = vocab[rng.choice(vocab_size, n_tokens, p=prob)]
    # Most separators are a space; the rest are digit, underscore or
    # punctuation runs, which the [^\p{L}]+ tokenizer must also split on.
    seps = np.array(_SEPS, dtype="<U4")[rng.integers(0, len(_SEPS), n_tokens)]
    odd = rng.random(n_tokens) < 0.05
    seps[odd] = np.char.add(seps[odd], np.array(_SEPS)[rng.integers(0, len(_SEPS), int(odd.sum()))])
    line_end = rng.random(n_tokens) < 1 / 12
    seps[line_end] = "\n"

    # Paragraphs of ~33 lines; each file holds whole paragraphs.
    para_len = 400
    n_paras = -(-n_tokens // para_len)
    paras = []
    for i in range(n_paras):
        w = words[i * para_len:(i + 1) * para_len]
        s = seps[i * para_len:(i + 1) * para_len].copy()
        s[-1] = ""
        paras.append("".join(np.char.add(w, s).tolist()))

    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir)
    files = corpus_files(out_dir)
    per_file = -(-n_paras // len(files))
    for k, path in enumerate(files):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(paras[k * per_file:(k + 1) * per_file]) + "\n")

    docs = pd.DataFrame({
        "doc_id": np.arange(n_paras, dtype=np.int64),
        "text": paras,
        "lang": rng.choice(_LANGS, n_paras, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_paras)],
        "n_chars": np.array([len(t) for t in paras], dtype=np.int64),
    })
    n_parts = 8
    step = -(-n_paras // n_parts)
    for k in range(n_parts):
        _write(
            docs.iloc[k * step:(k + 1) * step],
            os.path.join(docs_dir, f"part-{k:05d}.parquet"),
        )


def corpus_files(out_dir: str) -> list[str]:
    """The corpus's text files, ``a`` .. ``o``."""
    return [os.path.join(out_dir, chr(ord("a") + i)) for i in range(15)]
