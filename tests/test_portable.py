"""The cross-engine kit (functions/portable.py): its Spark, DuckDB and
Python renderings agree, and no other module spells the tokenizer or
the md5-prefix hash itself."""

from __future__ import annotations

import ast
import unicodedata
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.functions.portable import (
    md5h,
    py_md5h,
    split_words,
    sql_md5h,
    sql_split_words,
    sql_words,
    words,
)

_PKG = Path(__file__).resolve().parent.parent / "mapreduce_wordcounter_spark"

# Decomposed accents: combining marks are not \p{L}, so both engines
# split there. Python tokenizers differ on marks (functions/udtf.py), so
# the Python reference stays out of that domain (FIXTURES.md §4); the
# two engines must still agree on it.
_COMBINING = "e\u0301cole cafe\u0301 na\u0308ive"

_TEXTS = [
    "",
    None,
    "Apple APPLE aPpLe",
    "Café naïve résumé Øre",
    "中文字符 测试",
    "Привет, МИР",
    "ǅemal ǅ Ǆ",
    "foo123bar 42",
    "x_y __init__",
    "wow!!! ...??? ---",
    "  --leading and trailing--  ",
    "²½Ⅻ",
    _COMBINING,
]


def _py_split(s: str | None) -> list[str] | None:
    """Unfiltered split of ``s.lower()`` at runs of non-``isalpha``
    characters (Java ``split`` with limit -1: leading/trailing
    separators leave an empty token)."""
    if s is None:
        return None
    out, in_sep = [""], False
    for ch in s.lower():
        if ch.isalpha():
            if in_sep:
                out.append("")
            out[-1] += ch
            in_sep = False
        else:
            in_sep = True
    if in_sep:
        out.append("")
    return out


def _spark(spark, col):
    df = spark.createDataFrame(
        list(enumerate(_TEXTS)), "i int, text string"
    ).select("i", col.alias("v"))
    return [r["v"] for r in df.orderBy("i").collect()]


def _duck(sql):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(_TEXTS)))
        return [r[0] for r in con.execute(f"SELECT {sql} FROM t ORDER BY i").fetchall()]
    finally:
        con.close()


def _has_combining(s):
    return s is not None and any(unicodedata.combining(c) for c in s)


def test_tokenizer_agrees_across_spark_duckdb_python(spark):
    split_s, split_d = _spark(spark, split_words()), _duck(sql_split_words())
    words_s, words_d = _spark(spark, words()), _duck(sql_words())
    assert split_s == split_d
    assert words_s == words_d
    for text, got_split, got_words in zip(_TEXTS, split_s, words_s):
        if _has_combining(text):
            continue
        want = _py_split(text)
        assert got_split == want, text
        assert got_words == (None if want is None else [w for w in want if w]), text
    # spot checks the reference semantics pin (main.go:141-149)
    assert words_s[_TEXTS.index("foo123bar 42")] == ["foo", "bar"]
    assert words_s[_TEXTS.index("ǅemal ǅ Ǆ")] == ["ǆemal", "ǆ", "ǆ"]
    assert words_s[_TEXTS.index("²½Ⅻ")] == []
    assert split_s[_TEXTS.index("  --leading and trailing--  ")][0] == ""


def test_md5h_agrees_across_spark_duckdb_python(spark):
    got_s = _spark(spark, F.expr(md5h("text")))
    got_d = _duck(sql_md5h("text"))
    assert got_s == got_d
    for text, v in zip(_TEXTS, got_s):
        if text is None:
            assert v is None
            continue
        assert v == py_md5h(text)
        assert 0 <= v < 2**60


# -- one spelling per dialect --------------------------------------------

_SPELLINGS = ("p{L}", "substring(md5(", "hexdigest()[:15]")


def _docstring_ids(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _spellings(tree: ast.AST):
    """(lineno, spelling) for every str constant or f-string part that
    spells the tokenizer or the hash (docstrings exempt), plus every
    ``X.hexdigest()[:15]`` expression."""
    docs = _docstring_ids(tree)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            for sp in _SPELLINGS:
                if sp in node.value:
                    yield node.lineno, sp
        elif isinstance(node, ast.Subscript) and ast.unparse(node).endswith(
            ".hexdigest()[:15]"
        ):
            yield node.lineno, "hexdigest()[:15]"


def test_tokenizer_and_hash_are_spelled_only_in_the_kit():
    """Only functions/portable.py writes the token regex or the md5
    recipe; every other module renders them through the kit. The scan
    must find the kit's own spellings."""
    kit = _PKG / "functions" / "portable.py"
    bad, in_kit = [], set()
    for path in sorted(_PKG.rglob("*.py")):
        for lineno, sp in _spellings(ast.parse(path.read_text())):
            if path == kit:
                in_kit.add(sp)
            else:
                bad.append(f"{path.relative_to(_PKG)}:{lineno}: {sp}")
    assert in_kit == set(_SPELLINGS)
    assert not bad, bad
