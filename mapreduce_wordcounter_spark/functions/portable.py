"""Cross-engine expressions, each written once and rendered per engine.

A query and its DuckDB oracle must tokenize and hash identically, and
the Python paths that bucket rows (the versioned-table transforms) must
agree bit for bit with the Spark side. Every such expression is spelled
here and nowhere else in the package (tests/test_portable.py checks
both the cross-engine agreement and that no other module spells them).
Naming follows :mod:`numeric`: bare name = Spark, ``sql_`` prefix =
DuckDB, ``py_`` prefix = plain Python.

Tokenizer (normative spec, SURVEY.md Appendix A; reference
main.go:141-149): split ``lower(text)`` on runs of non-letters, drop
empty tokens. ``split_words`` / ``sql_split_words`` keep the empties
(an explode followed by ``word <> ''`` filters them); ``words`` /
``sql_words`` drop them inside the array.

Hash: the first 15 hex digits of md5, read as a non-negative 60-bit
integer. Spark (``conv``), DuckDB (a ``0x`` literal cast) and Python
(``hashlib``) compute the same value for the same UTF-8 string. It is
one hash call per string, so Spark codegens it (a per-character lambda
fold would not).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Separator = any non-letter, exactly `!unicode.IsLetter` (main.go:143).
# Java regex and DuckDB's RE2 both implement the Unicode L* class.
TOKEN_SEP = r"[^\p{L}]+"


def split_words(col: str = "text") -> Column:
    """``split(lower(col), TOKEN_SEP)``: the token array, empties kept."""
    return F.split(F.lower(F.col(col)), TOKEN_SEP)


def sql_split_words(col: str = "text") -> str:
    """DuckDB fragment matching :func:`split_words`."""
    return f"regexp_split_to_array(lower({col}), '{TOKEN_SEP}')"


def words(col: str = "text") -> Column:
    """The token array with empty tokens dropped."""
    return F.filter(split_words(col), lambda x: x != "")


def sql_words(col: str = "text") -> str:
    """DuckDB fragment matching :func:`words`."""
    return f"list_filter({sql_split_words(col)}, x -> x <> '')"


def md5h(s: str) -> str:
    """Spark SQL text: the 60-bit md5-prefix hash of string expression ``s``."""
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def sql_md5h(s: str) -> str:
    """DuckDB fragment matching :func:`md5h`."""
    return f"CAST(('0x' || substring(md5({s}), 1, 15)) AS BIGINT)"


def py_md5h(s: str) -> int:
    """Python value matching :func:`md5h` for the string ``s``."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
