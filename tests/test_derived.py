"""The session memo for derived state (session.derived): store-after-
build, validity-gated reuse, and a hygiene sweep that keeps new
session-scoped state from growing its own module dict."""

from __future__ import annotations

import ast
import pathlib

import pytest

from mapreduce_wordcounter_spark import session
from mapreduce_wordcounter_spark.session import _DERIVED, derived

_PKG = pathlib.Path(session.__file__).parent

# Session memos deliberately kept out of `derived`, by the module dict
# their function reads: the PCA caches grow a prefix in place, and the
# Jaccard strategy memo re-pins its relation on every hit.
_ALLOWED_MEMOS = {"_PC_CACHE", "_PC_TRACE_CACHE", "_JACCARD_STRATEGY"}


@pytest.fixture
def key(spark, request):
    name = "test:" + request.node.name
    yield (spark.sparkContext.applicationId, "sf-test", name)
    _DERIVED.pop((spark.sparkContext.applicationId, "sf-test", name), None)


def test_failed_build_leaves_no_entry(spark, key):
    """A build that raises stores nothing, so the next call builds
    again instead of serving a half-made artifact."""
    _, sf, name = key

    def broken():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        derived(spark, sf, name, broken)
    assert key not in _DERIVED
    assert derived(spark, sf, name, lambda: "built") == "built"
    assert _DERIVED[key] == "built"


def test_valid_gates_reuse(spark, key):
    """A stored value is served while `valid` holds and rebuilt once it
    does not; a falsy value is still a stored value."""
    _, sf, name = key
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert derived(spark, sf, name, build) == 1
    assert derived(spark, sf, name, build) == 1
    assert derived(spark, sf, name, build, lambda v: v >= 2) == 2
    assert derived(spark, sf, name, build, lambda v: v >= 2) == 2
    assert len(builds) == 2

    _DERIVED.pop(key)
    assert derived(spark, sf, name, lambda: False) is False
    assert derived(spark, sf, name, lambda: pytest.fail("rebuilt")) is False


def test_session_state_goes_through_derived():
    """Operators and streaming code hold no session-keyed dict of their
    own: every ``sparkContext.applicationId`` there must sit in a
    function that reads one of the memos kept on purpose. New derived
    state goes through session.derived instead."""
    bad = []
    for path in sorted(
        [*(_PKG / "operators").glob("*.py"), *(_PKG / "streaming").glob("*.py")]
    ):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            hits = [
                n
                for n in ast.walk(fn)
                if isinstance(n, ast.Attribute)
                and n.attr == "applicationId"
                and isinstance(n.value, ast.Attribute)
                and n.value.attr == "sparkContext"
            ]
            names = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
            if hits and not names & _ALLOWED_MEMOS:
                bad += [f"{path.name}:{n.lineno} in {fn.name}" for n in hits]
    assert not bad, bad


def test_derived_names_are_unique():
    """The memo key is (session, sf_dir, name): two sites passing the
    same literal name would serve each other's state."""
    seen: dict[str, str] = {}
    dupes = []
    for path in sorted(_PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "derived"
                and len(node.args) >= 3
                and isinstance(node.args[2], ast.Constant)
            ):
                name, where = node.args[2].value, f"{path.name}:{node.lineno}"
                if name in seen:
                    dupes.append((name, seen[name], where))
                seen[name] = where
    assert seen
    assert not dupes, dupes
