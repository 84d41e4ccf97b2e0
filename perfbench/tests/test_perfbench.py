"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark end to end on the word-count workload
(about a minute per mode on four cores).
"""

from __future__ import annotations

import collections
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

WC_ORACLE = """
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+')) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word
"""


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_same_corpus(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 7, 0.3)
    gen.write_corpus(str(tmp_path / "b"), 7, 0.3)
    gen.write_corpus(str(tmp_path / "c"), 8, 0.3)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_same_seed_same_tables(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 7, 0.001)
    gen.write_tables(str(tmp_path / "b"), 7, 0.001)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in tables)


def test_corpus_exercises_the_tokenizer(tmp_path):
    gen.write_corpus(str(tmp_path), 3, 0.3)
    text = "".join(open(p, encoding="utf-8").read() for p in gen.corpus_files(str(tmp_path)))
    assert re.search(r"[^\x00-\x7f]", text), "no non-ASCII letters"
    for sep in ("_", "0", "9", ".", "!", "'", "\n"):
        assert sep in text, f"separator {sep!r} missing"


def test_text_files_and_documents_hold_the_same_tokens(tmp_path):
    gen.write_corpus(str(tmp_path), 5, 0.3)
    con = oracle.duck_connect(str(tmp_path))
    lines = [
        line
        for p in gen.corpus_files(str(tmp_path))
        for line in open(p, encoding="utf-8").read().split("\n")
    ]
    con.register("file_lines", pd.DataFrame({"text": lines}))
    from_files = con.execute(WC_ORACLE.replace("FROM documents", "FROM file_lines")).fetchdf()
    from_docs = con.execute(WC_ORACLE).fetchdf()
    assert oracle.mismatch(from_files, from_docs) is None


def test_gate_catches_a_wrong_result(tmp_path):
    gen.write_corpus(str(tmp_path), 5, 0.2)
    con = oracle.duck_connect(str(tmp_path))
    want = con.execute(WC_ORACLE).fetchdf()
    got = want.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert oracle.mismatch(got, want) is None  # row order does not matter

    wrong = got.copy()
    wrong.loc[0, "cnt"] += 1
    assert "cnt" in oracle.mismatch(wrong, want)
    assert "row count" in oracle.mismatch(got.iloc[1:], want)
    assert "columns" in oracle.mismatch(got.rename(columns={"cnt": "n"}), want)


def test_gate_treats_nan_and_none_as_null():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"k": [2, 1], "v": [None, 0.5]})
    assert oracle.mismatch(a, b) is None
    assert oracle.mismatch(a, b.assign(v=[0.25, 0.5])) is not None


def test_metric_names_and_units_match_benchmark_json():
    samples = {f"q{i}": [(0.1 * i, 0.2 * i), (0.1 * i + 0.05, 0.2 * i)] for i in range(1, 8)}
    e2e = run.end_to_end(1.0, samples)
    assert {k: u for k, (_, u) in e2e.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert e2e["pass_cpu_s"][0] == pytest.approx(0.2 * sum(range(1, 8)))
    assert run.query_metrics(samples)["wall.query_p50_s"][0] == pytest.approx(0.4)

    class Empty:
        layer = collections.defaultdict(float)
        cpus = 4
        counts = collections.defaultdict(float)
        batches = 0
        add_batch_ms = other_ms = 0.0

        def layer_totals(self, since):
            return {}

    e = Empty()
    lm = run.layer_metrics(e, e, e, 0, 1, 0.0, 0)
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    produced = {k: u for k, (_, u) in lm.items()}
    produced.update({f"setup.{k}": u for k, (_, u) in lm.items()})
    produced.update({k: u for k, (_, u) in run.query_metrics(samples).items()})
    produced.update({"session.live_heap_mb": "MB", "session.driver_peak_rss_mb": "MB"})
    assert produced == declared
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "serve_mix", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
def test_end_to_end_run_prints_every_metric(trace):
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "wordcount_corpus", "--seed", "1",
                           "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
