"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark, so the whole file takes a few minutes.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.check import check_rows  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, seed: int, trace: int,
          cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(workload, trace):
    r = result(bench(workload, 3, trace))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True
    assert r["failed"] == 0 and r["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert [m["name"] for m in spec] == list(r["metrics"])
    for m in spec:
        got = r["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert r["metrics"]["ok_share"]["value"] == 1.0
        assert r["metrics"]["exact_share"]["value"] == 1.0
        for m in SPEC["end_to_end"]:
            assert r["metrics"][m["name"]]["value"] > 0


def _small_rows(n=30):
    docs = inputs.small_docs(5, n)
    expected = {d.url: d.expected for d in docs}
    return (expected, [d.url for d in docs], [d.expected for d in docs],
            ["ok"] * n)


def test_exact_rows_pass():
    expected, urls, texts, statuses = _small_rows()
    ex = check_rows(expected, urls, texts, statuses)
    assert ex.exact_share == 1.0 and ex.correct
    assert ex.first_mismatch is None


def test_corrupted_row_drops_exact_share():
    expected, urls, texts, statuses = _small_rows()
    texts[7] = texts[7].replace(" ", "_", 12)
    ex = check_rows(expected, urls, texts, statuses)
    assert ex.exact_share < 1.0 and not ex.correct
    assert ex.first_mismatch == urls[7]


def test_missing_and_duplicate_urls_are_misses():
    expected, urls, texts, statuses = _small_rows()
    ex = check_rows(expected, urls[1:] + urls[3:4], texts[1:] + texts[3:4],
                    statuses[1:] + statuses[3:4])
    assert ex.exact == len(expected) - 2
    assert ex.first_mismatch in (urls[0], urls[3])


def test_unknown_url_and_bad_status_are_failures():
    expected, urls, texts, statuses = _small_rows()
    ex = check_rows(expected, urls + ["doc://nope"], texts + ["x"],
                    statuses + ["ok"])
    assert ex.exact_share == 1.0 and ex.extra == 1 and not ex.correct
    statuses[2] = "partial"
    ex = check_rows(expected, urls, texts, statuses)
    assert ex.ok_share < 1.0 and not ex.correct


def test_seeds_give_different_inputs_same_metric_names():
    a, b = inputs.small_docs(1, 50), inputs.small_docs(2, 50)
    assert [d.doc_id for d in a] != [d.doc_id for d in b]
    assert [d.text for d in a] != [d.text for d in b]
    assert inputs.small_docs(1, 50) == a
    r1 = result(bench("kernel_small", 1, 0))
    r2 = result(bench("kernel_small", 2, 0))
    assert list(r1["metrics"]) == list(r2["metrics"])


def test_sizes_do_not_depend_on_the_seed():
    a, b = inputs.small_docs(1, 100), inputs.small_docs(2, 100)
    assert sorted(len(d.text) for d in a) == sorted(len(d.text) for d in b)
    assert sorted(d.doc_id % 25 for d in a) == sorted(d.doc_id % 25
                                                      for d in b)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = bench("kernel_small", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        assert not line.startswith("{")
