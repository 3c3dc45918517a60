"""The benchmark's own tests:

    python3 -m pytest perfbench -q

- the input generators are deterministic per seed;
- the metric names and units the runner prints are those BENCHMARK.json
  declares;
- a small smoke run of every workload, untraced and traced, completes
  with every output check passing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_documents_deterministic_per_seed():
    a = gen.documents(7, 300, 0.1)
    assert a.equals(gen.documents(7, 300, 0.1))
    assert not a.equals(gen.documents(8, 300, 0.1))
    assert a.num_rows == 300
    assert sorted(a.column("doc_id").to_pylist()) == list(range(300))


def test_embeddings_deterministic_per_seed():
    a = gen.embeddings(7, 100)
    assert a.equals(gen.embeddings(7, 100))
    assert not a.equals(gen.embeddings(8, 100))
    assert a.column("vec_id").to_pylist() == list(range(100))


def test_near_dup_fraction_is_an_input_property():
    docs = gen.documents(3, 1000, 0.2, exact_dup_frac=0.0)
    texts = [t.split() for t in docs.column("text").to_pylist()]
    by_len: dict[int, list[list[str]]] = {}
    for t in texts:
        by_len.setdefault(len(t), []).append(t)
    # A near-dup copy differs from its source in exactly one word.
    one_word = sum(
        1
        for group in by_len.values()
        for i, a in enumerate(group)
        for b in group[i + 1:]
        if sum(x != y for x, y in zip(a, b)) == 1
    )
    assert one_word >= 200


def test_printed_metric_names_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert all(len(line) <= 2000 for line in lines)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        e2e = next(json.loads(x)["e2e"] for x in lines if '"e2e"' in x)
        assert e2e["failed_op_ratio"]["value"] == 0
