"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q            # everything (~5 min)
    python3 -m pytest perfbench/tests -q -m "not smoke"   # seconds

The smoke tests run each workload at tiny sizes in a subprocess, as the
benchmark is run, and require every metric BENCHMARK.json names.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

import fnmatch  # noqa: E402

from perfbench import checks, inputs  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _gen(seed: int):
    corpus = inputs.corpus(seed, 200)
    return {
        "corpus": corpus,
        "arrivals": inputs.arrivals(seed, corpus, 50),
        "vector": inputs.vector_inputs(seed, 50, 300, 100, 5),
    }


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _gen(7), _gen(7), _gen(8)
    for key in a:
        assert inputs.digest(a[key]) == inputs.digest(b[key]), key
        assert inputs.digest(a[key]) != inputs.digest(c[key]), key


def test_planted_shares_are_close_to_requested():
    c = inputs.corpus(3, 4000, exact_share=0.05, near_share=0.10)
    p = c.props()
    assert abs(p["exact_dup_share"] - 0.05) < 0.015
    assert abs(p["near_dup_share"] - 0.10) < 0.02


def test_metric_names_and_units():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]) and NAME.fullmatch(m["name"])
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert 1 <= len(SPEC["end_to_end"]) <= 16 and 1 <= len(SPEC["per_layer"]) <= 128
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_design_notes_cover_every_metric_and_workload():
    design = json.loads((ROOT / "perfbench" / "design.json").read_text())
    workloads = [w["name"] for w in SPEC["workloads"]]
    assert sorted(design["workloads"]) == sorted(workloads)
    for m in SPEC["end_to_end"]:
        assert sorted(design["end_to_end"][m["name"]]) == sorted(workloads), m["name"]
    patterns = [p["per_layer"] for p in design["predictions"]]
    for m in SPEC["per_layer"]:
        assert any(fnmatch.fnmatch(m["name"], p) for p in patterns), m["name"]
    for p in design["predictions"]:
        assert set(p["moves"]) <= {m["name"] for m in SPEC["end_to_end"]}
        assert set(p["on"]) <= set(workloads)


def test_checks_catch_wrong_answers():
    rng = np.random.default_rng(0)
    base = rng.normal(size=(200, 8)).astype(np.float32)
    ids = np.arange(1, 201)
    q = rng.normal(size=(3, 8)).astype(np.float32)
    want_ids, want_d = checks.exact_topk(base, ids, q, 5)
    assert checks.same_topk([list(w) for w in want_ids], want_ids, want_d) == 0
    wrong = [list(w) for w in want_ids]
    wrong[1][0] = 999
    assert checks.same_topk(wrong, want_ids, want_d) == 1
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z w v u"}
    assert checks.pairs_meet_threshold([(1, 2)], texts, 0.5)[1]
    assert not checks.pairs_meet_threshold([(1, 3)], texts, 0.5)[1]
    assert not checks.partition([1, 2, 3], {"a": [1], "b": [1, 2]})[1]
    assert checks.partition([1, 2, 3], {"a": [1], "b": [2, 3]})[1]


def test_clean_text_matches_library_contract():
    assert checks.clean_text("a<b>b</b>  &amp;\tc ") == "a b & c"


@pytest.mark.smoke
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
