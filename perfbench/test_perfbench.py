"""Tests of the benchmark itself: seeded inputs, the percentile rule, names,
and that a run prints every metric BENCHMARK.json lists, with its unit.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.streams import QueryStream, corpus_batch, marker_terms  # noqa: E402
from perfbench.workloads import supported_percentile  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_same_seed_same_inputs():
    a, b = corpus_batch(5, 1, 40), corpus_batch(5, 1, 40)
    assert a.equals(b)
    assert not a.equals(corpus_batch(6, 1, 40))
    markers = marker_terms(a)
    assert markers
    s1, s2 = QueryStream(5, markers), QueryStream(5, markers)
    assert s1.take(96) == s2.take(96)  # three 32-query batches
    assert QueryStream(5, markers).take(96) != QueryStream(6, markers).take(96)


def test_stream_composition_is_fixed():
    """Every 16-query round holds each template class once plus the two
    selective queries, whatever the seed."""
    for seed in range(5):
        qs = QueryStream(seed, [("00000001", "c", 0)]).take(48)
        for r in range(3):
            classes = sorted(q["cls"] for q in qs[16 * r : 16 * (r + 1)])
            assert len(set(classes)) == 16
            assert {"sel_marker", "sel_window", "q4_phrase"} <= set(classes)


def test_markers_are_single_tokens():
    from quickwit_spark.functions.tokenizer import tokenize_text

    pdf = corpus_batch(3, 0, 60)
    for term, conv, turn in marker_terms(pdf):
        text = pdf[(pdf["conv_id"] == conv) & (pdf["turn_idx"] == turn)]["text"].iloc[0]
        assert term in tokenize_text(text)


@pytest.mark.parametrize("n", list(range(0, 60)) + [99, 100, 101, 250, 1000])
def test_percentile_has_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    got = supported_percentile(xs)
    if n < 40:  # p75 needs 10 of n beyond it
        assert got is None
        return
    p, value, beyond = got
    assert beyond >= 10
    assert sum(x > value for x in xs) == beyond
    assert sum(x <= value for x in xs) >= p * n


def test_names():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", "interactive", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert "metrics" not in out.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_prints_every_metric(workload):
    """One short traced run: its last line carries every per-layer metric and
    its detail line every end-to-end one; all gates pass."""
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1")
    assert out.returncode == 0, out.stderr[-2000:]
    detail, last = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True, detail["mismatches"]
    assert last["failed"] == 0 and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert set(detail["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in detail["end_to_end"].values())
    assert last["metrics"]["trace.self_time_share"]["value"] <= 1.0
