"""Self-test of the benchmark: generators, checker, and a tiny end-to-end
run of every workload, untraced and traced.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark four times and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen
from perfbench.check import PassLog, score

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("token_search", "fold_batches")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _hamming(a: str, b: str) -> int:
    """The library's token_hamming: positional mismatches plus length delta."""
    x, y = a.split(), b.split()
    return sum(p != q for p, q in zip(x, y)) + abs(len(x) - len(y))


# -- checker ---------------------------------------------------------------

def test_checker_rejects_dropped_pair_and_wrong_merge():
    truth = [{"a", "b"}, {"c", "d", "e"}, {"f", "g"}]
    log = PassLog()
    exact = score([{"b", "a"}, {"e", "d", "c"}, {"g", "f"}], truth)
    dropped = score([{"c", "d", "e"}, {"f", "g"}], truth)         # pair a-b lost
    merged = score([{"a", "b"}, {"c", "d", "e", "f", "g"}], truth)  # two clusters fused
    for v in (exact, dropped, merged):
        log.record(v)
    assert exact.ok
    assert not dropped.ok and dropped.recall < 1.0 and dropped.precision == 1.0
    assert not merged.ok and merged.precision < 1.0 and merged.recall == 1.0
    assert (log.attempted, log.failed) == (3, 2)
    assert log.error_rate == pytest.approx(2 / 3)
    assert log.recall() == dropped.recall and log.precision() == merged.precision


def test_checker_counts_raised_pass_as_failed():
    log = PassLog()
    log.record(score([{"a", "b"}], [{"a", "b"}]))
    log.record_error("pass 1: RuntimeError()")
    assert (log.attempted, log.failed, log.error_rate) == (2, 1, 0.5)


# -- generators ------------------------------------------------------------

def test_search_corpus_is_seeded_and_planted_distances_hold():
    a, b = gen.search_corpus(5, 20, 40), gen.search_corpus(5, 20, 40)
    assert a == b
    assert gen.search_corpus(6, 20, 40).texts != a.texts
    text = dict(zip(a.ids, a.texts))
    for g in a.groups:
        members = sorted(g)
        for i, x in enumerate(members):
            for y in members[i + 1:]:
                assert _hamming(text[x], text[y]) <= 2 * gen.SUB
    grouped = set().union(*a.groups)
    reviewed = {frozenset(p) for p in a.falsepos + a.confirmed}
    others = [d for d in a.ids if d not in grouped]
    rng = np.random.default_rng(0)
    for _ in range(200):
        x, y = rng.choice(others, 2, replace=False)
        if frozenset((x, y)) not in reviewed:
            assert _hamming(text[x], text[y]) > gen.RADIUS
    # reviewed two-doc clusters are near-dups whose one edge the filters drop
    assert any(_hamming(text[x], text[y]) <= 2 * gen.SUB for x, y in a.falsepos)
    assert any(_hamming(text[x], text[y]) <= 2 * gen.SUB for x, y in a.confirmed)
    assert not set(a.falsepos) & set(a.confirmed)


def test_fold_stream_bridges_join_and_split_twins():
    s = gen.FoldStream(3, n_clusters=10, n_twins=4, n_singletons=10, batch=20)
    text = dict(zip(s.base_ids, s.base_texts))
    before = len(s.components())
    add = s.op(0)
    text.update(zip(add.ids, add.texts))
    assert add.kind == "add" and s.bridges
    for bridge, t in s.bridges.items():
        a, b = s.twins[t]
        side = {d for d, base in s.live.items() if base in (a, b) and d != bridge}
        assert all(_hamming(text[bridge], text[d]) <= gen.RADIUS for d in side)
        a_docs = [d for d, base in s.live.items() if base == a and d != bridge]
        b_docs = [d for d, base in s.live.items() if base == b]
        assert all(_hamming(text[x], text[y]) > gen.RADIUS for x in a_docs for y in b_docs)
    assert len(s.components()) < before + len(add.ids)
    delete = s.op(1)
    assert delete.kind == "delete" and not s.bridges
    assert not set(delete.ids) & set(s.live)
    again = gen.FoldStream(3, n_clusters=10, n_twins=4, n_singletons=10, batch=20)
    assert again.op(0) == add and again.op(1) == delete


# -- tiny end-to-end runs --------------------------------------------------

def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_is_correct_and_reports_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    spec = _bench_spec()
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    m = out["metrics"]
    assert list(m) == [e["name"] for e in spec["end_to_end"]]
    assert {k: v["unit"] for k, v in m.items()} == {e["name"]: e["unit"] for e in spec["end_to_end"]}
    assert m["pair_recall"]["value"] == m["pair_precision"]["value"] == 1.0
    assert m["pass_ok_frac"]["value"] == 1.0  # error_rate 0
    assert all(v["value"] > 0 for v in m.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_reports_every_layer_and_a_well_formed_span_tree(workload):
    out = _run(workload, 1)
    spec = _bench_spec()
    assert out["correct"]
    m = out["metrics"]
    assert list(m) == [e["name"] for e in spec["per_layer"]]
    assert {k: v["unit"] for k, v in m.items()} == {e["name"]: e["unit"] for e in spec["per_layer"]}
    with open(os.path.join(ROOT, ".bench_out", f"spans-{workload}-3.json")) as f:
        passes = json.load(f)
    assert passes
    for p in passes:
        spans = {s["id"]: s for s in p["spans"]}
        assert spans
        for s in spans.values():
            assert s["parent"] is None or s["parent"] in spans
            kids = [c for c in spans.values() if c["parent"] == s["id"]]
            assert all(s["start"] <= c["start"] and c["end"] <= s["end"] for c in kids)
            self_s = (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)
            assert self_s >= 0
        top = sum(s["end"] - s["start"] for s in spans.values() if s["parent"] is None)
        assert abs(top - p["wall"]) <= 0.05 * p["wall"]
    if workload == "fold_batches":
        # the refs path's band join against the store is charged to lsh
        refs = {s["id"] for p in passes for s in p["spans"] if s["name"] == "refs_edges_from_signatures"}
        assert refs
        assert any(s["name"] == "attach_signatures.pairs" and s["layer"] == "lsh"
                   for p in passes for s in p["spans"])
