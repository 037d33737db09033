"""Self-tests for the benchmark.

    python -m pytest perfbench/ -q

The fast tests check the generator and the recounts against brute force;
`test_tiny_runs` runs every workload end to end at 2% size (about two
minutes on a 4-core box).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

import gen
import layers
import oracle
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
ENGINE_PRESENT = os.path.isdir(os.path.join(ROOT, "epichypersketch_jl_spark"))


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


SMALL = {
    "tokens": dict(kind="tokens", stream=9, rows=300, files=3, n_tok=[2, 9], alphabet=12,
                   zipf_s=1.1, positions=True),
    "text": dict(kind="text", stream=9, rows=300, files=2, vocab=50, n_words=[5, 9]),
}


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    spec = SMALL[kind]
    gen.generate(spec, 7, str(tmp_path / "a"))
    gen.generate(spec, 7, str(tmp_path / "b"))
    gen.generate(spec, 8, str(tmp_path / "c"))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_cache_trusts_only_completed_inputs(tmp_path):
    spec = SMALL["tokens"]
    root = str(tmp_path)
    key = gen.cache_key("w", spec, 1)
    os.makedirs(os.path.join(root, key, "data"))  # a killed run's leftovers, no marker
    path, meta, generated = gen.cached_input(root, "w", spec, 1)
    assert generated and os.path.exists(os.path.join(root, key, gen.COMPLETE))
    assert gen.cached_input(root, "w", spec, 1) == (path, meta, False)


def _table(kind):
    spec = SMALL[kind]
    return gen.KINDS[kind](spec, np.random.default_rng([3, spec["stream"]]))[0]


def _rows(table, col):
    flat, off = oracle.flat_list(table, col)
    return [flat[off[i] : off[i + 1]] for i in range(len(off) - 1)]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_ordinary_recount_matches_brute_force(k):
    t = _table("tokens")
    want = Counter(
        tuple(sorted(int(x) for x in c))
        for row in _rows(t, "tokens")
        for c in itertools.combinations(row, k)
    )
    toks, off = oracle.flat_list(t, "tokens")
    truth = oracle.ordinary_truth(toks, off, k)
    keys = np.array(sorted(want))
    got = truth.lookup(truth.pack([keys[:, i] for i in range(k)]))
    assert got.tolist() == [want[tuple(r)] for r in keys.tolist()]
    assert truth.total == sum(want.values())


def test_large_alphabet_and_conv_recounts_match_brute_force():
    t = _table("tokens")
    toks, off = oracle.flat_list(t, "tokens")
    pos, _ = oracle.flat_list(t, "positions")
    big = toks.astype(np.int64) * 1000  # pushes V past the small-alphabet path
    truth = oracle.ordinary_truth(big, off, 2)
    want = Counter(
        tuple(sorted(int(x) * 1000 for x in c))
        for row in _rows(t, "tokens")
        for c in itertools.combinations(row, 2)
    )
    assert truth.total == sum(want.values()) and len(truth.packed) == len(want)

    conv = oracle.conv_truth(toks, pos, off, filter_len=1)
    want = Counter()
    for tr, pr in zip(_rows(t, "tokens"), _rows(t, "positions")):
        for i, j in itertools.combinations(range(len(tr)), 2):
            gap = int(pr[j] - pr[i] - 1)
            if gap >= 0:
                want[(int(tr[i]), gap, int(tr[j]))] += 1
    keys = np.array(sorted(want))
    got = conv.lookup(conv.pack([keys[:, i] for i in range(3)]))
    assert got.tolist() == [want[tuple(r)] for r in keys.tolist()]


def test_planted_near_duplicates_pass_the_lsh_check():
    t = _table("text")
    ids = t.column("doc_id").to_pylist()
    planted = [(ids[i - 1], ids[i]) for i in range(1, len(ids), gen.DUP_EVERY)]
    toks = _rows(t, "tokens")
    pairs = []
    for a, b in planted:
        sa, sb = oracle._shingles(toks[ids.index(a)]), oracle._shingles(toks[ids.index(b)])
        pairs.append((a, b, (100 * len(sa & sb)) // len(sa | sb)))
    problems, recall = oracle.check_lsh_pairs(pairs, t, 0.5)
    assert problems == [] and recall == 1.0
    problems, _ = oracle.check_lsh_pairs([(a, b, p + 1) for a, b, p in pairs], t, 0.5)
    assert problems


def test_union_and_tail_percentile():
    import run

    assert spans.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert run.tail_percentile([1.0] * 10) is None
    p, _ = run.tail_percentile(list(range(20)))
    assert p == pytest.approx(0.5)


def test_benchmark_json_matches_the_code():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                              "per_layer"}
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.workloads())
    assert {w["why"] for w in BENCHMARK["workloads"]} == {
        w.why for w in workloads.workloads().values()
    }
    assert all(len(w["why"]) <= 200 for w in BENCHMARK["workloads"])
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == layers.PER_LAYER
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=900,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "neardup-lsh", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.skipif(not ENGINE_PRESENT, reason="needs the engine package")
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_tiny_runs(workload):
    """Every workload at 2% size: no failed execution, and the printed
    metric names are exactly BENCHMARK.json's (traced and untraced)."""
    for trace, key in (("1", "per_layer"), ("0", "end_to_end")):
        if trace == "0" and workload != BENCHMARK["workloads"][0]["name"]:
            continue
        p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "0.5",
                 "--trace", trace, "--scale", "0.02")
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["failed"] == 0 and out["correct"], p.stderr[-3000:]
        assert out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCHMARK[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
