"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The checker tests are fast. The smoke test runs every workload at tiny
scale, untraced and traced, in fresh processes (several minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from itertools import combinations

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
from workloads import N_BUCKETS, WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Tiny seeded near-dup corpus with its true pairs and clusters."""
    import pyarrow.parquet as pq

    inp = inputs.documents(str(tmp_path_factory.mktemp("cache")), 3, "tiny")
    docs = pq.read_table(os.path.join(inp.path, "docs")).to_pylist()
    sh = {d["doc_id"]: inputs.word_shingles(d["text"]) for d in docs}
    fams = pq.read_table(os.path.join(inp.path, "families.parquet")).to_pylist()
    planted = [(f["family"], f["doc_id"], f["true_j"]) for f in fams if f["family"] >= 0]
    pairs = []
    for a, b in combinations(sorted(sh), 2):
        shared = len(sh[a] & sh[b])
        j = shared / (len(sh[a]) + len(sh[b]) - shared)
        if round(j, 4) >= checks.JACCARD_THRESHOLD:
            pairs.append((a, b, shared, len(sh[a]), len(sh[b]), round(j, 4)))
    label = {d: d for d in sh}
    changed = True
    while changed:  # min-label propagation to the component minimum
        changed = False
        for a, b, *_ in pairs:
            lo = min(label[a], label[b])
            if label[a] != lo or label[b] != lo:
                label[a] = label[b] = lo
                changed = True
    clusters = [(d, label[d], d == label[d]) for d in sorted(sh)]
    return sh, planted, pairs, clusters


def test_planted_families_straddle_the_threshold(corpus):
    _, planted, _, _ = corpus
    js = [j for _, _, j in planted]
    assert min(js) < checks.JACCARD_THRESHOLD < checks.RECALL_MIN_J < max(js)


def test_true_outputs_pass(corpus):
    sh, planted, pairs, clusters = corpus
    assert checks.verified_pairs(pairs, sh, planted) == []
    assert checks.clusters(clusters, sh, planted) == []


def test_corrupted_pairs_are_flagged(corpus):
    sh, planted, pairs, _ = corpus
    wrong_j = [p[:5] + (p[5] - 0.01,) if i == 0 else p for i, p in enumerate(pairs)]
    assert checks.verified_pairs(wrong_j, sh, planted)
    planted_keys = {(min(a, b), max(a, b)) for a, b, _ in planted}
    missing = [p for p in pairs if (p[0], p[1]) not in planted_keys]
    assert any("recall" in p for p in checks.verified_pairs(missing, sh, planted))


def test_corrupted_clusters_are_flagged(corpus):
    sh, planted, _, clusters = corpus
    singletons = [(d, d, True) for d, _, _ in clusters]
    assert any("recall" in p for p in checks.clusters(singletons, sh, planted))
    merged = [(d, 0, d == 0) for d, _, _ in clusters]  # one giant cluster
    assert checks.clusters(merged, sh, planted)
    assert checks.clusters(clusters[1:], sh, planted)


def test_corrupted_transcript_outputs_are_flagged():
    gold = {("c0", 0): ("m0", 5, 2), ("c0", 1): ("m1", 7, 3), ("c1", 0): ("m2", 4, 1)}
    expected = {"c0": (2, 12, 5), "c1": (1, 4, 1)}
    good = [("c0", 2, 12, 5), ("c1", 1, 4, 1)]
    assert checks.conv_stats(good, expected) == []
    assert checks.conv_stats([("c0", 2, 11, 5), ("c1", 1, 4, 1)], expected)
    rows = [k + v for k, v in gold.items()]
    assert checks.turn_digests(rows, gold) == []
    assert checks.turn_digests([rows[0], rows[1], ("c1", 0, "mX", 4, 1)], gold)
    assert checks.turn_digests(rows + [rows[0]], gold)


def test_corrupted_commit_is_flagged():
    all_b = list(range(N_BUCKETS))
    assert checks.commit(all_b, [], 10, 10, 10, N_BUCKETS) == []
    assert checks.commit(all_b[1:], [], 10, 10, 10, N_BUCKETS)
    assert checks.commit(all_b, [3], 10, 10, 10, N_BUCKETS)
    assert checks.commit(all_b, [], 9, 10, 10, N_BUCKETS)


def test_oracle_mismatch_is_flagged():
    assert checks.same_rows([(1, "a b"), (0, "c")], [(0, "c"), (1, "a b")]) == []
    assert checks.same_rows([(1, "a b"), (0, "c")], [(0, "c"), (1, "a  b")])


def _run(cwd, *args, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "transcripts_read", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_metric_with_its_unit(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        d["name"]: d["unit"] for d in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
