"""The benchmark's own tests: seeded inputs and the metric contract.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a.equals(b) if hasattr(a, "equals") else a == b


GENERATORS = {
    "aoi": inputs.aoi_ring,
    "docs": lambda s: inputs.corpus(s)[0],
    "points": inputs.points,
    "requests": lambda s: inputs.requests(s, inputs.points(s)),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_inputs(name):
    gen = GENERATORS[name]
    assert _same(gen(5), gen(5))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_inputs(name):
    gen = GENERATORS[name]
    assert not _same(gen(5), gen(6))


def test_embeddings_follow_the_seed():
    a, b, c = (inputs.corpus(s)[1]["embedding"] for s in (5, 5, 6))
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not all(np.array_equal(x, y) for x, y in zip(a, c))


def test_aoi_straddles_utm_boundary_with_stable_area():
    areas = []
    for seed in range(8):
        ring = inputs.aoi_ring(seed)
        assert ring[:, 0].min() < 6.0 < ring[:, 0].max()
        assert np.array_equal(ring[0], ring[-1])
        areas.append(_ring_area(ring))
    assert max(areas) / min(areas) < 1.01


def test_corpus_plants_duplicates():
    docs, _ = inputs.corpus(5)
    assert len(docs) == inputs.N_DOCS
    n_copies = len(docs) - docs["text"].nunique()
    assert n_copies >= 0.8 * inputs.N_DOCS * inputs.EXACT_DUP_SHARE


def test_cache_reuses_generated_tables(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path))
    first = inputs.cached("corpus_dedup", 9)
    stamp = os.path.getmtime(os.path.join(first["dir"], "docs.parquet"))
    again = inputs.cached("corpus_dedup", 9)
    assert os.path.getmtime(os.path.join(again["dir"], "docs.parquet")) == stamp
    assert again["docs"].equals(first["docs"])


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_are_the_declared_ones(trace):
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    out = run.result_metrics({names[0]: 1.5}, trace)
    assert list(out) == names
    assert out[names[0]] == {"value": 1.5, "unit": SPEC["per_layer" if trace else "end_to_end"][0]["unit"]}
    with pytest.raises(KeyError):
        run.result_metrics({"not.declared": 1.0}, trace)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geo_dataset", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
