"""Pins the benchmark's output gate.

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from linkgraph import oracle
from perfbench.check import (
    CheckFailed,
    Checker,
    check_labels,
    check_ranks,
    expected_pagerank,
    expected_structure,
    label_propagation_twin,
)


def _random_graph(seed: int, n: int, m: int):
    rng = np.random.default_rng(seed)
    # a few hubs plus self-loops and repeated edges, as the transcripts have
    src = np.concatenate([rng.integers(0, n, m), rng.integers(0, 3, m // 4)])
    dst = np.concatenate([rng.integers(0, n, m), rng.integers(0, n, m // 4)])
    return src, dst


@pytest.mark.parametrize("seed", range(8))
def test_lpa_twin_matches_oracle(seed):
    n = 40 + 7 * seed
    src, dst = _random_graph(seed, n, 2 * n)
    # keep the last vertices isolated: they must keep their own label
    n_total = n + 3
    for max_iter in (1, 3, 10):
        assert np.array_equal(
            label_propagation_twin(src, dst, n_total, max_iter),
            oracle.label_propagation(src, dst, n_total, max_iter),
        )


def test_lpa_twin_tie_goes_to_smaller_label():
    # 0 has one neighbour labelled 1 and one labelled 2: it takes 1
    src, dst = np.array([0, 0]), np.array([1, 2])
    got = label_propagation_twin(src, dst, 3, max_iter=1)
    assert np.array_equal(got, oracle.label_propagation(src, dst, 3, max_iter=1))
    assert got[0] == 1


def _write_edges(path, src, dst):
    pq.write_table(pa.table({"src": src, "dst": dst}), str(path))


def test_gate_rejects_wrong_outputs(tmp_path):
    ids = np.array([-5, 3, 9], dtype=np.int64)
    src, dst = ids[[0, 1, 2, 2]], ids[[1, 2, 0, 1]]
    _write_edges(tmp_path / "e.parquet", src, dst)
    want = expected_pagerank(str(tmp_path / "e.parquet"))
    check_ranks(ids[::-1].copy(), want[1][::-1].copy(), want, want[2])
    with pytest.raises(CheckFailed):
        check_ranks(ids, want[1] + 2e-6, want, want[2])
    with pytest.raises(CheckFailed):
        check_ranks(ids, want[1], want, want[2] + 1)

    import pandas as pd

    _ids, comp, _lpa, _tri = expected_structure(str(tmp_path / "e.parquet"))
    check_labels(pd.DataFrame({"node": ids, "component": comp}), "component", ids, comp)
    with pytest.raises(CheckFailed):
        check_labels(
            pd.DataFrame({"node": ids, "component": ids}), "component", ids, comp
        )


def test_checker_worker_returns_the_oracle_values(tmp_path):
    src, dst = _random_graph(3, 30, 90)
    ids = np.arange(30, dtype=np.int64) * 7 - 100  # sparse, partly negative ids
    _write_edges(tmp_path / "e.parquet", ids[src], ids[dst])
    checker = Checker()
    try:
        got = checker.call(expected_structure, str(tmp_path / "e.parquet"))
    finally:
        checker.close()
    local = expected_structure(str(tmp_path / "e.parquet"))
    for a, b in zip(got[:3], local[:3]):
        assert np.array_equal(a, b)
    assert got[3] == local[3] == oracle.triangle_count(src, dst, 30)
