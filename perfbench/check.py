"""Output gate: expected values from ``linkgraph.oracle`` and the comparisons.

The expected values are computed in a separate worker process (see
``Checker``; ``python3 -m perfbench.check`` serves it), so the driver's
peak RSS (``driver_rss_mb``) measures the engine's driver, not the oracles. Inputs reach the worker as parquet edge
tables; results come back as n-sized arrays keyed by the sorted original
node ids. Every oracle works on dense ids in [0, n); the mapping to dense
ids is the sorted order of the original ids, so "min id" (components) and
"smaller label wins" (label propagation) mean the same on both sides.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback

import numpy as np


class CheckFailed(Exception):
    pass


def _read_edges(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["src", "dst"])
    src = t.column("src").to_numpy()
    dst = t.column("dst").to_numpy()
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def read_table(path: str, key: str, value: str):
    """(sorted keys, values) of a two-column parquet result."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[key, value])
    k = t.column(key).to_numpy()
    v = t.column(value).to_numpy()
    order = np.argsort(k, kind="stable")
    return k[order], v[order]


def label_propagation_twin(src, dst, n: int, max_iter: int = 10) -> np.ndarray:
    """Vectorized ``oracle.label_propagation``: synchronous rounds on the
    simple undirected view; each vertex with a neighbor takes the most
    frequent neighbor label, ties to the smaller label; stop at a fixpoint
    or after ``max_iter`` rounds."""
    src = np.asarray(src, np.int64)
    dst = np.asarray(dst, np.int64)
    keep = src != dst
    a, b = src[keep], dst[keep]
    pairs = np.unique(
        np.stack([np.concatenate([a, b]), np.concatenate([b, a])], axis=1), axis=0
    )
    s, t = pairs[:, 0], pairs[:, 1]
    labels = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        lab = labels[t]
        order = np.lexsort((lab, s))
        s_o, l_o = s[order], lab[order]
        head = np.ones(len(s_o), dtype=bool)
        head[1:] = (s_o[1:] != s_o[:-1]) | (l_o[1:] != l_o[:-1])
        starts = np.flatnonzero(head)
        counts = np.diff(np.append(starts, len(s_o)))
        gs, gl = s_o[starts], l_o[starts]
        # per vertex: highest count first, then the smaller label
        best = np.lexsort((gl, -counts, gs))
        first = np.ones(len(best), dtype=bool)
        first[1:] = gs[best][1:] != gs[best][:-1]
        new = labels.copy()
        new[gs[best][first]] = gl[best][first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def expected_pagerank(edge_path: str):
    from linkgraph.oracle import pagerank_family_a

    ids, src, dst = _read_edges(edge_path)
    rank, iters = pagerank_family_a(src, dst, len(ids))
    return ids, rank, iters


def expected_structure(edge_path: str, lpa_rounds: int = 10):
    from linkgraph.oracle import connected_components, triangle_count

    ids, src, dst = _read_edges(edge_path)
    n = len(ids)
    comp = ids[connected_components(src, dst, n)]
    lpa = ids[label_propagation_twin(src, dst, n, lpa_rounds)]
    return ids, comp, lpa, triangle_count(src, dst, n)


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_ranks(nodes, got, expected, iterations: int) -> None:
    ids, rank, iters = expected
    order = np.argsort(nodes, kind="stable")
    nodes, got = nodes[order], got[order]
    require(iterations == iters, f"iterations {iterations} != oracle {iters}")
    require(np.array_equal(nodes, ids), "ranked vertex set differs from the oracle")
    err = float(np.max(np.abs(got - rank)))
    require(err <= 1e-6, f"max |rank - oracle| = {err:.3g} > 1e-6")


def check_labels(table, col: str, ids, want) -> None:
    """``table``: pandas [node, col] as the engine returned it."""
    table = table.sort_values("node", kind="stable")
    nodes, got = table["node"].to_numpy(), table[col].to_numpy()
    require(np.array_equal(nodes, ids), f"{col}: vertex set differs from the oracle")
    bad = int(np.count_nonzero(got != want))
    require(bad == 0, f"{col}: {bad} of {len(ids)} vertices differ from the oracle")


class Checker:
    """Client of one worker process that computes expected values; the
    worker starts on the first call. Requests and replies are pickles on
    the worker's stdin/stdout."""

    def __init__(self):
        self._proc = None

    def call(self, fn, *args):
        if self._proc is None:
            self._proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.check"],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
            )
        pickle.dump((fn.__name__, args), self._proc.stdin)
        self._proc.stdin.flush()
        ok, value = pickle.load(self._proc.stdout)
        if not ok:
            raise CheckFailed(f"oracle {fn.__name__} failed:\n{value}")
        return value

    def close(self) -> None:
        if self._proc is not None:
            self._proc.stdin.close()
            self._proc.wait(timeout=60)
            self._proc = None


def serve() -> None:
    requests, replies = sys.stdin.buffer, sys.stdout.buffer
    while True:
        try:
            name, args = pickle.load(requests)
        except EOFError:
            return
        try:
            reply = (True, globals()[name](*args))
        except Exception:  # reported to the client, which fails the op
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


if __name__ == "__main__":
    serve()
