"""The gang's one transport: the TCP full mesh (plans/barrier._Mesh) carries
every message, and a one-host gang shares its rank buffers through
/dev/shm. Shared and private buffers must produce identical PageRank
vectors and iteration counts — the Spark analogue of the reference racing
its serial/OMP/OCL/MPI implementations against each other
(/root/reference/main.c:109-112) — and mesh peers must authenticate before
anything they send is unpickled."""

import glob
import json
import socket
import threading

import numpy as np

from linkgraph.plans import barrier
from linkgraph.plans.barrier import _Mesh, pagerank_barrier
from tests import conftest as fx


def _vec(res):
    d = {r["node"]: r["rank"] for r in res.ranks.collect()}
    return np.array([d[k] for k in sorted(d)])


def test_shared_and_private_buffers_identical(spark, monkeypatch):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    granted = []
    host_shared = barrier._host_shared

    def record(*a):
        granted.append(host_shared(*a))
        return granted[-1]

    monkeypatch.setattr(barrier, "_host_shared", record)
    a = pagerank_barrier(df, eps=1e-9, num_tasks=4, num_shards=4)
    assert granted == [True]  # one host, /dev/shm writable: shared buffers
    monkeypatch.setattr(barrier, "_host_shared", lambda *a: False)
    b = pagerank_barrier(df, eps=1e-9, num_tasks=4, num_shards=4)
    assert a.iterations == b.iterations
    # same exchange, same combine order => same floats
    assert np.array_equal(_vec(a), _vec(b))


def test_shared_buffer_resume_equals_uninterrupted(spark, tmp_path):
    """A one-host gang => host-shared ping/pong rank buffers. A
    run interrupted at iteration k and resumed must land on the same vector
    as an uninterrupted run (same floats: the shared path reads/writes the
    same values the private path holds, in the same order)."""
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.toy_chain_dangling()
    df = fx.edges_df(spark, src, dst)
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    pagerank_barrier(
        df, eps=1e-9, max_iter=5, num_tasks=3, store=store, run_id="sb"
    )
    assert store.latest_iteration("sb") == 5
    resumed = pagerank_barrier(
        df, eps=1e-9, max_iter=300, num_tasks=3, store=store, run_id="sb"
    )
    full = pagerank_barrier(df, eps=1e-9, max_iter=300, num_tasks=3)
    assert resumed.iterations == full.iterations
    assert np.array_equal(_vec(resumed), _vec(full))


def test_shared_buffers_leave_nothing_in_dev_shm(spark):
    pre = set(glob.glob("/dev/shm/lg_mesh_*"))  # killed runs may leak dirs
    src, dst, n = fx.toy_cycle()
    df = fx.edges_df(spark, src, dst)
    pagerank_barrier(df, eps=1e-8, num_tasks=4)
    assert set(glob.glob("/dev/shm/lg_mesh_*")) - pre == set()


_UNPICKLED = threading.Event()


def _fire():
    _UNPICKLED.set()


class _Armed:
    """Unpickling this object sets _UNPICKLED: the test's proof that a
    refused connection's bytes were never unpickled."""

    def __reduce__(self):
        return (_fire, ())


def test_mesh_refuses_unauthenticated_peers_before_unpickling():
    secret = "s" * 32
    servers = [socket.create_server(("127.0.0.1", 0)) for _ in range(2)]
    for s in servers:
        s.settimeout(30)
    addrs = [f"127.0.0.1:{s.getsockname()[1]}" for s in servers]
    # rogues reach pid 0's listener before pid 1 does: a framed pickle, a
    # hello with the wrong secret, and one claiming pid 0's own slot
    rogues = []
    for payload in (
        barrier._frame(_Armed()) + b"\n",
        json.dumps({"secret": "x" * 32, "pid": 1}).encode() + b"\n",
        json.dumps({"secret": secret, "pid": 0}).encode() + b"\n",
    ):
        r = socket.create_connection(("127.0.0.1", servers[0].getsockname()[1]))
        r.sendall(payload)
        rogues.append(r)

    meshes, errors = {}, []

    def start(pid):
        try:
            meshes[pid] = _Mesh(pid, 2, servers[pid], addrs, secret)
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    threads = [threading.Thread(target=start, args=(pid,)) for pid in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    try:
        assert not errors and sorted(meshes) == [0, 1]
        for r in rogues:
            r.settimeout(30)
            assert r.recv(1) == b""  # closed unanswered
        assert not _UNPICKLED.is_set()
        # the authenticated pair carries messages
        got = {}

        def exchange(pid):
            got[pid] = meshes[pid].exchange({1 - pid: f"from {pid}"})

        threads = [threading.Thread(target=exchange, args=(pid,)) for pid in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert got == {0: {1: "from 1"}, 1: {0: "from 0"}}
    finally:
        for r in rogues:
            r.close()
        for m in meshes.values():
            m.close()
        for s in servers:
            s.close()
