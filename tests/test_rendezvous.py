"""The gang's driver-side rendezvous (plans/barrier._Rendezvous): tasks
register their mesh endpoint over one TCP connection to the driver and all
receive the same pid-ordered reply, with a /dev/shm buffer root only for a
one-host gang whose tasks can all write there; anything without the launch
secret is refused, and closing the server releases every waiting task."""

import os
import random
import shutil
import socket
import threading
import time

import pytest

from linkgraph.plans.barrier import _register, _Rendezvous, pagerank_barrier
from linkgraph.plans.shards import ShardedGraph
from tests import conftest as fx


def _rendezvous_threads():
    return [t for t in threading.enumerate() if t.name == "linkgraph-rendezvous"]


def _register_all(rdv, addrs, shm_ok, order):
    replies, errors = {}, []

    def register(pid):
        try:
            replies[pid] = _register(rdv.address, pid, addrs[pid], shm_ok[pid])
        except Exception as e:  # surfaced by the callers' asserts
            errors.append(e)

    threads = []
    for pid in order:
        t = threading.Thread(target=register, args=(pid,))
        t.start()
        threads.append(t)
        time.sleep(0.02)
    for t in threads:
        t.join(30)
    assert not errors
    return replies


def test_rendezvous_replies_in_pid_order():
    P = 4
    rdv = _Rendezvous("127.0.0.1", P)
    order = list(range(P))
    random.Random(5).shuffle(order)
    try:
        replies = _register_all(
            rdv, [f"h{q}:{7000 + q}" for q in range(P)], [True] * P, order
        )
        assert sorted(replies) == list(range(P))
        for reply in replies.values():
            assert reply == {
                "addrs": [f"h{q}:{7000 + q}" for q in range(P)],
                "root": None,  # four hosts: no shared buffers
            }
        # the group is complete: the server no longer accepts
        with pytest.raises(ConnectionError):
            _register(rdv.address, 0, "h0:1", True)
    finally:
        rdv.close()
    assert not rdv._thread.is_alive()


def test_rendezvous_grants_a_buffer_root_to_a_one_host_gang():
    addrs = [f"127.0.0.1:{7000 + q}" for q in range(3)]
    stale = f"/dev/shm/lg_mesh_stale_{os.getpid()}"
    os.makedirs(stale)
    os.utime(stale, (time.time() - 3 * 3600,) * 2)
    try:
        for shm_ok, granted in (
            ([True] * 3, True),
            ([True, False, True], False),  # one task cannot write there
        ):
            rdv = _Rendezvous("127.0.0.1", 3)
            try:
                replies = _register_all(rdv, addrs, shm_ok, [2, 0, 1])
            finally:
                rdv.close()
            root = rdv.root if granted else None
            assert [r["root"] for r in replies.values()] == [root] * 3
            assert not os.path.exists(rdv.root)  # named, not created
        assert not os.path.exists(stale)  # swept when a root was granted
    finally:
        shutil.rmtree(stale, ignore_errors=True)


def test_rendezvous_refuses_wrong_secret_and_garbage():
    rdv = _Rendezvous("127.0.0.1", 1)
    host, port, secret = rdv.address
    try:
        with pytest.raises(ConnectionError):
            _register((host, port, "0" * len(secret)), 0, "h:1", True)
        with socket.create_connection((host, port), timeout=30) as s:
            s.sendall(b"not json\n")
            assert s.recv(1) == b""  # dropped without a reply
        # neither took pid 0's place
        assert _register(rdv.address, 0, "h:1", True)["addrs"] == ["h:1"]
    finally:
        rdv.close()


def test_rendezvous_close_releases_a_waiting_task():
    rdv = _Rendezvous("127.0.0.1", 2)
    errors = []

    def register():
        try:
            _register(rdv.address, 0, "h:1", True)
        except ConnectionError as e:
            errors.append(e)

    t = threading.Thread(target=register)
    t.start()
    time.sleep(0.2)  # pid 0 registered; pid 1 never comes
    rdv.close()
    t.join(30)
    assert not t.is_alive() and len(errors) == 1
    assert not rdv._thread.is_alive()


def test_failed_gang_raises_and_leaves_no_rendezvous(spark):
    """A gang whose shard file vanished after the build fails the solve
    promptly, and the driver's rendezvous thread is gone afterwards."""
    src, dst, n = fx.karate_club()
    g = ShardedGraph.build(fx.edges_df(spark, src, dst), num_shards=4)
    try:
        part_dir = g.parts[0][1]
        for f in os.listdir(part_dir):
            os.remove(os.path.join(part_dir, f))
        t0 = time.monotonic()
        with pytest.raises(Exception):
            pagerank_barrier(sharded_graph=g, eps=1e-9, num_tasks=4)
        assert time.monotonic() - t0 < 120
    finally:
        g.unpersist()
    assert not _rendezvous_threads()
