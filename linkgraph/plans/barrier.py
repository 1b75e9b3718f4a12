"""Gang-scheduled PageRank: the whole convergence loop in ONE barrier stage.

This is the closest Spark re-expression of the reference's MPI pipeline
(/root/reference/main_mpi.c:67-154, pagerank_custom_mpi.h:40-79):

reference MPI                               | here (Spark barrier mode)
--------------------------------------------|----------------------------------
mpirun gang-starts W ranks                  | one barrier() stage of P tasks
                                            | (Spark guarantees co-scheduling;
                                            | the TorchDistributor/Horovod
                                            | pattern: barrier for rendezvous,
                                            | framework-owned data plane)
CSR block scattered once, resident per rank | each task loads its LPT-assigned
(main_mpi.c:122-126)                        | shards once, before the loop, and
                                            | keeps the numpy CSR arrays
contiguous node blocks per rank             | each task OWNS a contiguous
(main_mpi.c:88-108)                         | vertex segment [n·p/P, n·(p+1)/P)
                                            | of the rank vector
per-rank partial SpMV + OpenMP              | per-task numpy CSR kernel
(pagerank_custom_mpi.h:53-60)               | (plans/shards.py csr_partials)
MPI_Allgatherv re-materializes the dense    | one combine, over one TCP full
vector on every rank every iteration        | mesh: (1) one route round sends
(pagerank_custom_mpi.h:62-63)               | each shard's partial sums to the
                                            | OWNER of their [lo, hi) segment,
                                            | which combines them in part-
                                            | ascending order (so the floats
                                            | do not depend on P) and updates
                                            | its segment; (2) the vector is
                                            | reassembled either by a write
                                            | into host-shared /dev/shm rank
                                            | buffers (one-host gang; the
                                            | round carries only scalars) or
                                            | by a segment allgather — O(n/P)
                                            | per link, all links in parallel
MPI_Reduce of the norm; rank 0 decides      | per-segment δ² piggybacks on the
stop and broadcasts done (:65-76)           | round (2) messages; every task
                                            | sums them and decides
                                            | IDENTICALLY (same floats, same
                                            | order)

Why not per-iteration Spark jobs here: a driver-synchronized loop pays task
dispatch + result collection (~0.2-0.5 s) every iteration, which caps
scaling efficiency once the numpy kernel drops below ~1 s/iteration.

Rendezvous: the tasks exchange mesh endpoints through a one-shot TCP
registration server on the driver (_Rendezvous), not through Spark's
BarrierTaskContext.allGather/barrier(). Those carry a measured 1.00 s
sync floor (a 4-task barrier stage: 0.42 s without a sync, 1.40 s with
one allGather; the slowest task waited 1.003-1.008 s every time), more
than the rest of a small solve. The driver registration costs the tasks'
start stagger (0.06-0.12 s). The RDD's barrier() stays: it is what gang-
schedules the P tasks. The same per-launch secret authenticates the mesh:
a task accepts a peer connection only after its JSON hello carries it.

Trade-off vs the join-gather path (operators/pagerank.pagerank_dataframe):
barrier mode needs all P slots simultaneously (gang scheduling), and Spark
never retries a failed barrier ResultStage, so a task failure fails the
solve. Calling again with the same ``store``/``run_id`` resumes from the
last committed snapshot. The dataframe path reschedules per iteration and
tolerates executor churn.

Checkpointing: task 0 (which holds the full assembled vector after round 2)
writes rank snapshots + per-partition lineage/metrics in the exact
ParquetManifestStore layout (checkpoint.py) via pyarrow — manifest-committed
every iteration, resumable mid-convergence (north rule).
"""

from __future__ import annotations

import hmac
import json
import os
import pickle
import secrets
import shutil
import socket
import struct
import threading
import time

import numpy as np

from linkgraph.plans.shards import (
    ShardedGraph, csr_partials, load_csr_shard, save_npy_atomic,
)

_MSG_LIMIT = 1 << 34


def _frame(obj) -> bytes:
    data = pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    return struct.pack("<Q", len(data)) + data


def _recv_exact(sock: socket.socket, size: int) -> bytes:
    buf = bytearray(size)
    view = memoryview(buf)
    got = 0
    while got < size:
        n = sock.recv_into(view[got:], size - got)
        if n == 0:
            raise ConnectionError("peer closed")
        got += n
    return bytes(buf)


def _recv_msg(sock: socket.socket):
    (size,) = struct.unpack("<Q", _recv_exact(sock, 8))
    if size > _MSG_LIMIT:
        raise ValueError(f"message too large: {size}")
    return pickle.loads(_recv_exact(sock, size))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _recv_line(sock: socket.socket, limit: int = 4096) -> bytes:
    """One newline-terminated line, read byte by byte so nothing the peer
    sends after it is consumed."""
    buf = bytearray()
    while len(buf) < limit:
        b = sock.recv(1)
        if not b or b == b"\n":
            break
        buf += b
    return bytes(buf)


class _Mesh:
    """Full-mesh TCP peer connections among the P barrier tasks. ``server``
    is this task's listening socket, ``addrs`` every task's "host:port" in
    pid order, as the driver rendezvous returned them, and ``secret`` the
    launch secret. A connection counts as a peer only after its first line,
    a JSON hello ``{secret, pid}``, passes ``hmac.compare_digest`` and names
    a higher pid not yet connected; anything else is closed unread, so no
    byte from an unauthenticated socket reaches ``pickle.loads``."""

    def __init__(self, pid: int, P: int, server=None, addrs=None, secret: str = ""):
        self.pid = pid
        self.P = P
        self.conns: dict[int, socket.socket] = {}
        self._server = server
        if P == 1:
            return
        hello = json.dumps({"secret": secret, "pid": pid}).encode() + b"\n"
        # connect to lower pids; accept from higher pids
        for q in range(pid):
            h, p = addrs[q].rsplit(":", 1)
            s = socket.create_connection((h, int(p)), timeout=600)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            s.sendall(hello)
            self.conns[q] = s
        while len(self.conns) < P - 1:
            c, _ = self._server.accept()
            c.settimeout(10)  # a silent hello is dropped, not waited on
            try:
                msg = json.loads(_recv_line(c))
                q = msg["pid"]
                ok = (
                    hmac.compare_digest(str(msg["secret"]).encode(), secret.encode())
                    and type(q) is int and pid < q < P and q not in self.conns
                )
            except (OSError, ValueError, TypeError, KeyError):
                ok = False
            if not ok:
                c.close()
                continue
            c.settimeout(None)
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.conns[q] = c

    def exchange(self, outgoing: dict[int, object]):
        """Send outgoing[q] to each peer q; receive one message from every
        peer. Sender runs in a thread so all links drain in parallel
        (blocking both directions on one thread can deadlock once TCP
        buffers fill). Returns {q: message}."""
        if self.P == 1:
            return {}
        payloads = {q: _frame(outgoing[q]) for q in self.conns}

        def _send_all():
            for q, data in payloads.items():
                self.conns[q].sendall(data)

        t = threading.Thread(target=_send_all)
        t.start()
        got = {q: _recv_msg(self.conns[q]) for q in self.conns}
        t.join()
        return got

    def close(self):
        for c in self.conns.values():
            c.close()
        if self._server is not None:
            self._server.close()


_SHM = "/dev/shm"


def _host_shared(addrs: list[str], shm_ok: list[bool]) -> bool:
    """Whether the gang can share its rank buffers through /dev/shm: every
    task registered from one host, and every task can write there."""
    return len({a.rsplit(":", 1)[0] for a in addrs}) == 1 and all(shm_ok)


def _sweep_stale_roots() -> None:
    """Remove buffer roots that hard-killed runs left in /dev/shm over two
    hours ago (each launch names a fresh root, so nothing live is that
    old)."""
    now = time.time()
    for name in os.listdir(_SHM):
        if name.startswith("lg_mesh_"):
            path = os.path.join(_SHM, name)
            try:
                if now - os.path.getmtime(path) > 7200:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass


class _Rendezvous:
    """One-shot driver-side registration for one gang launch: a TCP server
    on ``host`` (port 0) served by a daemon thread. Each task sends one JSON
    line {secret, pid, addr, shm_ok}; a line whose secret does not match
    (hmac.compare_digest), whose pid is out of range or already registered,
    or that does not parse, gets its connection dropped. Nothing received
    is unpickled: this is a listening socket. Once all P pids registered,
    the server stops accepting and every task receives the same JSON reply:
    the pid-ordered mesh addresses and ``root``, the /dev/shm directory for
    host-shared rank buffers. ``root`` is null unless ``_host_shared``
    holds; pid 0 creates it.
    ``close`` (a ``finally`` around the stage's collect) closes the server
    and every accepted socket and removes the root, so a finished or failed
    stage leaves no thread, port or buffer behind and no task waits on a
    dead driver."""

    def __init__(self, host: str, P: int):
        self.P = P
        self.secret = secrets.token_hex(16)
        self.root = os.path.join(_SHM, "lg_mesh_" + secrets.token_hex(16))
        self._server = socket.create_server((host, 0))
        self._server.settimeout(0.2)  # accept() polls the close flag
        self.address = (host, self._server.getsockname()[1], self.secret)
        self._conns: list[socket.socket] = []
        self._closed = threading.Event()
        self._thread = threading.Thread(
            target=self._serve, name="linkgraph-rendezvous", daemon=True
        )
        self._thread.start()

    def _registration(self, conn: socket.socket, taken: dict):
        try:
            with conn.makefile("rb") as f:
                msg = json.loads(f.readline(4096))
            pid = msg["pid"]
            if (
                hmac.compare_digest(str(msg["secret"]).encode(), self.secret.encode())
                and type(pid) is int and 0 <= pid < self.P and pid not in taken
            ):
                return pid, str(msg["addr"]), bool(msg["shm_ok"])
        except (OSError, ValueError, TypeError, KeyError):
            pass
        return None

    def _serve(self) -> None:
        regs: dict[int, tuple] = {}
        try:
            while len(regs) < self.P and not self._closed.is_set():
                try:
                    conn, _ = self._server.accept()
                except socket.timeout:
                    continue
                self._conns.append(conn)
                conn.settimeout(10)
                reg = self._registration(conn, regs)
                if reg is None:
                    conn.close()
                    continue
                regs[reg[0]] = (conn, reg[1], reg[2])
            if len(regs) < self.P:
                return
            self._server.close()  # the group is complete: stop accepting
            addrs = [regs[q][1] for q in range(self.P)]
            shared = _host_shared(addrs, [regs[q][2] for q in range(self.P)])
            if shared:
                _sweep_stale_roots()
            reply = json.dumps(
                {"addrs": addrs, "root": self.root if shared else None}
            ).encode() + b"\n"
            for q in range(self.P):
                regs[q][0].sendall(reply)
        except OSError:
            pass  # closed by the driver, or a task went away: the stage fails
        finally:
            self._server.close()

    def close(self) -> None:
        self._closed.set()
        self._server.close()
        for c in list(self._conns):
            try:
                c.shutdown(socket.SHUT_RDWR)  # wakes a blocked readline
            except OSError:
                pass
            c.close()
        self._thread.join()
        for c in self._conns:  # also any accepted while the loop above ran
            c.close()
        # the tasks keep their buffer mappings until they exit; the name
        # goes now (a no-op when no root was granted or created)
        shutil.rmtree(self.root, ignore_errors=True)


def _register(address: tuple, pid: int, addr: str, shm_ok: bool) -> dict:
    """Task side of _Rendezvous: send this task's registration, block for
    the group's reply."""
    host, port, secret = address
    with socket.create_connection((host, port), timeout=600) as s:
        s.sendall(json.dumps(
            {"secret": secret, "pid": pid, "addr": addr, "shm_ok": shm_ok}
        ).encode() + b"\n")
        with s.makefile("rb") as f:
            line = f.readline()
    if not line:
        raise ConnectionError("gang rendezvous: the driver closed the registration")
    return json.loads(line)


def _make_mesh(pid: int, P: int, rendezvous: tuple | None):
    """Register with the driver and connect the TCP full mesh. Returns the
    mesh and the driver's buffer root (None: private rank buffers)."""
    if P == 1:
        return _Mesh(pid, P), None
    host = socket.gethostbyname(socket.gethostname())
    server = socket.create_server((host, 0))  # bound where it registers
    server.settimeout(600)
    reply = _register(
        rendezvous, pid, f"{host}:{server.getsockname()[1]}",
        os.access(_SHM, os.W_OK),
    )
    return _Mesh(pid, P, server, reply["addrs"], rendezvous[2]), reply["root"]


def pagerank_barrier(
    edges=None,
    d: float = 0.85,
    eps: float = 1e-6,
    max_iter: int = 200,
    check_convergence: bool = True,
    num_tasks: int | None = None,
    num_shards: int | None = None,
    store=None,
    run_id: str | None = None,
    sharded_graph: ShardedGraph | None = None,
    family: str = "a",
    weight_col: str | None = None,
):
    """PageRank (semantics of operators/pagerank.py, SURVEY §2.8; family
    "a" = per-iteration dangling redistribution, "b" = mtx/OCL leaking
    base with ONE final sum-normalization at publish time) with the
    entire iteration loop inside one barrier stage. Weighted layouts
    (ShardedGraph.build weight_col) work unchanged: the per-edge weight
    stream lives inside csr_partials and inv_od is the 0/1 dangling
    mask. Returns a PageRankResult whose ranks DataFrame is rebuilt from
    the collected vector."""
    if family not in ("a", "b"):
        raise ValueError(f"family must be 'a' or 'b', got {family!r}")
    fam_b = family == "b"
    from linkgraph.operators.pagerank import PageRankResult

    if sharded_graph is not None and weight_col is not None and not sharded_graph.weighted:
        raise ValueError(
            "pagerank_barrier: weight_col given but the prebuilt "
            "sharded_graph was built unweighted"
        )
    g = sharded_graph or ShardedGraph.build(
        edges, num_shards=num_shards, weight_col=weight_col
    )
    spark = g.spark
    sc = spark.sparkContext
    n, node_ids = g.n, g.node_ids
    P = max(1, min(num_tasks or sc.defaultParallelism, len(g.parts)))
    # contiguous vertex segments, one owner task each (main_mpi.c:88-108)
    seg_bounds = np.linspace(0, n, P + 1).astype(np.int64)

    start_iter = 0
    rank0 = np.full(n, 1.0 / n, dtype=np.float64)
    if store is not None and run_id is not None and store.latest_iteration(run_id) is not None:
        start_iter = store.latest_iteration(run_id)
        snap_nodes, snap_ranks = store.read_rank_arrays(spark, run_id, start_iter)
        rank0 = np.zeros(n, dtype=np.float64)
        rank0[np.searchsorted(node_ids, snap_nodes)] = snap_ranks

    ckpt_root = store.root if store is not None and run_id is not None else None
    dangling_idx = np.flatnonzero(g.dangling_mask)
    bc = sc.broadcast((rank0, dangling_idx, g.inv_od, node_ids if ckpt_root else None))
    path_of = dict(g.parts)

    # task 0 publishes the final vector here — a UNIQUE file, so earlier
    # results' lazy plans are never silently retargeted by a later solve
    # on the same graph
    rank_out = os.path.join(g.shard_dir, f"rank_out_{secrets.token_hex(16)}.npy")
    parts_sized = [(part, _dir_bytes(path)) for part, path in g.parts]
    tasks = list(range(P))
    rdv = _Rendezvous(sc.getConf().get("spark.driver.host"), P) if P > 1 else None
    rendezvous = rdv.address if rdv is not None else None

    def run(it_rows):
        from pyspark import BarrierTaskContext

        pid = BarrierTaskContext.get().partitionId()
        list(it_rows)  # drain; partition index IS the task id
        rank_init, dang_idx, inv_od, ids = bc.value
        lo, hi = int(seg_bounds[pid]), int(seg_bounds[pid + 1])

        # Static deterministic LPT assignment, identical on every task:
        # shards sorted by bytes desc, each assigned to the least-loaded
        # task (the edge-count-balanced block assignment of
        # main_mpi.c:88-108). Measured-cost adaptivity lost on this host
        # twice: a measured-rate LPT variant (rates from the previous
        # iteration are stale by the next one; the misallocation waits
        # exceeded the imbalance they removed) and per-iteration O_EXCL
        # work stealing (at P=32 a task whose peers were briefly
        # descheduled claimed nearly every shard and ran the SpMV alone:
        # 3-7 s iterations vs ~0.1 s static).
        size_of = dict(parts_sized)
        order_desc = [pp for pp, _sz in sorted(parts_sized, key=lambda x: (-x[1], x[0]))]
        load = [0.0] * P
        mine_parts = []
        for part in order_desc:
            q = min(range(P), key=lambda i: (load[i] + size_of[part], i))
            load[q] += size_of[part]
            if q == pid:
                mine_parts.append(part)
        # the task's CSR blocks, loaded once and resident for the whole
        # loop (main_mpi.c:122-126)
        shards = [(part, load_csr_shard(path_of[part])) for part in mine_parts]
        mesh, root = _make_mesh(pid, P, rendezvous)

        def base_of(old: np.ndarray) -> float:
            if fam_b:
                return (1.0 - d) / n
            leaked = float(old[dang_idx].sum())
            return (leaked + (1.0 - leaked) * (1.0 - d)) / n

        try:
            # ONE ping/pong pair of [rank | w=rank·inv_od] n-vector
            # buffers; iteration k gathers from parity (k-1)&1 and writes
            # parity k&1. Shared (one-host gang): the pair is mmaps on
            # /dev/shm, each task writes only its own [lo,hi) segment (no
            # races) and every task's gather reads the SAME physical
            # pages. This is Spark-broadcast semantics for processes (one
            # copy per node, readers share), and on this host it is the
            # difference between P private n-vectors thrashing the shared
            # L3 and one L3-resident copy (measured at n=4M: 32-proc
            # aggregate gather 2.05G/s shared vs 1.62G/s private,
            # self-relative efficiency 0.87 vs 0.37 — see
            # BENCH/BASELINE.md); writing your segment IS the allgather.
            # tmpfs pages cannot be hugepage-backed here
            # (shmem_enabled=never), which costs ~2x single-proc gather
            # TLB overhead vs THP-backed private arrays — the right trade
            # exactly when n·P exceeds LLC; below that both buffer kinds
            # measure within noise (BENCH/BASELINE.md). Private: the same
            # pair in task memory, each task writing every segment it
            # receives.
            shared = root is not None
            if shared:
                bufs = [os.path.join(root, f"vec{p}.buf") for p in (0, 1)]
                if pid == 0:
                    os.mkdir(root, 0o700)
                    for b in bufs:
                        with open(b, "wb") as f:
                            f.truncate(2 * n * 8)
                mesh.exchange({q: None for q in mesh.conns})  # buffers exist
                vecs = [np.memmap(b, dtype=np.float64, mode="r+", shape=(2, n))
                        for b in bufs]
                init = slice(lo, hi)
            else:
                vecs = [np.empty((2, n), dtype=np.float64) for _p in (0, 1)]
                init = slice(0, n)
            vecs[start_iter & 1][0, init] = rank_init[init]
            vecs[start_iter & 1][1, init] = rank_init[init] * inv_od[init]
            if shared:
                mesh.exchange({q: None for q in mesh.conns})  # segments written
                if pid == 0:
                    # every task has mapped both buffers: the mappings
                    # outlive the names, so nothing stays in /dev/shm
                    shutil.rmtree(root, ignore_errors=True)
            my_metrics: list[dict] = []
            iter_log: list[dict] = []

            def record(it_no, norm, full, met_by_pid, t0, t_kernel, t_route):
                """pid 0's lineage for one iteration: the iter_log entry
                plus the manifest checkpoint with every task's
                per-partition metrics in pid order."""
                all_met = [mm for q in sorted(met_by_pid) for mm in met_by_pid[q]]
                now = time.monotonic()
                entry = {"iteration": it_no, "norm": norm, "mass": float(full.sum()),
                         "wall_ms": (now - t0) * 1e3,
                         "kernel_ms": (t_kernel - t0) * 1e3,
                         "route_ms": (t_route - t_kernel) * 1e3,
                         "partitions": len(all_met),
                         "nnz": int(sum(mm["nnz"] for mm in all_met))}
                iter_log.append(entry)
                if ckpt_root is not None:
                    from linkgraph.checkpoint import write_iteration_arrays

                    write_iteration_arrays(
                        ckpt_root, run_id, it_no, ids, np.asarray(full), entry,
                        [{"iteration": it_no, **mm} for mm in all_met],
                    )

            it = start_iter
            norm = float("inf")
            converged = False
            for it in range(start_iter + 1, max_iter + 1):
                t0 = time.monotonic()
                cur, nxt = (it - 1) & 1, it & 1
                # (1) SpMV partials over this task's resident shards,
                # gathered from the w half of the current parity buffer
                w_rank = vecs[cur][1]
                pmet = []
                per_shard = []  # (part, u, s)
                for part, shard in shards:
                    tk = time.monotonic()
                    u, s, nnz = csr_partials(shard, w_rank)
                    per_shard.append((part, u, s))
                    pmet.append(
                        {"part_id": part, "nnz": nnz, "rows": len(u),
                         "wall_ms": (time.monotonic() - tk) * 1e3}
                    )
                t_kernel = time.monotonic()

                # (2) route each shard's partial slices to their segment
                # owners (one mesh round — the scatter half of
                # Allgatherv); each shard's uniq-dst array is sorted, so
                # the slice owned by task q is one searchsorted range.
                # Pieces carry their part id: the owner combines them
                # part-ascending, so the floats do not depend on which
                # task computed which shard, nor on P.
                pieces = {q: [] for q in range(P)}
                for part, u, s in per_shard:
                    c = np.searchsorted(u, seg_bounds)
                    for q in range(P):
                        if c[q + 1] > c[q]:
                            pieces[q].append((part, u[c[q]:c[q + 1]], s[c[q]:c[q + 1]]))
                mine = pieces.pop(pid)
                for q_pieces in mesh.exchange(pieces).values():
                    mine.extend(q_pieces)
                mine.sort(key=lambda piece: piece[0])
                t_route = time.monotonic()

                # (3) owner update of [lo, hi): base + d·contrib, δ²
                # local. leaked is computed from the full OLD rank half:
                # the SAME dang_idx order over the same floats on every
                # task, so every task reaches the same stop decision.
                old_full = vecs[cur][0]
                seg = np.full(hi - lo, base_of(old_full), dtype=np.float64)
                if mine:
                    all_u = np.concatenate([u for _p, u, _s in mine])
                    all_s = np.concatenate([s for _p, _u, s in mine])
                    seg += d * np.bincount(all_u - lo, weights=all_s, minlength=hi - lo)
                dsq = float(((seg - old_full[lo:hi]) ** 2).sum())

                # (4) write the own segment into both halves of the
                # next-parity buffer, then one mesh round. Shared, the
                # write IS the allgather and the round carries only δ²
                # and lineage; it doubles as the barrier that keeps
                # parity reuse safe: a task reaches iteration k+2
                # (overwriting parity k) only after every peer sent its
                # k+1 round, i.e. after every read of parity k has
                # completed. Private, the round also carries the segment
                # (the reference's Allgatherv, pagerank_custom_mpi.h:
                # 62-63) and each task writes what it receives; per-shard
                # lineage metrics piggyback so task 0 logs ALL partitions.
                vecs[nxt][0, lo:hi] = seg
                vecs[nxt][1, lo:hi] = seg * inv_od[lo:hi]
                got = mesh.exchange(
                    {q: (None if shared else seg, dsq, pmet) for q in range(P) if q != pid}
                )
                dsq_by_pid = {pid: dsq}
                met_by_pid = {pid: pmet}
                for q, (qseg, qdsq, qmet) in got.items():
                    if qseg is not None:
                        qlo, qhi = int(seg_bounds[q]), int(seg_bounds[q + 1])
                        vecs[nxt][0, qlo:qhi] = qseg
                        vecs[nxt][1, qlo:qhi] = qseg * inv_od[qlo:qhi]
                    dsq_by_pid[q] = qdsq
                    met_by_pid[q] = qmet
                # accumulate δ² in FIXED global pid order (own dsq
                # included at its sorted position, not first): every
                # task sums the same floats in the same order, so a
                # last-ulp difference cannot make tasks disagree on
                # `converged` — a divergent stop decision would
                # deadlock the mesh.
                nsq = 0.0
                for q in sorted(dsq_by_pid):
                    nsq += dsq_by_pid[q]

                norm = float(np.sqrt(nsq))
                converged = bool(check_convergence and norm <= eps)
                my_metrics.extend(pmet)
                if pid == 0:
                    record(it, norm, vecs[nxt][0], met_by_pid, t0, t_kernel, t_route)
                if converged or it >= max_iter:
                    break

            if pid == 0:
                # the last written parity (the start vector when no
                # iteration ran)
                rank = np.asarray(vecs[it & 1][0])
                if fam_b:
                    # Family B's ONE final sum-normalization
                    # (pagerank_OCL.h:156-161) — applied exactly once, at
                    # publish; iteration checkpoints stay raw so a resume
                    # continues the genuine leaking trajectory
                    rank = rank / rank.sum()
                # publish the final vector to shard storage (atomic rename)
                # instead of yielding the n-array through collect(): the
                # driver materializes the result table DISTRIBUTED via
                # ShardedGraph.ranks_df — no O(n) driver serialization.
                save_npy_atomic(rank_out, rank)
                yield {"kind": "result", "iterations": it,
                       "norm": norm, "converged": converged, "iter_log": iter_log}
            yield {"kind": "task", "pid": pid, "metrics": my_metrics}
        finally:
            mesh.close()

    try:
        out = sc.parallelize(tasks, P).barrier().mapPartitions(run).collect()
    finally:
        if rdv is not None:
            rdv.close()
        bc.destroy()
    res = next(o for o in out if o["kind"] == "result")
    ranks_df = g.ranks_df(vector_path=rank_out)  # published by task 0
    if sharded_graph is None:
        # pin the distributed result before the owned temp dir is removed
        ranks_df = ranks_df.localCheckpoint(eager=True)
        g.unpersist()
    return PageRankResult(
        ranks=ranks_df,
        iterations=res["iterations"],
        norm=res["norm"],
        converged=res["converged"],
        iter_metrics=res["iter_log"],
        strategy="barrier",
    )
