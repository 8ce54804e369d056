"""Collective communication for barrier-mode training.

Re-expresses the reference's collective layer (`src/collective/comm.h:184`,
allreduce `src/collective/allreduce.cc:21-129`, rendezvous tracker
`src/collective/tracker.h:80`) for Spark's barrier execution mode:

- rendezvous: a per-fit driver-side `RendezvousServer` replaces the
  Rabit tracker — each task binds a listening socket, registers
  ``(rank, ip, port)`` with the server and receives the full peer table,
  and point-to-point links are formed between exchange partners only
  (the reference's own Spark wrapper bootstraps from the driver too,
  `spark/core.py:1036-1093`).  A single-task job skips rendezvous;
- allreduce: recursive-halving reduce-scatter + recursive-doubling
  allgather (Rabenseifner's algorithm — Thakur, Rabenseifner & Gropp,
  IJHPCA 2005, the same family MPI_Allreduce uses), with a pair-fold
  pre/post step for non-power-of-two rank counts.  ``2*log2(p) + 2``
  latency steps and ``~2x payload`` bytes per rank.  The boosting
  loop's histogram payloads are small (<= a few MB), so each allreduce
  is LATENCY-bound: at p=32 a ring's 62 sequential socket steps
  measured ~56 ms per call and 93% of the whole training loop (sf0.1
  profile); halving-doubling needs 12 steps for the same reduction.
- the two halves are public, and `Comm.allreduce` is just one call of
  each: ``reduce_scatter`` (pair-fold + halving) leaves each of the
  ``owners`` ranks (the largest power of two <= p) with one fully
  reduced contiguous range, and a folded-out rank with an empty one;
  ``allgather`` (doubling + unfold) copies the owned ranges back to
  every rank.  The barrier trainer stops after the first half for its
  histograms and searches splits only on the features its range holds
  (`plans/barrier._AllreduceHistBuilder`); it gathers the small
  per-rank candidate tables with the second half.

Determinism contract (the deterministic replicated tree-growth loop
relies on it): every element of the reduced array is combined along a
fixed topology-defined association order, each element is owned by
exactly ONE rank when fully reduced, and the allgather/unfold phases
copy those bytes verbatim — so all ranks observe bit-identical results,
and re-running the same job reproduces them exactly.  (IEEE addition is
commutative, so the two sides of one exchange computing ``a+b`` and
``b+a`` agree bitwise; only association order matters, and that is
fixed by the rank topology.)  The order depends on the halving-partner
sequence only, never on where the segment boundaries fall: at p=4
every element sums as ``(r0+r2)+(r1+r3)``.  So an owned range holds
exactly the bits a full allreduce returns there, and reducing any
subset of elements on its own (the trainer's categorical features)
gives those same bits too.
"""

from __future__ import annotations

import json
import select
import socket
import struct
import time

import numpy as np

_HDR = struct.Struct("<q")


def _local_ip() -> str:
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            s.connect(("10.254.254.254", 1))  # no traffic sent; picks egress iface
            return s.getsockname()[0]
        finally:
            s.close()
    except OSError:
        return "127.0.0.1"


class Comm:
    """Interface; `Loopback` for a single task, `MeshComm` otherwise."""

    rank: int = 0
    nranks: int = 1

    @property
    def owners(self) -> int:
        """Ranks that own a non-empty range after `reduce_scatter`: the
        largest power of two <= nranks."""
        return _fold_count(self.nranks)[0]

    def reduce_scatter(self, arr: np.ndarray, op: str = "sum"):
        """First half of `allreduce`: ``(lo, part)``, where ``part`` is
        the fully reduced ``arr.ravel()[lo:lo + len(part)]`` that this
        rank owns.  op in {sum, min, max} (reference `Op` enum,
        comm.h:184)."""
        raise NotImplementedError

    def allgather(self, part: np.ndarray, n: int) -> np.ndarray:
        """Second half of `allreduce`: every rank passes the part it owns
        of an n-element array (as `reduce_scatter` of n elements assigns
        them) and receives the whole array, each part copied verbatim."""
        raise NotImplementedError

    def reduce_scatter_sum(self, arr: np.ndarray):
        return self.reduce_scatter(arr, "sum")

    def allreduce(self, arr: np.ndarray, op: str = "sum") -> np.ndarray:
        a = np.asarray(arr, dtype=np.float64)
        return self.allgather(self.reduce_scatter(a, op)[1],
                              a.size).reshape(a.shape)

    def allreduce_sum(self, arr: np.ndarray) -> np.ndarray:
        return self.allreduce(arr, "sum")

    def allreduce_scalar(self, *vals: float) -> tuple[float, ...]:
        out = self.allreduce_sum(np.asarray(vals, dtype=np.float64))
        return tuple(float(v) for v in out)

    def allreduce_minmax(self, mins: np.ndarray, maxs: np.ndarray):
        """Elementwise global (min, max) in ONE allreduce: min over the
        concatenation of ``[mins, -maxs]``."""
        both = np.concatenate([np.asarray(mins, dtype=np.float64).ravel(),
                               -np.asarray(maxs, dtype=np.float64).ravel()])
        red = self.allreduce(both, "min")
        k = len(red) // 2
        return red[:k], -red[k:]

    def allgather_rows(self, a: np.ndarray) -> np.ndarray:
        """Every rank's 2-D float64 block concatenated in rank order
        (all ranks must pass the same column count).  Two sum
        allreduces: the per-rank row counts, then a zero-padded buffer
        in which each rank fills only its own slot.  ``x + 0.0 == x``
        for every float but ``-0.0``, so the blocks arrive verbatim
        (a negative zero arrives as ``+0.0``)."""
        a = np.asarray(a, dtype=np.float64)
        counts = np.zeros(self.nranks)
        counts[self.rank] = len(a)
        off = np.concatenate(
            [[0], np.cumsum(self.allreduce_sum(counts))]).astype(np.int64)
        buf = np.zeros((int(off[-1]), a.shape[1]))
        buf[off[self.rank]:off[self.rank + 1]] = a
        return self.allreduce_sum(buf)

    def close(self):
        pass


_OPS = {"sum": np.add, "min": np.minimum, "max": np.maximum}


class Loopback(Comm):
    def reduce_scatter(self, arr: np.ndarray, op: str = "sum"):
        return 0, np.asarray(arr, dtype=np.float64).ravel()

    def allgather(self, part: np.ndarray, n: int) -> np.ndarray:
        return part

    def allgather_rows(self, a: np.ndarray) -> np.ndarray:
        return np.asarray(a, dtype=np.float64)


def _recv_line(sock: socket.socket, deadline: float) -> bytes:
    buf = bytearray()
    while not buf.endswith(b"\n"):
        sock.settimeout(max(0.1, deadline - time.time()))
        chunk = sock.recv(65536)
        if not chunk:
            raise IOError("rendezvous peer closed early")
        buf.extend(chunk)
    return bytes(buf[:-1])


def _driver_rendezvous(barrier_ctx, rendezvous: tuple, me: dict,
                       p: int) -> list[dict]:
    """Register this rank's (ip, port) with the driver-side
    `RendezvousServer` and receive the full ordered peer table.

    Millisecond socket round-trips, where a `BarrierTaskContext`
    allGather RPC costs a fixed ~1.0 s in this Spark build.  Zombie-attempt
    safety: registrations carry the task's attemptNumber, and the
    server only completes an epoch from p DISTINCT ranks of ONE
    attempt, so tasks of a killed stage attempt can never wire into a
    retried attempt's mesh."""
    host, port, token = rendezvous
    deadline = time.time() + 120
    msg = dict(me)
    msg["attempt"] = barrier_ctx.attemptNumber()
    msg["token"] = token
    while True:
        try:
            s = socket.create_connection((host, port), timeout=10)
            break
        except OSError:
            if time.time() > deadline:
                raise
            time.sleep(0.05)
    try:
        s.sendall(json.dumps(msg).encode() + b"\n")
        table = json.loads(_recv_line(s, deadline))
    finally:
        s.close()
    return sorted(table, key=lambda d: d["rank"])


class RendezvousServer:
    """Driver-side address-exchange point for one barrier job.

    Collects ``(rank, ip, port)`` registrations from the job's p tasks
    and replies to each with the full table once all p distinct ranks
    of one stage attempt have registered.  Lives for the duration of
    one fit (create before submitting the action, ``close()`` in the
    caller's finally); each fit gets its own server+port, so concurrent
    fits in one application (cv folds, the entry harness's thread pool)
    can never cross-wire.  A random token rejects strays."""

    def __init__(self, expected: int):
        import os as _os
        import threading as _threading
        self.expected = int(expected)
        self.token = _os.urandom(16).hex()
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("0.0.0.0", 0))
        self._srv.listen(max(16, self.expected))
        self._srv.settimeout(0.5)
        self._closed = False
        self._thread = _threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    @property
    def address(self) -> tuple:
        return (_local_ip(), self._srv.getsockname()[1], self.token)

    def _serve(self):
        # epochs[attempt] = {rank: (conn, entry)}
        epochs: dict[int, dict[int, tuple]] = {}
        while not self._closed:
            try:
                conn, _ = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            try:
                line = _recv_line(conn, time.time() + 30)
                msg = json.loads(line)
                if msg.get("token") != self.token:
                    conn.close()
                    continue
                att = int(msg.get("attempt", 0))
                ep = epochs.setdefault(att, {})
                old = ep.get(msg["rank"])
                if old is not None:
                    old[0].close()      # re-registration supersedes
                ep[msg["rank"]] = (conn, {"rank": msg["rank"],
                                          "ip": msg["ip"],
                                          "port": msg["port"]})
                if len(ep) == self.expected:
                    table = json.dumps(
                        [ce[1] for _r, ce in sorted(ep.items())]
                    ).encode() + b"\n"
                    for c, _e in ep.values():
                        try:
                            c.sendall(table)
                        except OSError:
                            pass        # dead task: its retry re-registers
                        finally:
                            c.close()
                    del epochs[att]
            except Exception:
                try:
                    conn.close()
                except OSError:
                    pass

    def close(self):
        self._closed = True
        try:
            self._srv.close()
        except OSError:
            pass


def _fold_count(p: int) -> tuple[int, int]:
    """(q, rem): q = largest power of two <= p, rem = p - q.  Ranks
    ``0..2*rem-1`` pair-fold (odd into even) so the main phase runs on
    exactly ``q`` participants."""
    q = 1 << (p.bit_length() - 1)
    return q, p - q


def _eff_rank(r: int, rem: int) -> int | None:
    """Effective rank inside the power-of-two group (None = folded-out
    odd rank that only participates in the fold/unfold steps)."""
    if r < 2 * rem:
        return r // 2 if r % 2 == 0 else None
    return r - rem


def _actual_rank(eff: int, rem: int) -> int:
    return 2 * eff if eff < rem else eff + rem


def _partners(rank: int, p: int) -> list[int]:
    """Every peer this rank exchanges with in any allreduce phase."""
    q, rem = _fold_count(p)
    out = []
    if rank < 2 * rem:
        out.append(rank ^ 1)                      # fold pair
    eff = _eff_rank(rank, rem)
    if eff is not None:
        half = q >> 1
        while half >= 1:
            out.append(_actual_rank(eff ^ half, rem))
            half >>= 1
    return out


class MeshComm(Comm):
    """Socket mesh between halving-doubling exchange partners (a 1-task
    job degrades to `Loopback`)."""

    def __init__(self, rank: int, nranks: int,
                 socks: dict[int, socket.socket], srv: socket.socket):
        self.rank = rank
        self.nranks = nranks
        self._socks = socks
        self._srv = srv
        for s in socks.values():
            s.setblocking(False)

    # -- rendezvous ----------------------------------------------------
    @classmethod
    def create(cls, barrier_ctx, rendezvous: tuple | None = None) -> Comm:
        """Build the partner mesh from a `BarrierTaskContext`.

        ``rendezvous``: ``(host, port, token)`` of the fit's driver-side
        `RendezvousServer`; required when the job has more than one
        task.  The rank count is LOCAL metadata (`getTaskInfos`, no
        RPC), so a single-task job never synchronizes at all."""
        rank = barrier_ctx.partitionId()
        p = len(barrier_ctx.getTaskInfos())
        if p == 1:
            return Loopback()
        if rendezvous is None:
            raise ValueError(f"a {p}-rank mesh needs a RendezvousServer "
                             "address")
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("0.0.0.0", 0))
        srv.listen(16)
        port = srv.getsockname()[1]
        me = {"rank": rank, "ip": _local_ip(), "port": port}
        peers = _driver_rendezvous(barrier_ctx, rendezvous, me, p)
        if len(peers) != p:
            srv.close()
            raise IOError(f"rendezvous returned {len(peers)} peers, "
                          f"expected {p}")
        want = _partners(rank, p)
        socks: dict[int, socket.socket] = {}
        deadline = time.time() + 120
        # lower rank dials, higher rank accepts — a fixed orientation so
        # every link is attempted exactly once from exactly one side
        for q_ in want:
            if q_ > rank:
                continue
            while True:
                try:
                    s = socket.create_connection(
                        (peers[q_]["ip"], peers[q_]["port"]), timeout=10)
                    break
                except OSError:
                    if time.time() > deadline:
                        raise
                    time.sleep(0.05)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            s.sendall(_HDR.pack(rank))
            socks[q_] = s
        n_accept = sum(1 for q_ in want if q_ > rank)
        srv.settimeout(120)
        for _ in range(n_accept):
            c, _ = srv.accept()
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            peer = _HDR.unpack(_recv_exact_blocking(c, _HDR.size))[0]
            if peer not in want or peer in socks:
                raise IOError(f"mesh mis-wired: unexpected peer {peer} "
                              f"for rank {rank} (want {sorted(want)})")
            socks[peer] = c
        return cls(rank, p, socks, srv)

    # -- duplex exchange ----------------------------------------------
    def _exchange(self, sock: socket.socket, send_bytes: bytes,
                  recv_buf: memoryview):
        """Simultaneously send to and fill recv_buf from one partner
        (select-based duplex: large payloads cannot deadlock)."""
        sview = memoryview(send_bytes)
        si, ri, rn = 0, 0, len(recv_buf)
        deadline = time.time() + 300
        while si < len(sview) or ri < rn:
            if time.time() > deadline:
                raise TimeoutError("allreduce exchange stalled")
            rl, wl, _ = select.select(
                [sock] if ri < rn else [],
                [sock] if si < len(sview) else [], [], 30)
            if rl:
                n = sock.recv_into(recv_buf[ri:], rn - ri)
                if n == 0:
                    raise IOError("allreduce peer closed connection")
                ri += n
            if wl:
                si += sock.send(sview[si:si + (1 << 20)])

    def _send(self, peer: int, data: bytes):
        self._exchange(self._socks[peer], data, memoryview(b""))

    def _recv(self, peer: int, buf: memoryview):
        self._exchange(self._socks[peer], b"", buf)

    # -- halving-doubling allreduce (Rabenseifner) ---------------------
    def _halving(self, n: int):
        """The reduce-scatter's steps over an n-element array, outermost
        first: ``(s, e, mid, partner, lower)`` per step, and the owned
        range ``(s, e)`` left at the end (empty for a folded-out rank)."""
        q, rem = _fold_count(self.nranks)
        eff = _eff_rank(self.rank, rem)
        if eff is None:
            return [], (0, 0)
        steps = []
        s, e = 0, n
        half = q >> 1
        while half >= 1:
            lower = (eff & half) == 0
            mid = s + (e - s) // 2
            steps.append((s, e, mid, _actual_rank(eff ^ half, rem), lower))
            s, e = (s, mid) if lower else (mid, e)
            half >>= 1
        return steps, (s, e)

    def reduce_scatter(self, arr: np.ndarray, op: str = "sum"):
        reduce_fn = _OPS[op]
        buf = np.ascontiguousarray(arr, dtype=np.float64).ravel().copy()
        n = len(buf)
        r, rem = self.rank, _fold_count(self.nranks)[1]
        # fold: odd ranks of the first 2*rem hand their whole array to
        # their even partner and own nothing
        if r < 2 * rem and r % 2 == 1:
            self._send(r - 1, memoryview(buf).cast("B"))
            return 0, buf[:0]
        tmp = np.empty(n, dtype=np.float64)
        if r < 2 * rem:                       # even half of a folded pair
            self._recv(r + 1, memoryview(tmp).cast("B"))
            buf[:] = reduce_fn(buf, tmp)
        # halve the segment against the partner at each distance; keep
        # the half matching our side of the group
        steps, (s, e) = self._halving(n)
        for s_, e_, mid, partner, lower in steps:
            ks, ke, gs, ge = (s_, mid, mid, e_) if lower else (mid, e_, s_, mid)
            rv = tmp[: ke - ks]
            self._exchange(self._socks[partner], buf[gs:ge].tobytes(),
                           memoryview(rv).cast("B"))
            buf[ks:ke] = reduce_fn(buf[ks:ke], rv)
        return s, buf[s:e]

    def allgather(self, part: np.ndarray, n: int) -> np.ndarray:
        buf = np.empty(n, dtype=np.float64)
        byt = memoryview(buf).cast("B")
        r, rem = self.rank, _fold_count(self.nranks)[1]
        if r < 2 * rem and r % 2 == 1:        # folded out: receive it all
            self._recv(r - 1, byt)
            return buf
        steps, (s, e) = self._halving(n)
        buf[s:e] = part
        # recursive doubling: retrace the halving outward, swapping
        # owned segments verbatim
        for s_, e_, mid, partner, lower in reversed(steps):
            ks, ke, gs, ge = (s_, mid, mid, e_) if lower else (mid, e_, s_, mid)
            self._exchange(self._socks[partner], buf[ks:ke].tobytes(),
                           byt[gs * 8: ge * 8])
        # unfold: hand the complete result back to the folded-out rank
        if r < 2 * rem:
            self._send(r + 1, byt)
        return buf

    def close(self):
        for s in (*self._socks.values(), self._srv):
            try:
                s.close()
            except OSError:
                pass


def _recv_exact_blocking(sock: socket.socket, n: int) -> bytes:
    sock.settimeout(120)
    chunks = []
    got = 0
    while got < n:
        b = sock.recv(n - got)
        if not b:
            raise IOError("peer closed during handshake")
        chunks.append(b)
        got += len(b)
    return b"".join(chunks)
