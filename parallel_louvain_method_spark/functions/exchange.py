"""In-stage all-gather transport for barrier stages (Spark-free).

Spark's ``BarrierTaskContext.allGather`` routes every exchange through the
driver's BarrierCoordinator, and the task-side wait loop polls the RPC
future with a hardcoded ``Thread.sleep`` — measured on this Spark build at
a hard **~1.0 s floor per sync regardless of payload** (32 empty-message
gathers: 1.002 s median each).  A Louvain level doing one sync per sweep
pays ``sweeps × 1 s`` of pure latency, which dominates small levels and is
a fixed serial cost at any cluster size.

This module is the engine's analog of the reference's ``MPI_Allgather``
(src/distcommunity.cpp:212-385): a task-0-hosted star exchange over raw
TCP between the tasks of ONE barrier stage.  Barrier scheduling guarantees
all tasks run concurrently, and executor-to-executor TCP is already a
Spark deployment requirement (shuffle), so the only new assumption is
that the advertised host/port of task 0 is reachable — which the caller
(functions/bsp.py) verifies with a two-phase handshake over the (slow, but
reliable) ``allGather`` itself, falling back to ``allGather`` for the stage
when any task fails to connect.  The hub admits only peers that present
the random token it advertised with its address: a stray connection from
elsewhere on the network is closed instead of taking a rank's slot.
Latency per round: sub-millisecond locally vs the coordinator's 1 s;
payloads are raw bytes (no base64 inflation).

Traffic shape per round equals the coordinator path — task 0 receives
``Σ payload`` and sends ``n × Σ payload`` — without the driver in the
loop.  Protocol: length-prefixed frames; every round, each rank sends one
frame and receives the concatenation of all n frames (identical bytes on
every rank, so barrier-consistent exit decisions are preserved).
"""

from __future__ import annotations

import hmac
import secrets
import socket
import struct
import time

_LEN = struct.Struct(">I")


class AllGatherTransportError(ConnectionError):
    """A star-exchange round failed mid-stage (hub or peer socket died).

    Raised INSTEAD of a silent per-task downgrade: once any round has
    partially completed, tasks may disagree on which round they are in, so
    a task-local fallback to ``ctx.allGather`` could pair round-r movers
    with round-r+1 movers across tasks (divergent state).  The barrier
    runtime (functions/bsp.py ``run``) recognizes this class by NAME in
    the driver-side wrapped exception and reruns the whole stage over the
    coordinator ``allGather`` from a consistent initial state."""


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray(n)
    view = memoryview(buf)
    got = 0
    while got < n:
        r = sock.recv_into(view[got:], n - got)
        if r == 0:
            raise ConnectionError("peer closed mid-frame")
        got += r
    return bytes(buf)


def _send_frame(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(_LEN.pack(len(payload)) + payload)


def _recv_frame(sock: socket.socket) -> bytes:
    (n,) = _LEN.unpack(_recv_exact(sock, 4))
    return _recv_exact(sock, n)


def _close(s: socket.socket | None) -> None:
    if s is not None:
        try:
            s.close()
        except OSError:
            pass


def _advertise_host() -> str:
    """Best-effort externally-reachable address of this host.

    The UDP-connect trick never sends a packet; it just asks the kernel
    which source address would route out.  Falls back to loopback (always
    right in local mode, verified by the caller's handshake on clusters).
    """
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            s.connect(("10.255.255.255", 1))
            return s.getsockname()[0]
        finally:
            s.close()
    except OSError:
        return "127.0.0.1"


class StarAllGather:
    """All-gather among ``n`` ranks; rank 0 hosts the hub.

    Usage (caller coordinates the handshake — see functions/bsp.py):

    - rank 0: ``listen()`` -> ``hub = (host, port, token)``; publish it;
      ``accept_all()``
    - rank>0: ``connect(hub)``
    - all:    ``exchange(payload) -> [bytes] * n`` per round; ``close()``

    The returned list is identical on every rank; element order is
    arrival order, NOT rank order — callers must not rely on position
    (the Louvain exchanges are order-independent: disjoint scatters and
    sums).
    """

    # initial per-round socket timeout: a round's wait legitimately spans
    # the slowest task's whole per-sweep kernel, but an HOUR of every task
    # hanging on a dead hub (the old 3600) is an outage, not a wait.  The
    # barrier runtime (functions/bsp.py ``Comm.exchange``) tightens this
    # adaptively after a step's first two rounds via ``set_round_timeout``
    # (a multiple of the slowest observed round), so this constant only
    # governs the rounds up to a step's first superstep — the SLOWEST
    # round (Louvain's sweep 0 moves ~n/2 vertices and the gate
    # boundary's bulk transfer alone measures ~160 s, tools/
    # hub_gate_boundary.py), so it gets 20 min where later rounds get an
    # adaptive few: misclassifying a live sweep-0 straggler as hub death
    # discards the whole stage onto the 1 s/sync coordinator retry path.
    # A DEAD peer is still detected in seconds via FIN regardless of this
    # timeout (the failure-injection test pins <20 s); the timeout only
    # governs a peer that hangs without closing.
    ROUND_TIMEOUT = 1200.0
    SETUP_TIMEOUT = 30.0
    # a real peer sends its token right after connecting; a connection
    # that stays silent this long is not one of the stage's ranks
    AUTH_TIMEOUT = 5.0
    # adaptive bounds for set_round_timeout
    MIN_ROUND_TIMEOUT = 60.0
    MAX_ROUND_TIMEOUT = 3600.0

    def __init__(self, rank: int, n: int):
        self.rank = int(rank)
        self.n = int(n)
        self._server: socket.socket | None = None
        self._conns: list[socket.socket] = []  # rank 0: n-1 peers
        self._sock: socket.socket | None = None  # rank>0: hub link
        self._token = b""  # rank 0: the secret peers must present

    # -- setup ---------------------------------------------------------
    def listen(self) -> tuple[str, int, bytes]:
        assert self.rank == 0
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("0.0.0.0", 0))
        srv.listen(self.n)
        self._server = srv
        self._token = secrets.token_bytes(16)
        return (_advertise_host(), srv.getsockname()[1], self._token)

    def accept_all(self) -> None:
        """Accept until n-1 peers presented the token as their first
        frame, or raise once ``SETUP_TIMEOUT`` passes.  Any other
        connection is closed and does not take a rank's slot."""
        assert self.rank == 0 and self._server is not None
        want = _LEN.pack(len(self._token)) + self._token
        deadline = time.monotonic() + self.SETUP_TIMEOUT
        while len(self._conns) < self.n - 1:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(
                    f"{len(self._conns)}/{self.n - 1} peers joined the hub"
                )
            self._server.settimeout(left)
            conn, _ = self._server.accept()
            try:
                # fixed-size read: a stray's length prefix must not size
                # an allocation
                conn.settimeout(min(self.AUTH_TIMEOUT, left))
                ok = hmac.compare_digest(_recv_exact(conn, len(want)), want)
            except OSError:
                ok = False
            if not ok:
                conn.close()
                continue
            conn.settimeout(self.ROUND_TIMEOUT)
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self._conns.append(conn)
        self._server.close()
        self._server = None

    def connect(self, hub: tuple[str, int, bytes]) -> None:
        assert self.rank != 0
        host, port, token = hub
        deadline = time.monotonic() + self.SETUP_TIMEOUT
        last: Exception | None = None
        while time.monotonic() < deadline:
            try:
                s = socket.create_connection((host, port), timeout=5.0)
                s.settimeout(self.ROUND_TIMEOUT)
                s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                _send_frame(s, token)
                self._sock = s
                return
            except OSError as e:  # hub may not be listening yet
                last = e
                time.sleep(0.05)
        raise ConnectionError(
            f"could not reach all-gather hub {(host, port)}: {last}"
        )

    def set_round_timeout(self, seconds: float) -> None:
        """Adapt the per-round timeout to observed sweep walls (clamped to
        [MIN, MAX]).  Callers pass a generous multiple of the slowest sweep
        seen so far: a dead hub then stalls the stage for minutes — long
        enough for any legitimate straggler, short enough that the stage
        retry + allGather fallback bounds the outage."""
        t = min(self.MAX_ROUND_TIMEOUT, max(self.MIN_ROUND_TIMEOUT, seconds))
        for c in self._conns:
            c.settimeout(t)
        if self._sock is not None:
            self._sock.settimeout(t)

    # -- rounds ----------------------------------------------------------
    def exchange(self, payload: bytes) -> list[bytes]:
        """One all-gather round.  Any socket failure (hub death, peer
        reset, timeout) surfaces as :class:`AllGatherTransportError` so
        the barrier runtime can distinguish transport loss from kernel
        bugs and rerun the stage on the coordinator path."""
        try:
            return self._exchange(payload)
        except (OSError, EOFError, struct.error) as e:
            raise AllGatherTransportError(
                f"star all-gather round failed at rank {self.rank}/{self.n}: "
                f"{e!r}"
            ) from e

    def _exchange(self, payload: bytes) -> list[bytes]:
        if self.n == 1:
            return [payload]
        if self.rank == 0:
            frames = [payload]
            for c in self._conns:
                frames.append(_recv_frame(c))
            reply = b"".join(_LEN.pack(len(f)) + f for f in frames)
            blob = _LEN.pack(len(frames)) + reply
            for c in self._conns:
                c.sendall(blob)
            return frames
        assert self._sock is not None
        _send_frame(self._sock, payload)
        (count,) = _LEN.unpack(_recv_exact(self._sock, 4))
        return [_recv_frame(self._sock) for _ in range(count)]

    def kill_for_test(self) -> None:
        """Failure injection (tests only): close the underlying sockets
        WITHOUT forgetting them, simulating hub/NIC death — subsequent
        rounds raise AllGatherTransportError on every rank instead of
        silently no-opping over an empty connection list."""
        for s in (*self._conns, self._sock):
            _close(s)

    def close(self) -> None:
        for s in (*self._conns, self._sock, self._server):
            _close(s)
        self._conns, self._sock, self._server = [], None, None
