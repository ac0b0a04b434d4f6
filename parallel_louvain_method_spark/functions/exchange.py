"""In-stage all-gather transport for barrier stages (Spark-free).

Spark's ``BarrierTaskContext.allGather`` routes every exchange through the
driver's BarrierCoordinator, and the task-side wait loop polls the RPC
future with a hardcoded ``Thread.sleep`` — measured on this Spark build at
a hard **~1.0 s floor per sync regardless of payload** (32 empty-message
gathers: 1.002 s median each).  A Louvain level doing one sync per sweep
pays ``sweeps × 1 s`` of pure latency, which dominates small levels and is
a fixed serial cost at any cluster size.

This module is the engine's analog of the reference's ``MPI_Allgather``
(src/distcommunity.cpp:212-385): a star exchange over raw TCP whose hub
(:class:`StarHub`) is a thread of the DRIVER process.  The driver opens it
before it submits the barrier stage and ships its ``(host, port, token)``
in the task closure, so the stage starts with no coordinator sync: every
task, rank 0 included, is a plain :class:`StarAllGather` peer that
connects and exchanges.  The one deployment assumption this adds is that
executors reach the driver on one more port (they already reach it for
RPC).  A peer that cannot reach the hub raises
:class:`AllGatherTransportError`, and the barrier runtime
(functions/bsp.py) reruns the stage over the coordinator ``allGather``
(~1 s per round).  The hub admits only peers that present its random
token: a stray connection from elsewhere on the network is closed instead
of taking a rank's slot.  Latency per round: sub-millisecond locally vs
the coordinator's 1 s; payloads are raw bytes (no base64 inflation).

Traffic shape per round equals the coordinator path — the hub receives
``Σ payload`` and sends ``n × Σ payload``.  Protocol: length-prefixed
frames; every round, each peer sends one frame and receives the
concatenation of all n frames (identical bytes on every peer, so
barrier-consistent exit decisions are preserved).
"""

from __future__ import annotations

import hmac
import secrets
import socket
import struct
import threading

_LEN = struct.Struct(">I")


class AllGatherTransportError(ConnectionError):
    """A star exchange failed: a peer could not reach the hub, or a round
    failed mid-stage (hub or peer socket died).

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


def _shutdown(s: socket.socket | None) -> None:
    """Wake a thread blocked on ``s`` (``close`` alone does not)."""
    if s is not None:
        try:
            s.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass


class StarHub:
    """The relay of one barrier stage's star, run as a daemon thread.

    ``open(host)`` listens and returns ``(host, port, token)``; the thread
    admits ``n`` peers that present the token as their first frame, then
    every round receives one frame from each peer and sends all n back to
    each.  The returned list is identical on every peer; element order is
    admission order, NOT rank order — callers must not rely on position
    (the Louvain and PageRank exchanges are order-independent: disjoint
    scatters and sums).  The thread ends when any peer closes (the
    normal end of a stage, or a failure: the hub then closes every
    connection, so the other peers raise at once instead of waiting out
    their round timeout) or when :meth:`close` is called.
    """

    # a real peer sends its token right after connecting; a connection
    # that stays silent this long is not one of the stage's ranks
    AUTH_TIMEOUT = 5.0

    def __init__(self, n: int):
        self.n = int(n)
        self._server: socket.socket | None = None
        self._conns: list[socket.socket] = []
        self._token = secrets.token_bytes(16)
        self._thread: threading.Thread | None = None
        self._closed = False

    def open(self, host: str, bind: str | None = None) -> tuple[str, int, bytes]:
        """Listen on ``bind`` (default ``host``) and start the relay.
        Returns the address peers connect to; a listen failure raises
        :class:`AllGatherTransportError`."""
        try:
            self._server = socket.create_server(
                (bind or host, 0), backlog=self.n
            )
        except OSError as e:
            raise AllGatherTransportError(
                f"could not open the all-gather hub on {bind or host}: {e!r}"
            ) from e
        port = self._server.getsockname()[1]
        self._thread = threading.Thread(
            target=self._serve, name=f"plm-star-hub-{port}", daemon=True
        )
        self._thread.start()
        return (host, port, self._token)

    def _admit(self) -> None:
        """Accept until n peers presented the token.  No deadline: tasks
        connect after reading their partition, which can take long at
        scale, and ``close`` ends the wait when the stage is over."""
        want = _LEN.pack(len(self._token)) + self._token
        while len(self._conns) < self.n:
            conn, _ = self._server.accept()
            try:
                # fixed-size read: a stray's length prefix must not size
                # an allocation
                conn.settimeout(self.AUTH_TIMEOUT)
                ok = hmac.compare_digest(_recv_exact(conn, len(want)), want)
            except OSError:
                ok = False
            if not ok or self._closed:
                conn.close()
                continue
            conn.settimeout(None)
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self._conns.append(conn)
        self._server.close()

    def _serve(self) -> None:
        try:
            self._admit()
            while True:
                frames = [_recv_frame(c) for c in self._conns]
                blob = _LEN.pack(len(frames)) + b"".join(
                    _LEN.pack(len(f)) + f for f in frames
                )
                for c in self._conns:
                    c.sendall(blob)
        except (OSError, struct.error):
            pass  # a peer closed: the stage ended or failed
        finally:
            for s in (self._server, *self._conns):
                _close(s)

    def close(self) -> None:
        """Stop the relay and release its sockets; returns once the
        thread has ended."""
        self._closed = True
        for s in (self._server, *self._conns):
            _shutdown(s)
        if self._thread is not None:
            self._thread.join(self.AUTH_TIMEOUT + 5.0)


class StarAllGather:
    """One peer's link to a :class:`StarHub`: ``connect(hub)``, then
    ``exchange(payload) -> [bytes] * n`` per round, then ``close()``."""

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
    # the hub listens before the stage is submitted, so a connect that is
    # refused or stalls this long means the hub is unreachable
    CONNECT_TIMEOUT = 10.0
    # adaptive bounds for set_round_timeout
    MIN_ROUND_TIMEOUT = 60.0
    MAX_ROUND_TIMEOUT = 3600.0

    def __init__(self, rank: int):
        self.rank = int(rank)
        self._sock: socket.socket | None = None

    def connect(self, hub: tuple[str, int, bytes]) -> None:
        """Join the hub; raises :class:`AllGatherTransportError` when it
        cannot be reached."""
        host, port, token = hub
        s = None
        try:
            s = socket.create_connection(
                (host, port), timeout=self.CONNECT_TIMEOUT
            )
            s.settimeout(self.ROUND_TIMEOUT)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            _send_frame(s, token)
        except OSError as e:
            _close(s)
            raise AllGatherTransportError(
                f"rank {self.rank} could not reach the all-gather hub "
                f"{(host, port)}: {e!r}"
            ) from e
        self._sock = s

    def set_round_timeout(self, seconds: float) -> None:
        """Adapt the per-round timeout to observed sweep walls (clamped to
        [MIN, MAX]).  Callers pass a generous multiple of the slowest sweep
        seen so far: a dead hub then stalls the stage for minutes — long
        enough for any legitimate straggler, short enough that the stage
        retry + allGather fallback bounds the outage."""
        t = min(self.MAX_ROUND_TIMEOUT, max(self.MIN_ROUND_TIMEOUT, seconds))
        if self._sock is not None:
            self._sock.settimeout(t)

    # -- rounds ----------------------------------------------------------
    def exchange(self, payload: bytes) -> list[bytes]:
        """One all-gather round.  Any socket failure (hub death, peer
        reset, timeout) surfaces as :class:`AllGatherTransportError` so
        the barrier runtime can distinguish transport loss from kernel
        bugs and rerun the stage on the coordinator path."""
        try:
            _send_frame(self._sock, payload)
            (count,) = _LEN.unpack(_recv_exact(self._sock, 4))
            return [_recv_frame(self._sock) for _ in range(count)]
        except (OSError, EOFError, struct.error) as e:
            raise AllGatherTransportError(
                f"star all-gather round failed at rank {self.rank}: {e!r}"
            ) from e

    def kill_for_test(self) -> None:
        """Failure injection (tests only): close the socket WITHOUT
        forgetting it, simulating NIC death — this peer's next round
        raises AllGatherTransportError, and the hub, seeing it close,
        drops every other peer, whose rounds raise too."""
        _close(self._sock)

    def close(self) -> None:
        _close(self._sock)
        self._sock = None
