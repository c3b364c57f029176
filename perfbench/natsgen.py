"""Fake core-NATS broker for the nats_pubsub workload.

    python3 perfbench/natsgen.py --seed N [--cpu C]

Listens on an ephemeral localhost port, prints ``PORT <n>`` and serves
client connections one after another until one of them says ``ctl.bye``
(a connection that closes without it, such as a set-up probe, is followed
by the next). It sends seeded CDCMsg ``MSG`` frames. The subject of
each data frame is ``m.<seq>.<due_ns>``: its sequence number and, in the
paced phase, the CLOCK_MONOTONIC time it was due to be sent (0 otherwise).

The client drives the phases by publishing control subjects:

- ``ctl.warm`` (payload ``<n>``): send ``n`` frames at once, then ``ctl.mark``;
- ``ctl.flood``: send frames as fast as the socket takes them until
  ``ctl.stop`` arrives, then ``ctl.mark``;
- ``ctl.paced`` (payload ``<rate> <seconds>``): an open loop at a fixed rate
  that does not slow when the client does, then ``ctl.end``;
- ``ctl.bye``: print one JSON line of statistics and exit.

With ``--cpu`` the generator runs on that CPU only, so that it does not
share one with the client it feeds. It exits when no client has connected
for ``ACCEPT_TIMEOUT_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import select
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import traffic  # noqa: E402

FLOOD_BATCH = 16
ACCEPT_TIMEOUT_S = 60


class _Commands:
    """Incremental parser of the client's protocol lines (CONNECT, SUB,
    PING, PUB with payload); yields control subjects and payloads."""

    def __init__(self, conn: socket.socket) -> None:
        self.conn, self.buf = conn, b""

    def _fill(self) -> bool:
        try:
            chunk = self.conn.recv(65536)
        except ConnectionError:
            return False
        self.buf += chunk
        return bool(chunk)

    def poll(self, block: bool) -> list[tuple[str, bytes]] | None:
        """Parse what has arrived; when ``block``, wait for at least one
        complete command. None means the client closed the connection."""
        out: list[tuple[str, bytes]] = []
        while True:
            while b"\r\n" in self.buf:
                line, rest = self.buf.split(b"\r\n", 1)
                if line.startswith(b"PUB "):
                    parts = line.split()
                    n = int(parts[-1])
                    if len(rest) < n + 2:
                        break
                    out.append((parts[1].decode(), rest[:n]))
                    self.buf = rest[n + 2:]
                else:
                    if line.startswith(b"PING"):
                        self.conn.sendall(b"PONG\r\n")
                    self.buf = rest
            if out or (not block and not self.ready()):
                return out
            if not self._fill():
                return None

    def ready(self) -> bool:
        return bool(select.select([self.conn], [], [], 0)[0])


class _Generator:
    """The frame stream and its statistics, shared by all connections."""

    def __init__(self, seed: int) -> None:
        self.tails = []
        for channel, payload in traffic.messages(seed):
            body = traffic.encode(channel, payload)
            self.tails.append(b" 1 %d\r\n" % len(body) + body + b"\r\n")
        self.seq = 0
        self.lateness: list[int] = []

    def frames(self, n: int, due: int = 0) -> bytes:
        tails, seq, n_distinct = self.tails, self.seq, len(self.tails)
        out = b"".join(b"MSG m.%d.%d" % (seq + i, due) + tails[(seq + i) % n_distinct] for i in range(n))
        self.seq += n
        return out

    def serve(self, conn: socket.socket) -> bool:
        """Serve one connection; True when the client said ``ctl.bye``,
        False when it closed the connection."""
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn.sendall(b'INFO {"server_id":"perfbench","max_payload":1048576}\r\n')
        cmds = _Commands(conn)
        while True:
            batch = cmds.poll(block=True)
            if batch is None:
                return False
            for subject, payload in batch:
                if subject == "ctl.warm":
                    conn.sendall(self.frames(int(payload)) + b"MSG ctl.mark 1 0\r\n\r\n")
                elif subject == "ctl.flood":
                    stop = False
                    while not stop:
                        conn.sendall(self.frames(FLOOD_BATCH))
                        if cmds.ready():
                            more = cmds.poll(block=False)
                            if more is None:
                                return False
                            stop = any(s == "ctl.stop" for s, _ in more)
                    conn.sendall(b"MSG ctl.mark 1 0\r\n\r\n")
                elif subject == "ctl.paced":
                    self.paced(conn, *(float(x) for x in payload.split()))
                    conn.sendall(b"MSG ctl.end 1 0\r\n\r\n")
                elif subject == "ctl.bye":
                    return True

    def paced(self, conn: socket.socket, rate: float, seconds: float) -> None:
        period = 1e9 / rate
        total = int(rate * seconds)
        t0 = time.monotonic_ns() + 1_000_000
        i = 0
        while i < total:
            due = t0 + int(i * period)
            wait = due - time.monotonic_ns()
            if wait > 2_000_000:
                time.sleep((wait - 1_000_000) / 1e9)
                continue
            if wait > 0:
                continue
            conn.sendall(self.frames(1, due))
            self.lateness.append(time.monotonic_ns() - due)
            i += 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cpu", type=int)
    args = ap.parse_args(argv)
    if args.cpu is not None:
        os.sched_setaffinity(0, {args.cpu})

    gen = _Generator(args.seed)
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    srv.settimeout(ACCEPT_TIMEOUT_S)
    print(f"PORT {srv.getsockname()[1]}", flush=True)
    bye = False
    while not bye:
        try:
            conn, _ = srv.accept()
        except socket.timeout:
            return 1
        conn.settimeout(None)
        try:
            bye = gen.serve(conn)
        finally:
            conn.close()
    srv.close()
    lateness = sorted(gen.lateness)
    stats = {
        "sent": gen.seq,
        "paced": len(lateness),
        "late_p50_s": lateness[len(lateness) // 2] / 1e9 if lateness else 0.0,
        "late_p99_s": lateness[int(len(lateness) * 0.99)] / 1e9 if lateness else 0.0,
        "maxrss_kb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
    }
    print(json.dumps(stats), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
