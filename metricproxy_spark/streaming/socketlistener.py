"""Live line-oriented socket listeners (statsd / influx / generic).

The reference family of metric proxies terminates push protocols on
real sockets — carbon over TCP [P: protocol/carbon/carbonlistener.go],
statsd classically over UDP datagrams, influx line protocol over
either (telegraf's socket_listener). This module is the engine's
socket front door for LINE-shaped wire formats: accept bytes, split
on newlines, spool verbatim to files a connector can scan — exactly
the discipline :mod:`metricproxy_spark.streaming.httplistener` uses
for HTTP bodies. The spool is ``carbonwire``-readable (plain text,
one line per record), so the SAME byte-range-splitting connector and
the SAME JVM-side parsers serve both the at-rest and the live path —
live ingest evidence is therefore value-checkable against the batch
twin's oracle.

Two transports:

- ``tcp`` (default): lossless, ordered per connection — the form the
  registered live queries use, so driver evidence is deterministic.
- ``udp``: datagram mode for protocol fidelity (a datagram may carry
  several newline-separated lines, the statsd multi-metric packet).
  UDP is at-most-once BY DESIGN — loopback bursts can overflow the
  receive buffer — so it backs a unit test, not an exact oracle.
"""

from __future__ import annotations

import socket
import socketserver
import threading

from metricproxy_spark.sources.spool import SpoolPublisher


class LineSocketListener:
    """Accept newline-delimited wire lines on a real socket and spool
    them to ``{spool_dir}/lines_{seq:012d}.wire`` files, rotating every
    ``lines_per_file`` lines and flushing the remainder on ``stop``.
    Files are published through
    :class:`metricproxy_spark.sources.spool.SpoolPublisher`, the same
    atomic, never-clobbering publisher as the HTTP listener's spool."""

    def __init__(
        self,
        spool_dir: str,
        mode: str = "tcp",
        host: str = "127.0.0.1",
        port: int = 0,
        lines_per_file: int = 2000,
    ):
        if mode not in ("tcp", "udp"):
            raise ValueError(f"mode must be tcp or udp, got {mode!r}")
        self.spool_dir = spool_dir
        self.mode = mode
        self.host, self.port = host, port
        self.lines_per_file = lines_per_file
        self.accepted_lines = 0
        self._buf: list[bytes] = []
        self._lock = threading.RLock()  # flush() runs inside _ingest
        self._publisher: SpoolPublisher | None = None
        self._server: socketserver.BaseServer | None = None
        self._thread: threading.Thread | None = None

    # -- spool ---------------------------------------------------------
    def _ingest(self, lines: list[bytes]) -> None:
        with self._lock:
            self._buf.extend(lines)
            self.accepted_lines += len(lines)
            if len(self._buf) >= self.lines_per_file:
                self.flush()

    def flush(self) -> None:
        with self._lock:
            if self._buf:
                self._publisher.publish(b"\n".join(self._buf) + b"\n")
                self._buf = []

    # -- lifecycle -----------------------------------------------------
    def start(self) -> tuple[str, int]:
        self._publisher = SpoolPublisher(self.spool_dir, "lines_", ".wire")
        listener = self

        if self.mode == "tcp":

            class _TcpHandler(socketserver.StreamRequestHandler):
                def handle(self) -> None:
                    batch: list[bytes] = []
                    for raw in self.rfile:
                        line = raw.rstrip(b"\r\n")
                        if line:
                            batch.append(line)
                        if len(batch) >= 512:
                            listener._ingest(batch)
                            batch = []
                    if batch:
                        listener._ingest(batch)
                    # ack AFTER ingest: a client that waits for this
                    # byte knows its lines are spool-durable — the
                    # graceful-close contract (sendall alone only
                    # proves the bytes left the client's buffer)
                    self.wfile.write(b"OK\n")

            class _Server(socketserver.ThreadingTCPServer):
                allow_reuse_address = True
                # non-daemon handler threads: ThreadingMixIn only
                # tracks (and server_close only joins) non-daemon
                # handlers, and stop() must not flush under a live one
                daemon_threads = False

            self._server = _Server((self.host, self.port), _TcpHandler)
        else:

            class _UdpHandler(socketserver.BaseRequestHandler):
                def handle(self) -> None:
                    data = self.request[0]
                    lines = [
                        ln for ln in data.split(b"\n") if ln.strip(b"\r")
                    ]
                    listener._ingest([ln.rstrip(b"\r") for ln in lines])

            class _Server(socketserver.ThreadingUDPServer):  # type: ignore[no-redef]
                daemon_threads = True

            self._server = _Server((self.host, self.port), _UdpHandler)
            # a deep receive buffer is the only mitigation UDP offers
            self._server.socket.setsockopt(
                socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 22
            )
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None
        self.flush()

    def __enter__(self) -> "LineSocketListener":
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()


def send_lines_tcp(
    host: str, port: int, lines: list[str], connections: int = 4
) -> None:
    """Bounded load generator: push wire lines over ``connections``
    real TCP connections (contiguous chunks, so per-connection order
    is the synthesized order). Client side of the wire — holds its
    own payload by definition, like every load generator."""
    if not lines:
        return
    n = max(1, connections)
    chunk = (len(lines) + n - 1) // n
    for i in range(0, len(lines), chunk):
        payload = ("\n".join(lines[i : i + chunk]) + "\n").encode()
        with socket.create_connection((host, port), timeout=30) as s:
            s.sendall(payload)
            s.shutdown(socket.SHUT_WR)
            ack = s.recv(16)
            if not ack.startswith(b"OK"):
                raise ConnectionError(f"listener did not ack: {ack!r}")
