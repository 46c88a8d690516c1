"""Live HTTP ingest listener (SURVEY §3.1 S2/S4/S6 live form + S7).

The reference's front door is a long-lived HTTP server: POST bodies
land on ``/v2/datapoint`` (JSON), ``/v1/datapoint``, ``/post-collectd``
and ``GET /healthz`` answers the load balancer
[P: protocol/signalfx/signalfxlistener.go — ListenAndServe,
signalfxlistener.go — healthz handler]. A Spark driver can host the
same front door: this module runs a real ``ThreadingHTTPServer`` that
ACCEPTS live network POSTs and terminates them into the ``httpwire``
at-rest format — each accepted request is spooled verbatim (request
line + headers + body, gzip still encoded) as one file in a spool
directory. Everything downstream is then the normal engine:

- batch: ``spark.read.format("httpwire").option("path", spool)``
- streaming: ``readStream`` on the same connector
  (:func:`http_spool_stream`) — newly accepted requests become
  micro-batch rows exactly once (checkpointed offset).

:func:`post_bodies` is the client side of the wire (one keep-alive
connection, raising on any refusal), the HTTP twin of
:func:`metricproxy_spark.streaming.socketlistener.send_lines_tcp`.

This is deliberately the Kafka split: the listener is a durable
network terminator (accept → fsync-able spool → 200 OK), Spark is the
processing engine with replay. One body parser
(:func:`metricproxy_spark.sources.signalfx.parse_sfx_v2_json`, …)
serves socket bytes, staged files, and live HTTP identically.

Responses mirror the reference: ``"OK"`` for datapoint POSTs, plain
``OK`` for ``/healthz`` (S7), 404 otherwise. A POST must carry a
``Content-Length``: the spool stores one sized body per request, so a
missing length is refused with 411 and a malformed one with 400, and
neither is spooled. :class:`RemoteReadServer` shares the same handler
base, so both doors frame bodies by the same rule. Accepted requests
are published through
:class:`metricproxy_spark.sources.spool.SpoolPublisher` (atomic,
sequence-numbered, never clobbering), so concurrent connections and
listener processes sharing one spool never interleave or overwrite.
"""

from __future__ import annotations

import http.client
import threading
from collections.abc import Iterable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from metricproxy_spark.sources.spool import SpoolPublisher

# sfx v2/v1 + collectd write_http + the OTLP/HTTP metrics binding
# + msgpack/cbor frames (base64 text bodies: the spool is string-typed)
INGEST_PATHS = (
    "/v2/datapoint",
    "/v1/datapoint",
    "/post-collectd",
    "/v1/metrics",
    "/v1/msgpack",
    "/v1/cbor",
    "/v1/gzip",
    "/v1/kafka",
    "/v1/zstd",
    "/api/v1/write",
)


class _Handler(BaseHTTPRequestHandler):
    """What both doors share: quiet logging, ``GET /healthz`` (S7) and
    the sized-body read."""

    def log_message(self, *_a) -> None:  # quiet; stats are counted
        pass

    def do_GET(self) -> None:  # S7 healthz
        if self.path.split("?")[0] == "/healthz":
            body = b"OK"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            self.send_error(404)

    def read_sized_body(self) -> bytes | None:
        """The POST body framed by ``Content-Length``, or None once the
        request has been refused: 411 when the length is missing (e.g.
        chunked), 400 when it is not a non-negative integer."""
        clen = self.headers.get("Content-Length")
        if clen is None:
            self.send_error(411)
            return None
        clen = clen.strip()
        if not (clen.isascii() and clen.isdigit()):
            self.send_error(400, "Invalid Content-Length")
            return None
        return self.rfile.read(int(clen))


class _IngestHandler(_Handler):
    # set per-server via a subclass attribute
    listener: "HttpIngestListener"

    def do_POST(self) -> None:
        path = self.path.split("?")[0]
        if path not in INGEST_PATHS:
            self.send_error(404)
            return
        body = self.read_sized_body()
        if body is None:
            return
        # Reconstruct the request verbatim (body still gzip-encoded if
        # the client sent it that way) — the httpwire reader owns all
        # decoding, so live and at-rest requests share one code path.
        head = f"POST {self.path} HTTP/1.1\r\n".encode("latin-1")
        hdrs = b"".join(
            f"{k}: {v}\r\n".encode("latin-1")
            for k, v in self.headers.items()
        )
        self.listener._accept(head + hdrs + b"\r\n" + body)
        resp = b'"OK"'
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)


class HttpIngestListener:
    """A live HTTP ingest endpoint spooling to ``httpwire`` format.

    >>> lis = HttpIngestListener(spool_dir)
    >>> host, port = lis.start()          # real TCP bind (port=0 = OS pick)
    >>> ... clients POST to http://host:port/v2/datapoint ...
    >>> lis.stop()                        # accept loop drained
    """

    def __init__(
        self, spool_dir: str, host: str = "127.0.0.1", port: int = 0
    ):
        self.spool_dir = spool_dir
        self.host, self.port = host, port
        self._lock = threading.Lock()
        self._publisher: SpoolPublisher | None = None
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.accepted = 0

    def _accept(self, raw: bytes) -> None:
        self._publisher.publish(raw)
        with self._lock:
            self.accepted += 1

    def start(self) -> tuple[str, int]:
        self._publisher = SpoolPublisher(self.spool_dir, "req_", ".http")
        handler = type(
            "_BoundHandler", (_IngestHandler,), {"listener": self}
        )
        self._server = ThreadingHTTPServer(
            (self.host, self.port), handler
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

    def __enter__(self) -> "HttpIngestListener":
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()


def http_spool_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """The live listener's spool as a stream: one row per accepted
    request, exactly once (httpwire's checkpointed file offset) —
    compose with the protocol parsers for a full live pipeline."""
    from metricproxy_spark.sources.httpwire import register_httpwire

    register_httpwire(spark)
    return (
        spark.readStream.format("httpwire")
        .option("path", spool_dir)
        .load()
    )


def post_bodies(
    host: str,
    port: int,
    path: str,
    requests: Iterable[tuple[bytes, dict[str, str]]],
) -> None:
    """Bounded load generator, the HTTP twin of
    :func:`metricproxy_spark.streaming.socketlistener.send_lines_tcp`:
    POST every ``(body, headers)`` pair to ``path`` over one keep-alive
    connection. Raises ``ConnectionError`` on any reply other than
    200 ``"OK"`` — a refused request never passes silently."""
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        for body, headers in requests:
            conn.request("POST", path, body=body, headers=headers)
            resp = conn.getresponse()
            reply = resp.read()
            if resp.status != 200 or reply != b'"OK"':
                raise ConnectionError(
                    f"listener refused POST {path}: {resp.status} {reply!r}"
                )
    finally:
        conn.close()


class RemoteReadServer:
    """A LIVE prometheus remote-read SERVER (``POST /api/v1/read``).

    The query-side twin of the ingest listener above: where the ingest
    door ACCEPTS pushed samples, this door ANSWERS pull queries — a
    real ``ThreadingHTTPServer`` speaking the public remote-read
    protocol (prompb ReadRequest/ReadResponse over snappy-compressed
    protobuf, ``Content-Type: application/x-protobuf`` +
    ``Content-Encoding: snappy``), evaluating all four LabelMatcher
    types with PromQL semantics against a bounded in-memory series
    store (`sources/remote_read.py` owns codec + matcher logic).

    The store is SERIES-ROLLUP-sized by design (the bounded-model-
    state class, like k-means centroids): a production deployment
    shards many such replicas behind the same route while Spark stays
    the engine that builds their rollups. ``GET /healthz`` answers the
    load balancer like the ingest listener (S7).
    """

    def __init__(
        self,
        series: list,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        # [(labels_dict, [(value, ts_ms), ...]), ...]
        self.series = series
        self.host, self.port = host, port
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.served = 0

    def _answer(self, body: bytes) -> bytes:
        from metricproxy_spark.sources.remote_read import (
            decode_read_request_body,
            encode_read_response_body,
            matcher_accepts,
        )

        results = []
        for start_ms, end_ms, matchers in decode_read_request_body(body):
            hit = []
            for labels, samples in self.series:
                if not matcher_accepts(labels, matchers):
                    continue
                sel = [
                    (v, t) for v, t in samples if start_ms <= t <= end_ms
                ]
                if sel:
                    hit.append((labels, sel))
            results.append(hit)
        self.served += 1
        return encode_read_response_body(results)

    def start(self) -> tuple[str, int]:
        server_ref = self

        class _ReadHandler(_Handler):
            def do_POST(self) -> None:
                if self.path.split("?")[0] != "/api/v1/read":
                    self.send_error(404)
                    return
                raw = self.read_sized_body()
                if raw is None:
                    return
                try:
                    resp = server_ref._answer(raw)
                except ValueError:
                    self.send_error(400)  # malformed request body
                    return
                self.send_response(200)
                self.send_header(
                    "Content-Type", "application/x-protobuf"
                )
                self.send_header("Content-Encoding", "snappy")
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

        self._server = ThreadingHTTPServer((self.host, self.port), _ReadHandler)
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

    def __enter__(self) -> "RemoteReadServer":
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()
