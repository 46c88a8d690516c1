"""Live HTTP ingest listener (streaming/httplistener.py): real TCP
accept → verbatim spool → httpwire parse, healthz, concurrency, and
exactly-once streaming consumption of the spool."""

from __future__ import annotations

import gzip
import http.client
import json
import os
import socket
import subprocess
import sys
import textwrap
import threading

import pytest

from metricproxy_spark.sources.httpwire import register_httpwire
from metricproxy_spark.streaming.httplistener import (
    HttpIngestListener,
    RemoteReadServer,
    http_spool_stream,
    post_bodies,
)

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _post(host, port, path, body: bytes, headers=None):
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request("POST", path, body=body, headers=headers or {})
    resp = conn.getresponse()
    out = (resp.status, resp.read())
    conn.close()
    return out


def _v2_body(points):
    return json.dumps(
        {
            "gauge": [
                {
                    "metric": m,
                    "value": v,
                    "timestamp": t,
                    "dimensions": {},
                }
                for m, v, t in points
            ]
        }
    ).encode()


def test_healthz_and_unknown_route(tmp_path):
    with HttpIngestListener(str(tmp_path / "spool")) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=10)
        conn.request("GET", "/healthz")
        r = conn.getresponse()
        assert (r.status, r.read()) == (200, b"OK")
        conn.close()
        status, _ = _post(lis.host, lis.port, "/nope", b"{}")
        assert status == 404
        assert lis.accepted == 0  # neither route spools


_FRAMINGS = [
    ("non_integer", b"Content-Length: abc\r\n", 400),
    ("negative", b"Content-Length: -1\r\n", 400),
    ("chunked_no_length", b"Transfer-Encoding: chunked\r\n", 411),
]


def _ingest_door(tmp_path):
    spool = str(tmp_path / "spool")
    lis = HttpIngestListener(spool)

    def untouched():
        return lis.accepted == 0 and os.listdir(spool) == []

    return lis, "/v2/datapoint", untouched


def _read_door(_tmp_path):
    srv = RemoteReadServer([({"__name__": "m"}, [(1.0, 100)])])
    return srv, "/api/v1/read", lambda: srv.served == 0


@pytest.mark.parametrize(
    "door, framing, status",
    [
        # the ingest door keeps the bare framing ids it was written with
        pytest.param(door, framing, status, id=prefix + fid)
        for prefix, door in (("", _ingest_door), ("remote_read-", _read_door))
        for fid, framing, status in _FRAMINGS
    ],
)
def test_post_without_a_valid_content_length_is_refused(
    tmp_path, door, framing, status
):
    """Both doors frame a POST body by Content-Length: one that is
    malformed (400) or missing (411) is answered at once, and the
    request is neither spooled nor served. Before the shared check the
    read door crashed on ``abc``, blocked on ``-1`` and answered 400 to
    a chunked body."""
    server, path, untouched = door(tmp_path)
    with server:
        with socket.create_connection(
            (server.host, server.port), timeout=10
        ) as s:
            s.sendall(
                f"POST {path} HTTP/1.1\r\nHost: ingest\r\n".encode()
                + b"Content-Type: application/json\r\n" + framing + b"\r\n"
            )
            with s.makefile("rb") as resp:
                status_line = resp.readline()
        assert status_line.split()[1] == str(status).encode(), status_line
    assert untouched()


def test_post_bodies_raises_on_refusal(tmp_path):
    """The wire client raises on any reply other than 200 "OK" — here
    a 404 for an unknown route — instead of trusting an assert."""
    with HttpIngestListener(str(tmp_path / "spool")) as lis:
        post_bodies(
            lis.host, lis.port, "/v2/datapoint", [(_v2_body([]), {})]
        )
        with pytest.raises(ConnectionError, match="404"):
            post_bodies(lis.host, lis.port, "/nope", [(b"{}", {})])
        assert lis.accepted == 1


def test_post_bodies_under_python_O(tmp_path):
    """``python -O`` strips asserts: the client must still read every
    reply (three POSTs on one keep-alive connection) and still raise on
    a refusal. Runs in a subprocess, without Spark."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_DIR!r})
        assert False, "asserts must be stripped under -O"
        from metricproxy_spark.streaming.httplistener import (
            HttpIngestListener, post_bodies,
        )
        with HttpIngestListener({str(tmp_path / "spool")!r}) as lis:
            post_bodies(lis.host, lis.port, "/v2/datapoint",
                        [(b'{{"gauge": []}}', {{}})] * 3)
            try:
                post_bodies(lis.host, lis.port, "/nope", [(b"{{}}", {{}})])
            except ConnectionError:
                refused = True
            else:
                refused = False
        print(lis.accepted, refused)
        """
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", script],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["3", "True"]


def test_live_post_plain_and_gzip_roundtrip(spark, tmp_path):
    """Bodies posted over real TCP (one plain, one gzip) must come back
    byte-exactly decoded through the httpwire connector + v2 parser."""
    spool = str(tmp_path / "spool")
    with HttpIngestListener(spool) as lis:
        b1 = _v2_body([("m.a", 1.5, 1700000000000)])
        s1, r1 = _post(
            lis.host,
            lis.port,
            "/v2/datapoint",
            b1,
            {"Content-Type": "application/json"},
        )
        b2 = _v2_body([("m.b", 2.5, 1700000001000), ("m.c", 3.5, 1700000002000)])
        s2, r2 = _post(
            lis.host,
            lis.port,
            "/v2/datapoint?sfxdim_dc=dc1",
            gzip.compress(b2),
            {
                "Content-Type": "application/json",
                "Content-Encoding": "gzip",
            },
        )
        assert (s1, r1) == (200, b'"OK"')
        assert (s2, r2) == (200, b'"OK"')
        assert lis.accepted == 2
    register_httpwire(spark)
    from metricproxy_spark.sources.signalfx import parse_sfx_v2_json

    reqs = spark.read.format("httpwire").option("path", spool).load()
    got = {
        (r.metric, r.value, r.ts_ms, r.query)
        for r in parse_sfx_v2_json(reqs, body_col="body").collect()
    }
    assert got == {
        ("m.a", 1.5, 1700000000000, ""),
        ("m.b", 2.5, 1700000001000, "sfxdim_dc=dc1"),
        ("m.c", 3.5, 1700000002000, "sfxdim_dc=dc1"),
    }


def test_concurrent_posts_no_loss_no_clobber(tmp_path):
    """20 posts from 4 threads: every request spools to its own file."""
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as lis:

        def worker(k):
            for i in range(5):
                s, _ = _post(
                    lis.host,
                    lis.port,
                    "/v2/datapoint",
                    _v2_body([(f"m.{k}.{i}", float(i), 1700000000000)]),
                )
                assert s == 200

        threads = [
            threading.Thread(target=worker, args=(k,)) for k in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert lis.accepted == 20
    files = [p for p in spool.iterdir() if p.name.endswith(".http")]
    assert len(files) == 20


def test_spool_stream_exactly_once(spark, tmp_path):
    """Streaming consumption of the live spool: a checkpointed
    availableNow drain sees each accepted request exactly once, and a
    second drain after MORE live posts sees only the new ones."""
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    out: list[str] = []

    def drain():
        q = (
            http_spool_stream(spark, spool)
            .writeStream.foreachBatch(
                lambda df, _bid: out.extend(
                    r.body for r in df.select("body").collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with HttpIngestListener(spool) as lis:
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("b", 2.0, 2)]))
        drain()
        assert len(out) == 2
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("c", 3.0, 3)]))
        drain()
    assert len(out) == 3
    metrics = [sorted(json.loads(b)["gauge"], key=lambda p: p["metric"])[0]["metric"] for b in out]
    assert sorted(metrics) == ["a", "b", "c"]


def test_two_listener_generations_never_clobber(tmp_path):
    """Two listener INSTANCES sharing one spool dir both resume the
    same max seq; link(2)-claimed final names force the loser onto the
    next seq instead of silently overwriting an accepted request
    (r11 ADVICE: cross-process seq collision)."""
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as lis:
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))
    # Both B and C resume seq = 1 from the same on-disk max.
    with HttpIngestListener(str(spool)) as b, HttpIngestListener(
        str(spool)
    ) as c:
        _post(b.host, b.port, "/v2/datapoint", _v2_body([("b", 2.0, 2)]))
        _post(c.host, c.port, "/v2/datapoint", _v2_body([("c", 3.0, 3)]))
    files = sorted(p.name for p in spool.iterdir() if p.suffix == ".http")
    assert len(files) == 3, files  # nothing clobbered
    bodies = b"".join(p.read_bytes() for p in spool.iterdir()
                      if p.suffix == ".http")
    for metric in (b'"a"', b'"b"', b'"c"'):
        assert metric in bodies
