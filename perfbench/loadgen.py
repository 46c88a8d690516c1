"""Open-loop load generator: one process, seeded, never the bottleneck.

Run as ``python3 loadgen.py <config.json> <result.json>``. The config
names the HTTP and TCP endpoints, the seed and a ladder of
``[rate_dps, seconds]`` steps. For each step the generator

- POSTs SignalFx v2 JSON bodies (``sfx_dps`` datapoints each, every
  ``gzip_every``-th one gzip-encoded) to ``/v2/datapoint`` from up to
  ``threads`` sender threads, and
- writes influx lines over ONE long-lived TCP connection,
  ``influx_share`` of the step's datapoints, in sends of
  ``influx_lines`` lines.

Every send is scheduled at a fixed due time. Its creation stamp (the
SFX ``timestamp`` in ms, the influx timestamp in ns) is that due time,
so latency measured from the stamp includes any wait a stall imposed
on later sends. Bodies come from pre-built templates with the stamp
spliced in, so building a request costs one ``bytes.join``.

The result file holds, per send: kind, step, due time, lateness (send
start − due), completion time and whether it was accepted, plus the
per-metric value sums of everything accepted.
"""

from __future__ import annotations

import gzip
import http.client
import itertools
import json
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


class Generator:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.sfx = datagen.sfx_templates(
            cfg["seed"], cfg["templates"], cfg["sfx_dps"], cfg["series"]
        )
        self.influx = datagen.influx_templates(
            cfg["seed"], cfg["templates"], cfg["influx_lines"], cfg["series"]
        )
        self.lock = threading.Lock()
        self.sends: list[list] = []
        self.sums: dict[str, float] = {}
        self.accepted_dps = 0
        self.errors: list[str] = []

    def _record(self, row: list, sums: dict | None, dps: int) -> None:
        with self.lock:
            self.sends.append(row)
            if sums is not None:
                datagen.add_sums(self.sums, sums)
                self.accepted_dps += dps

    # -- HTTP -----------------------------------------------------------
    def _http_worker(self, schedule, counter, host: str, port: int) -> None:
        every = self.cfg["gzip_every"]
        for k in counter:
            if k >= len(schedule):
                return
            step, due = schedule[k]
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            start = time.time()
            parts, sums = self.sfx[k % len(self.sfx)]
            body = str(int(due * 1000)).encode().join(parts)
            headers = {"Content-Type": "application/json"}
            if every and k % every == 0:
                body = gzip.compress(body, compresslevel=1)
                headers["Content-Encoding"] = "gzip"
            ok = False
            try:
                conn = http.client.HTTPConnection(host, port, timeout=30)
                try:
                    conn.request("POST", "/v2/datapoint", body, headers)
                    resp = conn.getresponse()
                    resp.read()
                    ok = resp.status == 200
                finally:
                    conn.close()
            except OSError as exc:
                with self.lock:
                    self.errors.append(f"http send {k}: {exc!r}")
            self._record(
                ["sfx", step, due, start - due, time.time(), ok,
                 int(due * 1000)],
                sums if ok else None,
                self.cfg["sfx_dps"],
            )

    # -- TCP influx -----------------------------------------------------
    def _tcp_worker(self, schedule, host: str, port: int) -> None:
        pending = []
        try:
            sock = socket.create_connection((host, port), timeout=30)
        except OSError as exc:
            self.errors.append(f"tcp connect: {exc!r}")
            for k, (step, due) in enumerate(schedule):
                self._record(["influx", step, due, 0.0, due, False, 0], None, 0)
            return
        with sock:
            for k, (step, due) in enumerate(schedule):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                start = time.time()
                parts, sums = self.influx[k % len(self.influx)]
                stamp = int(due * 1e9)
                try:
                    sock.sendall(str(stamp).encode().join(parts))
                    pending.append(
                        ["influx", step, due, start - due, time.time(), True,
                         stamp // 1_000_000, sums]
                    )
                except OSError as exc:
                    self.errors.append(f"tcp send {k}: {exc!r}")
                    self._record(
                        ["influx", step, due, start - due, time.time(), False,
                         0], None, 0,
                    )
            # the listener acks once, after spooling every line of the
            # connection: only then do the sends count as accepted
            acked = False
            try:
                sock.shutdown(socket.SHUT_WR)
                acked = sock.recv(16).startswith(b"OK")
            except OSError as exc:
                self.errors.append(f"tcp ack: {exc!r}")
        for row in pending:
            sums = row.pop()
            row[5] = acked
            self._record(row, sums if acked else None, self.cfg["influx_lines"])

    def run(self) -> dict:
        cfg = self.cfg
        t0 = time.time() + 0.2
        http_sched, tcp_sched = [], []
        for step, (rate, secs) in enumerate(cfg["steps"], cfg["first_step"]):
            sfx_rate = rate * (1 - cfg["influx_share"]) / cfg["sfx_dps"]
            tcp_rate = rate * cfg["influx_share"] / cfg["influx_lines"]
            http_sched += [
                (step, t0 + i / sfx_rate) for i in range(int(secs * sfx_rate))
            ]
            tcp_sched += [
                (step, t0 + i / tcp_rate) for i in range(int(secs * tcp_rate))
            ]
            t0 += secs
        counter = itertools.count()
        threads = [
            threading.Thread(
                target=self._http_worker,
                args=(http_sched, counter, cfg["http_host"], cfg["http_port"]),
            )
            for _ in range(cfg["threads"])
        ]
        threads.append(
            threading.Thread(
                target=self._tcp_worker,
                args=(tcp_sched, cfg["tcp_host"], cfg["tcp_port"]),
            )
        )
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return {
            "sends": self.sends,
            "sums": self.sums,
            "accepted_dps": self.accepted_dps,
            "errors": self.errors[:20],
            "n_errors": len(self.errors),
        }


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    result = Generator(cfg).run()
    tmp = sys.argv[2] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, sys.argv[2])
    return 0


if __name__ == "__main__":
    sys.exit(main())
