"""SpoolPublisher under contention: publishers that resumed at the same
sequence, each hit by many threads, never lose or overwrite a file."""

from __future__ import annotations

import os
import sys
import threading

from metricproxy_spark.sources.spool import SpoolPublisher, list_files


def test_racing_publishers_never_clobber(tmp_path):
    spool = str(tmp_path / "spool")
    # two publishers resume at seq 0, like two listener processes
    pubs = [SpoolPublisher(spool, "req_", ".http") for _ in range(2)]
    n_threads, per_thread = 8, 50

    def worker(k):
        for i in range(per_thread):
            pubs[k % 2].publish(f"{k}:{i}".encode())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(k,)) for k in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)

    files = list_files(spool)
    assert len(files) == n_threads * per_thread
    assert os.path.basename(files[-1]) == f"req_{len(files) - 1:012d}.http"
    payloads = set()
    for f in files:
        with open(f, "rb") as fh:
            payloads.add(fh.read().decode())
    assert payloads == {
        f"{k}:{i}" for k in range(n_threads) for i in range(per_thread)
    }
    assert sorted(os.listdir(spool)) == sorted(map(os.path.basename, files))
