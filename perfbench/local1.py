"""Single-thread drain baseline, run as a child process.

    python3 local1.py <spool-dirs-json> <work-dir> <result.json>

Starts a ``local[1]`` session, builds the backlog pipeline from the
same ProxyConfig the traced run uses and drains the spool twice with
``run_available_now``: once to warm up, once timed. Writes
``{"drain_s": ...}``.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    from metricproxy_spark.plans.config import build_pipeline
    from metricproxy_spark.session import get_spark

    import common
    import w_ingest

    dirs = json.loads(sys.argv[1])
    work, out = sys.argv[2], sys.argv[3]
    spark = get_spark("perfbench-local1", master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        times = []
        for i in range(2):
            root = os.path.join(work, f"drain{i}")
            pipe = build_pipeline(spark, w_ingest.backlog_config(dirs, root))
            t0 = time.time()
            pipe.run_available_now(os.path.join(root, "ckpt"))
            times.append(time.time() - t0)
    finally:
        common.stop_spark(spark)
    with open(out, "w") as fh:
        json.dump({"drain_s": times[-1]}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
