"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a full
report (environment, every workload-specific figure, and the output
checks). Traced runs also write their spans to
``.perfbench_run/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("ingest_live", "query_mix")


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Ctx:
    """What a workload gets: its arguments, a scratch dir, the tracer,
    and the session once :meth:`start_spark` has run."""

    def __init__(self, args, tmp: str, out_dir: str):
        self.t_start = T_START
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.tmp = tmp
        self.out_dir = out_dir
        self.tracer = common.Tracer(self.trace)
        self.sampler = common.MemSampler(tmp)
        self.spark = None
        self.report: dict = {}
        self.layer: dict = {}

    def start_spark(self):
        from metricproxy_spark import session

        with self.tracer.span("session"):
            t0 = time.time()
            self.spark = session.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.layer["session.get_spark_s"] = time.time() - t0
        return self.spark


def _configure_env(tmp: str, trace: bool, event_dir: str) -> None:
    """Everything is pinned before the JVM starts: CPUs, a heap below
    physical RAM, and every scratch path inside this run's TMPDIR."""
    ncpu = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(2048, common.mem_total_mb() // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    tempfile.tempdir = None
    if trace:
        os.makedirs(event_dir, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = common.submit_args(
        tmp, event_dir if trace else None
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and short steps, for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "metricproxy_spark")):
        print(f"error: no metricproxy_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench_run")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(run_dir, "tmp"))
    event_dir = os.path.join(tmp, "eventlog")
    _configure_env(tmp, bool(args.trace), event_dir)

    ctx = Ctx(args, tmp, out_dir)
    # on SIGTERM, unwind through the finally below: stop the session,
    # the sampler and the generator, wait for every child process (and
    # every orphan adopted from the tree) to end, and remove the run
    # directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    ctx.sampler.start()
    cpu0 = common.cpu_times()
    try:
        if args.workload == "query_mix":
            import w_query as mod
        else:
            import w_ingest as mod
        res = getattr(mod, args.workload)(ctx)
        res["e2e"]["peak_rss_mb"] = ctx.sampler.peak_mb
        cpu1 = common.cpu_times()
        ctx.report["machine_cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        if ctx.trace:
            _finish_trace(ctx, res, event_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.sampler.stop()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        common.reap_children()
        shutil.rmtree(tmp, ignore_errors=True)

    report = {
        "workload": args.workload,
        "env": ctx.report.pop("env", {}),
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "fail_ratio": res["failed"] / res["attempted"],
        "peak_rss_by_exe_mb": ctx.sampler.peak_by_exe,
        **ctx.report,
    }
    names = metric_units("per_layer" if ctx.trace else "end_to_end")
    source = ctx.layer if ctx.trace else res["e2e"]
    missing = [n for n in names if n not in source]
    if missing:
        print(f"error: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"report": report, "per_layer": ctx.layer}
                     if ctx.trace else {"report": report}, default=str))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(source[n]), "unit": u}
                    for n, u in names.items()},
    }))
    return 0


def _finish_trace(ctx: Ctx, res: dict, event_dir: str) -> None:
    import tracing

    spark, ctx.spark = ctx.spark, None
    common.stop_spark(spark)  # flushes the event log
    ctx.layer.update(tracing.event_log_metrics(event_dir, res["window"]))
    ctx.report["self_s"] = ctx.tracer.self_time_by_layer()
    # compare with an untraced run of the same seed for the overhead
    ctx.report["e2e_traced"] = res["e2e"]
    path = os.path.join(
        ctx.out_dir, f"{res['name']}-seed{ctx.seed}-spans.json"
    )
    ctx.tracer.dump(path)
    ctx.report["spans_file"] = os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
