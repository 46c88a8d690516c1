"""The ``ingest_live`` workload and the ingest-side layer probes.

The proxy is built with ``plans.build_pipeline`` from a ProxyConfig,
and its forwarders are replaced with :class:`SinkTap` wrappers around the
real ``streaming.sinks`` factories. A tap writes each micro-batch to
``<sink>/batch=<id>`` and records when the write started and ended, so
that every datapoint read back from a sink can be tied to the moment
its batch was committed.
"""

from __future__ import annotations

import gzip
import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np

import common
import datagen

HERE = os.path.dirname(os.path.abspath(__file__))


class SinkTap:
    """Per-batch timing wrappers around the real sink factories."""

    def __init__(self, root: str, kinds: list[str]):
        self.root = root
        self.kinds = kinds
        self.batches: dict[int, dict] = {}
        self.write_s: dict[str, list[float]] = {k: [] for k in kinds}

    def specs(self):
        from metricproxy_spark.streaming.pipeline import SinkSpec

        return [SinkSpec(k, self._writer(k)) for k in self.kinds]

    def _writer(self, kind: str):
        from metricproxy_spark.streaming import sinks

        def write(df, batch_id: int) -> None:
            path = os.path.join(self.root, kind, f"batch={batch_id}")
            if kind == "signalfx":
                w = sinks.signalfx_sink(path=path)
            elif kind == "carbon":
                w = sinks.carbon_sink(path, meta_col="meta")
            else:
                w = sinks.csv_sink(path)
            t0 = time.time()
            w(df, batch_id)
            t1 = time.time()
            b = self.batches.setdefault(batch_id, {"t0": t0, "sinks": {}})
            b["sinks"][kind] = (t0, t1)
            b["t1"] = t1
            self.write_s[kind].append(t1 - t0)

        return write

    def sink_glob(self, kind: str) -> str:
        return os.path.join(self.root, kind, "batch=*", "part-*")


def _disk_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if f.startswith("part-")
        )
    return total


def read_sink_sums(tap: SinkTap, kind: str) -> dict[str, tuple[float, int]]:
    """metric → (value sum, datapoint count) as durably written."""
    glob = tap.sink_glob(kind)
    con = duckdb.connect()
    try:
        if kind == "signalfx":
            rel = (
                f"read_json('{glob}', format='newline_delimited', "
                "columns={'metric': 'VARCHAR', 'value': 'DOUBLE'})"
            )
        elif kind == "carbon":
            rel = (
                f"read_csv('{glob}', delim=' ', header=false, quote='', "
                "columns={'metric': 'VARCHAR', 'value': 'DOUBLE', "
                "'epoch': 'VARCHAR'})"
            )
        else:
            rel = (
                f"read_csv('{glob}', header=false, escape='\\', "
                "columns={'metric': 'VARCHAR', 'value': 'DOUBLE', "
                "'value_str': 'VARCHAR', 'ts': 'VARCHAR', "
                "'metric_type': 'VARCHAR', 'dimensions': 'VARCHAR', "
                "'meta': 'VARCHAR'})"
            )
        rows = con.execute(
            f"SELECT metric, sum(value), count(*) FROM {rel} GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {m: (float(s or 0.0), int(n)) for m, s, n in rows}


def check_sinks(tap: SinkTap, expect: dict[str, float], n_expect: int,
                problems: list[str]) -> int:
    """Compares every sink with the generator's per-series sums; returns
    the number of mismatched series (each also listed in problems)."""
    bad = 0
    for kind in tap.kinds:
        got = read_sink_sums(tap, kind)
        n_got = sum(n for _, n in got.values())
        if n_got != n_expect:
            problems.append(f"{kind}: {n_got} datapoints, expected {n_expect}")
            bad += 1
        for m in set(expect) | set(got):
            s = got.get(m, (0.0, 0))[0]
            if abs(s - expect.get(m, 0.0)) > 1e-6 * max(1.0, abs(s)):
                bad += 1
                if len(problems) < 20:
                    problems.append(
                        f"{kind}: {m} sum {s} != {expect.get(m, 0.0)}"
                    )
    return bad


def sfx_stamp_batches(tap: SinkTap) -> dict[tuple[str, int], int]:
    """(send kind, creation stamp in ms) → the last batch that wrote a
    datapoint of that send to the signalfx sink."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT CASE WHEN metric LIKE 'influx.%' THEN 'influx' "
            "ELSE 'sfx' END, timestamp, max(CAST(regexp_extract(filename, "
            "'batch=([0-9]+)', 1) AS BIGINT)) FROM read_json("
            f"'{tap.sink_glob('signalfx')}', format='newline_delimited', "
            "columns={'metric': 'VARCHAR', 'timestamp': 'BIGINT'}, "
            "filename=true) GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return {(k, int(s)): int(b) for k, s, b in rows}


def _progress(query) -> list[dict]:
    return [p for p in query.recentProgress if p]


def _progress_layers(ctx, progress: list[dict], tap: SinkTap,
                     t_first: float) -> None:
    """Streaming layer figures from the progress events and taps of the
    batches committed after ``t_first``."""
    data = [
        p for p in progress
        if p.get("numInputRows", 0) > 0
        and tap.batches.get(p["batchId"], {}).get("t1", 0) >= t_first
    ]
    if not data:
        return
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    sink_ms = []
    for p in data:
        b = tap.batches.get(p["batchId"], {})
        sink_ms.append(sum(t1 - t0 for t0, t1 in b.get("sinks", {}).values())
                       * 1000)
    demux = [a - s for a, s in zip(dur("addBatch"), sink_ms)]
    rows = [p["numInputRows"] for p in data]
    lay = ctx.report.setdefault("layers", {})
    lay.update({
        "streaming.pipeline.batches": len(data),
        "streaming.pipeline.rows_per_batch_p50": common.median(rows),
        "streaming.pipeline.trigger_ms_p50": common.median(dur("triggerExecution")),
        "streaming.pipeline.trigger_ms_p99": common.pct(dur("triggerExecution"), 99),
        "streaming.pipeline.add_batch_ms_p50": common.median(dur("addBatch")),
        "streaming.pipeline.demux_ms_p50": common.median(demux),
        "sources.latest_offset_ms_p50": common.median(dur("latestOffset")),
    })
    for k, ws in tap.write_s.items():
        if ws:
            lay[f"streaming.sinks.{k}.write_ms_p50"] = common.median(ws) * 1000
    total_dp = sum(rows)
    if total_dp:
        lay["streaming.sinks.bytes_per_dp"] = _disk_bytes(tap.root) / (
            total_dp * len(tap.kinds)
        )
    # one span per batch, with its sink writes as children
    tr = ctx.tracer
    for p in data:
        b = tap.batches.get(p["batchId"])
        if b is None:
            continue
        trace = f"batch-{p['batchId']}"
        t_end = b["t1"]
        t_start = t_end - p["durationMs"].get("triggerExecution", 0) / 1000
        sid = tr.add("streaming.pipeline", min(t_start, b["t0"]), t_end,
                     parent=ctx.workload_span, trace=trace,
                     rows=p["numInputRows"])
        for k, (t0, t1) in b["sinks"].items():
            tr.add(f"streaming.sinks.{k}", t0, t1, parent=sid, trace=trace)


# -- standalone layer probes (traced runs only) ---------------------------


def decode_probes(ctx, spool: dict[str, str]) -> None:
    """``sources.<proto>.decode_dps``: batch-parse one spool directory
    per protocol through the public parser, noop write."""
    from metricproxy_spark.sources.carbon import parse_carbon_lines
    from metricproxy_spark.sources.httpwire import register_httpwire
    from metricproxy_spark.sources.influx import parse_influx_lines
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.sources.signalfx import parse_sfx_v2_json
    from metricproxy_spark.sources.statsd import parse_statsd_lines

    spark = ctx.spark
    register_httpwire(spark)
    register_carbonwire(spark)
    plans = {
        "signalfx": lambda: parse_sfx_v2_json(
            spark.read.format("httpwire").option("path", spool["signalfx"]).load()
        ),
        "influx": lambda: parse_influx_lines(
            spark.read.format("carbonwire").option("path", spool["influx"]).load()
            .select("line")
        ),
        "statsd": lambda: parse_statsd_lines(
            spark.read.format("carbonwire").option("path", spool["statsd"]).load()
            .select("line")
        ),
        "carbon": lambda: parse_carbon_lines(
            spark.read.text(spool["carbon"]).withColumnRenamed("value", "line")
        ),
    }
    for proto, plan in plans.items():
        df = plan()
        n = df.count()  # warm and count
        times = []
        for _ in range(3):
            t0 = time.time()
            with ctx.tracer.span(f"sources.{proto}", trace="probe"):
                df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        ctx.layer[f"sources.{proto}.decode_dps"] = n / common.median(times)


def build_probe(ctx, cfg: dict) -> float:
    from metricproxy_spark.plans.config import build_pipeline

    times = []
    for _ in range(3):
        t0 = time.time()
        pipe = build_pipeline(ctx.spark, cfg)
        times.append(time.time() - t0)
        pipe.close_listeners()
    return common.median(times)


def scan_probe(ctx, table_dir: str, names: list[str]) -> float:
    """``io.scan_s``: noop scan of ``names`` through ``io.load_table``."""
    from metricproxy_spark.io import load_table

    times = []
    for _ in range(3):
        t0 = time.time()
        with ctx.tracer.span("io", trace="probe"):
            for n in names:
                load_table(ctx.spark, table_dir, n).write.format(
                    "noop"
                ).mode("overwrite").save()
        times.append(time.time() - t0)
    return common.median(times)


# -- backlog spool --------------------------------------------------------


def write_spool(root: str, seed: int, n_dp: int, n_series: int) -> tuple[dict, dict, int]:
    """A multi-protocol backlog of about ``n_dp`` datapoints: SignalFx
    httpwire request files (500 datapoints each, a quarter gzip), and
    influx, statsd and carbon line files. Returns (dirs, sums, count)."""
    rng = np.random.default_rng(seed + 1)
    dirs = {k: os.path.join(root, k) for k in ("signalfx", "influx", "statsd", "carbon")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    sums: dict[str, float] = {}
    count = 0
    share = n_dp // 4
    stamp_ms = 1_700_000_000_000
    templates = datagen.sfx_templates(seed, 8, 500, n_series)
    for k in range(max(1, share // 500)):
        parts, s = templates[k % len(templates)]
        body = str(stamp_ms + k).encode().join(parts)
        hdr = "POST /v2/datapoint HTTP/1.1\r\nContent-Type: application/json\r\n"
        if k % 4 == 0:
            body = gzip.compress(body, compresslevel=1, mtime=0)
            hdr += "Content-Encoding: gzip\r\n"
        hdr += f"Content-Length: {len(body)}\r\n\r\n"
        with open(os.path.join(dirs["signalfx"], f"req_{k:012d}.http"), "wb") as fh:
            fh.write(hdr.encode() + body)
        datagen.add_sums(sums, s)
        count += 500
    influx = datagen.influx_templates(seed, 8, 1000, n_series)
    for k in range(max(1, share // 1000)):
        parts, s = influx[k % len(influx)]
        with open(os.path.join(dirs["influx"], f"lines_{k:012d}.wire"), "wb") as fh:
            fh.write(str((stamp_ms + k) * 1_000_000).encode().join(parts))
        datagen.add_sums(sums, s)
        count += 1000
    for proto, make in (("statsd", datagen.statsd_lines),
                        ("carbon", datagen.carbon_lines)):
        per_file = 5000
        for k in range(max(1, share // per_file)):
            if proto == "statsd":
                lines, s = make(rng, per_file, n_series)
                name = f"lines_{k:012d}.wire"
            else:
                lines, s = make(rng, per_file, n_series, stamp_ms // 1000)
                name = f"carbon_{k:06d}.txt"
            with open(os.path.join(dirs[proto], name), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            datagen.add_sums(sums, s)
            count += per_file
    return dirs, sums, count


# -- backlog drain (traced runs only) ------------------------------------


def backlog_config(dirs: dict, sink_root: str) -> dict:
    return {
        "ListenFrom": [
            {"Type": "signalfx", "Source": dirs["signalfx"]},
            {"Type": "influx", "Source": dirs["influx"]},
            {"Type": "statsd", "Source": dirs["statsd"]},
            {"Type": "carbon", "Source": dirs["carbon"]},
        ],
        "ForwardTo": [
            {"Type": t, "Path": os.path.join(sink_root, t)}
            for t in ("signalfx", "carbon", "csv")
        ],
    }


def drain_probe(ctx, n_dp: int) -> tuple[int, int]:
    """The graceful-drain path: a pre-spooled multi-protocol backlog
    through four listeners into three sinks with
    ``run_available_now``, twice (warm, then timed), every sink read
    back. Fills ``drain_dps`` and ``drain_dps.local1`` (the same drain
    in a ``local[1]`` session) and returns (drains, failed drains)."""
    from metricproxy_spark.plans.config import build_pipeline

    dirs, sums, count = write_spool(
        os.path.join(ctx.tmp, "backlog"), ctx.seed, n_dp, 10_000
    )
    problems = ctx.report.setdefault("problems", [])
    failed = 0
    for i in range(2):
        root = os.path.join(ctx.tmp, f"drain{i}")
        tap = SinkTap(os.path.join(root, "sinks"), ["signalfx", "carbon", "csv"])
        pipe = build_pipeline(ctx.spark, backlog_config(dirs, root))
        pipe.sinks = tap.specs()
        t0 = time.time()
        pipe.run_available_now(os.path.join(root, "ckpt"))
        drain_s = time.time() - t0
        bad = check_sinks(tap, sums, count, problems)
        if pipe.stats.get("datapoints_in") != count:
            problems.append(f"drain counted {pipe.stats.get('datapoints_in')} of {count}")
            bad += 1
        failed += 1 if bad else 0
    ctx.tracer.add("drain", t0, t0 + drain_s, trace="probe")
    lay = ctx.report.setdefault("layers", {})
    lay["drain_dps"] = count / drain_s
    lay["drain_dps.local1"] = local1_drain(ctx, dirs, count)
    return 2, failed


def local1_drain(ctx, dirs: dict, count: int) -> float:
    """Single-thread baseline: the same drain in a ``local[1]`` session
    in a child process (without the event log); returns datapoints/s."""
    out = os.path.join(ctx.tmp, "local1.json")
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=common.submit_args(ctx.tmp))
    cmd = [sys.executable, os.path.join(HERE, "local1.py"),
           json.dumps(dirs), os.path.join(ctx.tmp, "local1"), out]
    subprocess.run(cmd, check=True, timeout=150, env=env,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as fh:
        drain_s = json.load(fh)["drain_s"]
    return count / drain_s


def trace_probes(ctx) -> None:
    """The standalone layer probes every traced run makes, so that each
    per-layer metric is measured on every workload the same way."""
    import w_query

    probe_root = os.path.join(ctx.tmp, "probe_spool")
    dirs, _, _ = write_spool(probe_root, ctx.seed, 40_000, 10_000)
    decode_probes(ctx, dirs)
    table_dir = os.path.join(ctx.tmp, "probe_tables")
    datagen.write_tables(table_dir, ctx.seed, w_query.SF)
    ctx.layer["io.scan_s"] = scan_probe(ctx, table_dir, list(w_query.TABLES))
    ctx.layer["plans.config.build_s"] = build_probe(
        ctx, backlog_config(dirs, ctx.tmp)
    )


# -- ingest_live ----------------------------------------------------------


# datapoints/s; the pipeline sustains about 10k-15k on a 4-core host,
# so the top step keeps some headroom
LADDER = [2_500, 5_000, 10_000]


def run_generator(ctx, cfg: dict) -> dict:
    """Runs loadgen.py in its own process and returns its result."""
    name = f"gen{cfg['first_step']}"
    cfg_path = os.path.join(ctx.tmp, f"{name}.json")
    res_path = os.path.join(ctx.tmp, f"{name}_result.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                            cfg_path, res_path])
    try:
        gen.wait(timeout=120)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited {gen.returncode}")
    with open(res_path) as fh:
        return json.load(fh)


def live_config(spool: dict, sink_root: str) -> dict:
    return {
        "ListenFrom": [
            {"Type": "signalfx", "Source": spool["signalfx"],
             "ListenAddr": "127.0.0.1:0"},
            {"Type": "influx", "Source": spool["influx"],
             "ListenAddr": "127.0.0.1:0", "Protocol": "tcp"},
        ],
        "ForwardTo": [
            {"Type": t, "Path": os.path.join(sink_root, t)}
            for t in ("signalfx", "carbon")
        ],
    }


def ingest_live(ctx) -> dict:
    """Open loop through the live HTTP and TCP listeners: an untimed
    warm-up step, then the rate ladder, one step after the other."""
    from metricproxy_spark.plans.config import build_pipeline

    spark = ctx.start_spark()
    spool = {k: os.path.join(ctx.tmp, "spool", k) for k in ("signalfx", "influx")}
    for d in spool.values():
        os.makedirs(d, exist_ok=True)
    sink_root = os.path.join(ctx.tmp, "sinks")
    with ctx.tracer.span("plans.config", trace="setup"):
        b0 = time.time()
        pipe = build_pipeline(spark, live_config(spool, sink_root))
        build_s = time.time() - b0
    tap = SinkTap(sink_root, ["signalfx", "carbon"])
    pipe.sinks = tap.specs()
    http_lis, tcp_lis = pipe.live_listeners
    (query,) = pipe.start(os.path.join(ctx.tmp, "ckpt"), available_now=False,
                          processing_time="0 seconds")

    div = 10 if ctx.smoke else 1
    step_s = max(1.0, ctx.seconds / len(LADDER))
    gen_cfg = {
        "seed": ctx.seed, "templates": 16, "series": 10_000,
        "sfx_dps": 200, "influx_lines": 50, "influx_share": 0.25,
        "gzip_every": 4, "threads": min(4, len(os.sched_getaffinity(0))),
        "http_host": "127.0.0.1", "http_port": http_lis.port,
        "tcp_host": "127.0.0.1", "tcp_port": tcp_lis.port,
    }
    # warm-up: 2 s at the top rate, enough for the socket listener to
    # spool a few files, then wait until the (cold) batches holding it
    # have committed, so both parse paths are warm
    warm0 = time.time()
    warm = run_generator(ctx, dict(gen_cfg, first_step=0,
                                   steps=[[LADDER[-1] // div, 2.0]]))
    query.processAllAvailable()
    ctx.report["setup_parts_s"] = {
        "session": ctx.layer["session.get_spark_s"],
        "build": build_s,
        "warm_up": time.time() - warm0,
    }
    g = run_generator(ctx, dict(gen_cfg, first_step=1, steps=[
        [r // div, step_s] for r in LADDER
    ]))
    g["sends"] += warm["sends"]
    datagen.add_sums(g["sums"], warm["sums"])
    g["accepted_dps"] += warm["accepted_dps"]
    g["errors"] += warm["errors"]

    # untimed: stop intake, flush the socket spool, drain what is left
    pipe.close_listeners()
    query.processAllAvailable()
    progress = _progress(query)
    query.stop()
    ctx.sampler.stop()  # the checks below are not the program's work

    problems: list[str] = []
    sends = g["sends"]
    t_first = min(s[2] for s in sends if s[1] == 1)
    setup_s = t_first - ctx.t_start

    # a send is delivered when the last batch holding its stamp has
    # been written to every sink
    stamp_batch = sfx_stamp_batches(tap)
    lat = {i: [] for i in range(1, len(LADDER) + 1)}
    late = []
    failed = 0
    measured_dp, w1 = 0, t_first
    size = {"sfx": gen_cfg["sfx_dps"], "influx": gen_cfg["influx_lines"]}
    for kind, step, due, lateness, done, ok, stamp in sends:
        batch = stamp_batch.get((kind, stamp)) if ok else None
        if batch is None:
            failed += 1
            if ok and len(problems) < 20:
                problems.append(f"{kind} send stamped {stamp} not in sink")
            continue
        if step >= 1:
            commit = tap.batches[batch]["t1"]
            lat[step].append(commit - due)
            late.append(lateness)
            measured_dp += size[kind]
            w1 = max(w1, commit)
    failed += check_sinks(tap, g["sums"], g["accepted_dps"], problems)
    ctx.workload_span = ctx.tracer.add("workload", t_first, w1)
    ctx.report.setdefault("layers", {}).update({
        "streaming.httplistener.accepted_req": http_lis.accepted,
        "streaming.socketlistener.accepted_lines": tcp_lis.accepted_lines,
        "streaming.socketlistener.lines_per_file": tcp_lis.lines_per_file,
        "gen.late_p99_s": common.pct(late, 99) if late else None,
    })
    http_ack = [s[4] - s[2] - s[3] for s in sends if s[0] == "sfx" and s[5]]
    ctx.report["layers"]["streaming.httplistener.ack_p99_ms"] = (
        common.pct(http_ack, 99) * 1000 if http_ack else None
    )
    pooled = [x for v in lat.values() for x in v]
    per_step = {}
    for i, v in lat.items():
        rate = LADDER[i - 1]
        if v:
            per_step[f"r{rate / 1000:g}k"] = {
                "n": len(v), "p50_s": common.median(v), "p99_s": common.pct(v, 99),
            }
    ctx.report.update({
        "steps": per_step,
        "lat_p50_s": common.median(pooled),
        "batches": [
            [p["batchId"], p["numInputRows"],
             p["durationMs"].get("triggerExecution"),
             round(tap.batches[p["batchId"]]["t1"] - t_first, 3)
             if p["batchId"] in tap.batches else None]
            for p in progress if p.get("numInputRows")
        ],
        "gen_errors": g["errors"],
        "accepted_dps": g["accepted_dps"],
        "problems": problems,
    })
    attempted = len(sends)
    if ctx.trace:
        _progress_layers(ctx, progress, tap, t_first)
        trace_probes(ctx)
        n, bad = drain_probe(ctx, 8_000 if ctx.smoke else 16_000)
        attempted += n
        failed += bad
    ctx.report["env"] = common.environment(ctx.seed)
    ctx.report["env"]["java"] = common.java_version(spark)
    return {
        "name": "ingest_live",
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "window": (t_first, w1),
        "e2e": {
            "setup_s": setup_s,
            "lat_mean_s": sum(pooled) / len(pooled),
            "tail_s": common.pct(pooled, 90),
            # measured datapoints over the time until the last of them
            # was delivered: below capacity this is the offered rate,
            # past it the rate the proxy sustains
            "throughput": measured_dp / (w1 - t_first),
        },
    }
