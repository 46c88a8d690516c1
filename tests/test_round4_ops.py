"""Edge-semantics tests for the round-4 operators: forward as-of
boundaries, prometheus exposition parsing tolerance, HLL sketch
accuracy/merge bounds, and deterministic mode tie-breaks."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


class TestAsofForward:
    def _join(self, spark, left_rows, right_rows):
        from metricproxy_spark.operators.asof import asof_join_forward

        left = spark.createDataFrame(left_rows, "k long, ts long, lid long")
        right = spark.createDataFrame(right_rows, "k long, ts long, v string")
        return {
            (r.lid, r.v_asof)
            for r in asof_join_forward(left, right, on="k").collect()
        }

    def test_picks_earliest_at_or_after(self, spark):
        got = self._join(
            spark,
            [(1, 10, 100), (1, 25, 101)],
            [(1, 5, "past"), (1, 20, "b"), (1, 30, "c")],
        )
        assert got == {(100, "b"), (101, "c")}

    def test_equal_ts_is_inclusive(self, spark):
        got = self._join(spark, [(1, 20, 100)], [(1, 20, "same")])
        assert got == {(100, "same")}

    def test_no_future_row_gives_null(self, spark):
        got = self._join(spark, [(1, 50, 100)], [(1, 20, "past")])
        assert got == {(100, None)}

    def test_null_payload_travels_atomically(self, spark):
        """The carried payload is the actual nearest row even when one
        of its fields is NULL (struct fill, not per-column fill)."""
        from metricproxy_spark.operators.asof import asof_join_forward

        left = spark.createDataFrame([(1, 10, 100)], "k long, ts long, lid long")
        right = spark.createDataFrame(
            [(1, 20, None, 7.0), (1, 30, "later", 9.0)],
            "k long, ts long, v string, x double",
        )
        [r] = asof_join_forward(left, right, on="k").collect()
        assert (r.v_asof, r.x_asof) == (None, 7.0)


class TestPrometheusParse:
    def _parse(self, spark, lines):
        from metricproxy_spark.sources.prometheus import (
            parse_prometheus_lines,
        )

        df = spark.createDataFrame([(l,) for l in lines], "line string")
        return parse_prometheus_lines(df).collect()

    def test_labels_value_timestamp(self, spark):
        [r] = self._parse(
            spark, ['http_req{method="post",code="200"} 1027 1395066363000']
        )
        assert r.metric == "http_req"
        assert dict(r.labels) == {"method": "post", "code": "200"}
        assert (r.value, r.ts_ms) == (1027.0, 1395066363000)

    def test_no_labels_no_timestamp(self, spark):
        [r] = self._parse(spark, ["up 1"])
        assert (r.metric, dict(r.labels), r.value, r.ts_ms) == (
            "up",
            {},
            1.0,
            None,
        )

    def test_comments_blanks_garbage_dropped(self, spark):
        rows = self._parse(
            spark,
            [
                "# HELP up Is it up.",
                "# TYPE up gauge",
                "",
                "not a metric line !!!",
                "up 1",
            ],
        )
        assert len(rows) == 1 and rows[0].metric == "up"

    def test_type_registry_join(self, spark):
        from metricproxy_spark.sources.prometheus import (
            parse_prometheus_lines,
            parse_prometheus_types,
            with_prometheus_types,
        )

        df = spark.createDataFrame(
            [("# TYPE a counter",), ("a 1",), ("b 2",)], "line string"
        )
        got = {
            (r.metric, r.prom_type)
            for r in with_prometheus_types(
                parse_prometheus_lines(df), parse_prometheus_types(df)
            ).collect()
        }
        assert got == {("a", "counter"), ("b", "untyped")}


def test_hll_sketch_estimates_within_bounds(spark, sf_dir):
    """DataSketches HLL at lgK=14: relative error is ~1.6% at 3σ for
    these cardinalities — assert every per-type estimate within 5% of
    the exact count, and the union-merged ALL row within 5% of the
    global exact distinct."""
    from metricproxy_spark.io import load_table
    from metricproxy_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["analytic_hll_sketch"](spark, sf_dir).collect()
    per_type = [r for r in rows if r.event_type != "ALL"]
    assert per_type
    for r in per_type:
        assert abs(r.est_users - r.exact_users) <= max(
            2, 0.05 * r.exact_users
        ), r
    [allrow] = [r for r in rows if r.event_type == "ALL"]
    exact_all = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(allrow.est_users - exact_all) <= max(2, 0.05 * exact_all)


def test_mode_tie_break_is_lexicographic(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("s", "B"), ("s", "B"), ("s", "A"), ("s", "A"), ("s", "C")],
        "seg string, pri string",
    )
    counted = df.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("seg").orderBy(
        F.col("n").desc(), F.col("pri").asc()
    )
    [r] = (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    )
    assert (r.pri, r.n) == ("A", 2)  # tie A/B at 2 → lexicographic


def test_pq_rerank_recall_not_below_pure_adc(spark, sf_dir):
    """Two-stage retrieval: exact re-rank of the ADC top-20 candidates
    must match the exact-cosine top-3 at least as well as ranking by
    ADC distance alone (the standard rerank-recovers-recall result)."""
    from metricproxy_spark.io import load_table
    from metricproxy_spark.operators.similarity import cosine_topk
    from metricproxy_spark.registry import QUERIES, load_all

    load_all()
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.match_id)
        for r in cosine_topk(queries, emb, k=3).collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["sim_pq_rerank"](spark, sf_dir).collect()
    }
    from metricproxy_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=32, k=16, max_iter=4)
    codes = pq_encode(emb, books)
    adc = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(queries, codes, books, k_top=4).collect()
        if r.query_id != r.neighbor_id and r.rank <= 3
    }
    # both are 10 queries x 3; compare overlap with exact ground truth
    assert len(rerank & exact) >= len(adc & exact)
    assert len(rerank & exact) >= 0.5 * len(exact)


class TestLttb:
    def _run(self, spark, rows, n_out):
        from metricproxy_spark.operators.downsample import lttb_downsample

        df = spark.createDataFrame(rows, "s string, ts long, v double, id long")
        return (
            lttb_downsample(df, "s", "ts", "v", "id", n_out=n_out)
            .orderBy("pos")
            .collect()
        )

    def test_endpoints_kept_and_count(self, spark):
        rows = [("a", t, float(t % 17), t) for t in range(200)]
        got = self._run(spark, rows, 20)
        assert len(got) == 20
        assert got[0].ts == 0 and got[-1].ts == 199
        # kept points are a subset of the input, strictly increasing ts
        ts = [r.ts for r in got]
        assert ts == sorted(ts) and len(set(ts)) == 20

    def test_short_series_passthrough(self, spark):
        rows = [("a", t, 1.0, t) for t in range(5)]
        got = self._run(spark, rows, 20)
        assert [r.ts for r in got] == [0, 1, 2, 3, 4]

    def test_spike_survives(self, spark):
        """A single huge spike must be kept — the property M4/minmax
        has and uniform sampling lacks; LTTB keeps it because the
        spike's triangle area dominates its bucket."""
        rows = [("a", t, 1.0 if t != 137 else 500.0, t) for t in range(300)]
        got = self._run(spark, rows, 12)
        assert any(r.ts == 137 for r in got)

    def test_hand_computed_tiny_case(self, spark):
        """n=5 → n_out=4: linspace bounds [1,2,4] give interior
        buckets {1} and {2,3}. Bucket {1} keeps its only point; bucket
        {2,3} computes areas against (kept point 1, mean of {4}):
        point 2 (the spike, area 27) beats point 3 (area 0)."""
        rows = [
            ("a", 0, 0.0, 0),
            ("a", 1, 0.0, 1),
            ("a", 2, 9.0, 2),
            ("a", 3, 0.0, 3),
            ("a", 4, 0.0, 4),
        ]
        got = self._run(spark, rows, 4)
        assert [r.ts for r in got] == [0, 1, 2, 4]

    def test_deterministic_across_partitionings(self, spark):
        rows = [("a", t, float((t * 7919) % 101), t) for t in range(500)]
        df = spark.createDataFrame(rows, "s string, ts long, v double, id long")
        from metricproxy_spark.operators.downsample import lttb_downsample

        a = lttb_downsample(df, "s", "ts", "v", "id", 30).orderBy("pos").collect()
        b = (
            lttb_downsample(df.repartition(13), "s", "ts", "v", "id", 30)
            .orderBy("pos")
            .collect()
        )
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_repetition_signals_staged_row_equal_to_spec(spark, sf_dir):
    """The staged-projection twin must be row-identical to the HOF
    spec dict — the spec stays the semantics, the twin the hot path."""
    from metricproxy_spark.io import load_table
    from metricproxy_spark.operators.text import (
        repetition_signals,
        repetition_signals_staged,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = repetition_signals("text")
    spec = {
        r["doc_id"]: tuple(r)[1:]
        for r in docs.select(
            "doc_id", *[e.alias(n) for n, e in sig.items()]
        ).collect()
    }
    twin = {
        r["doc_id"]: tuple(r)[1:]
        for r in repetition_signals_staged(docs, "text").collect()
    }
    assert spec == twin


def test_lttb_n_just_above_n_out_no_empty_bucket_crash(spark):
    """Integer edge rounding creates empty buckets when n is barely
    above n_out — the repacking must keep every bucket non-empty and
    still emit exactly n_out unique points."""
    from metricproxy_spark.operators.downsample import lttb_downsample

    for n, n_out in ((21, 20), (22, 20), (101, 100), (25, 24)):
        rows = [("a", t, float(t % 7), t) for t in range(n)]
        df = spark.createDataFrame(
            rows, "s string, ts long, v double, id long"
        )
        got = (
            lttb_downsample(df, "s", "ts", "v", "id", n_out=n_out)
            .orderBy("pos")
            .collect()
        )
        ts = [r.ts for r in got]
        assert len(ts) == n_out, (n, n_out, len(ts))
        assert ts[0] == 0 and ts[-1] == n - 1
        assert ts == sorted(ts) and len(set(ts)) == n_out


def test_httplistener_restart_appends_not_clobbers(spark, tmp_path):
    """A restarted listener on the same spool must continue the file
    sequence (stream offsets = first-N-sorted-files), never overwrite
    previously accepted requests."""
    import http.client
    import json as _json

    from metricproxy_spark.streaming.httplistener import HttpIngestListener

    spool = str(tmp_path / "spool")

    def post_one(metric):
        with HttpIngestListener(spool) as lis:
            conn = http.client.HTTPConnection(lis.host, lis.port, timeout=10)
            body = _json.dumps(
                {"gauge": [{"metric": metric, "value": 1.0, "timestamp": 1}]}
            ).encode()
            conn.request("POST", "/v2/datapoint", body=body)
            assert conn.getresponse().status == 200
            conn.close()

    post_one("gen1.a")
    post_one("gen2.b")  # fresh listener instance, same spool
    import os

    files = sorted(
        f for f in os.listdir(spool) if f.endswith(".http")
    )
    assert files == [
        "req_000000000000.http",
        "req_000000000001.http",
    ], files
    from metricproxy_spark.sources.httpwire import register_httpwire

    register_httpwire(spark)
    bodies = [
        r.body
        for r in spark.read.format("httpwire")
        .option("path", spool)
        .load()
        .collect()
    ]
    metrics = sorted(
        _json.loads(b)["gauge"][0]["metric"] for b in bodies
    )
    assert metrics == ["gen1.a", "gen2.b"]


def test_httpwire_file_order_is_numeric_not_lexicographic(tmp_path):
    """Offset accounting is 'first N sorted files' — names with mixed
    digit widths (overflow past the pad, hand-dropped files) must sort
    by sequence number, not byte order (round-4 ADVICE), for every
    spool connector."""
    from metricproxy_spark.sources.pyds import CarbonWireBatchReader
    from metricproxy_spark.sources.spool import list_files

    for name in ("req_999999.http", "req_1000000.http", "req_2.http"):
        (tmp_path / name).write_bytes(b"POST / HTTP/1.1\r\n\r\n")
    got = [f.split("/")[-1] for f in list_files(str(tmp_path))]
    assert got == ["req_2.http", "req_999999.http", "req_1000000.http"]

    # carbonwire plans its splits in the same (numeric) offset order
    wire = tmp_path / "wire"
    wire.mkdir()
    names = ("lines_999999999999.wire", "lines_1000000000000.wire", "lines_2.wire")
    for name in names:
        (wire / name).write_text("m 1 1\n")
    parts = CarbonWireBatchReader(str(wire), 1 << 20).partitions()
    got = [p.value[0].split("/")[-1] for p in parts]
    assert got == [
        "lines_2.wire",
        "lines_999999999999.wire",
        "lines_1000000000000.wire",
    ]
