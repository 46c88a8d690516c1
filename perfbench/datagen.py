"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the seed:

- :func:`write_tables` writes the TPC-H-ish star schema, ``events``,
  ``documents`` and ``embeddings`` as one parquet file per table, with
  the column names, types and value domains the registered queries
  expect (``<dir>/<table>.parquet``).
- :func:`sfx_templates` and the ``*_lines`` helpers build wire-format
  traffic (SignalFx v2 JSON, influx, statsd, carbon plaintext) over a
  Zipf-skewed set of series, together with the per-series value sums a
  sink must hold afterwards.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big order group "
    "query stream filter vector customer"
).split()
EPOCH_1995 = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    d = rng.integers(lo, hi, n)
    base = np.datetime64(EPOCH_1995, "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table the query mix reads; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, n_ev)).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
            continue
        t = " ".join(rng.choice(WORDS, int(rng.integers(5, 90))))
        if rng.random() < 0.05:
            t += f" mail user{i}@example.com or call 555-{i % 10000:04d}"
        texts.append(t)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": labels.astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb,
    }


# -- wire traffic ---------------------------------------------------------


def zipf_series(rng: np.random.Generator, n: int, n_series: int) -> np.ndarray:
    """``n`` series indices in ``[0, n_series)``, Zipf(1.1)-skewed."""
    return (rng.zipf(1.1, n) - 1) % n_series


def series_name(i: int) -> tuple[str, str]:
    """(metric, host) of series ``i``; metric names carry the series id
    so that per-series sums can be checked from any sink."""
    return f"bench.m{i % 97}.s{i}", f"h{i % 61}"


# The stamp placeholder: the generator splices each request's creation
# stamp (ms) into the body at send time, so bodies are never re-encoded.
STAMP = "@@STAMP@@"


def sfx_templates(
    seed: int, n_templates: int, dps: int, n_series: int
) -> list[tuple[list[bytes], dict[str, float]]]:
    """SignalFx v2 JSON request bodies as (parts, sums): ``STAMP.join``
    of the parts' stamp is the body; ``sums`` maps metric → value sum
    of the request's datapoints."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_templates):
        idx = zipf_series(rng, dps, n_series)
        vals = rng.integers(1, 1000, dps)
        pts = []
        sums: dict[str, float] = {}
        for i, v in zip(idx.tolist(), vals.tolist()):
            metric, host = series_name(i)
            pts.append(
                f'{{"metric":"{metric}","value":{v},'
                f'"dimensions":{{"host":"{host}"}},"timestamp":{STAMP}}}'
            )
            sums[metric] = sums.get(metric, 0.0) + v
        body = '{"gauge":[' + ",".join(pts) + "]}"
        out.append(([p.encode() for p in body.split(STAMP)], sums))
    return out


def influx_templates(
    seed: int, n_templates: int, lines: int, n_series: int
) -> list[tuple[list[bytes], dict[str, float]]]:
    """Influx line-protocol chunks in the same (parts, sums) shape; the
    stamp is spliced in as nanoseconds."""
    rng = np.random.default_rng(seed + 7)
    out = []
    for _ in range(n_templates):
        idx = zipf_series(rng, lines, n_series)
        vals = rng.integers(1, 1000, lines)
        rows = []
        sums: dict[str, float] = {}
        for i, v in zip(idx.tolist(), vals.tolist()):
            metric, host = series_name(i)
            metric = "influx." + metric
            rows.append(
                f"{metric},host={host},region=r{i % 5} value={v} {STAMP}\n"
            )
            sums[metric] = sums.get(metric, 0.0) + v
        body = "".join(rows)
        out.append(([p.encode() for p in body.split(STAMP)], sums))
    return out


def statsd_lines(
    rng: np.random.Generator, n: int, n_series: int
) -> tuple[list[str], dict[str, float]]:
    """Gauge-typed statsd lines (``name:value|g``) and per-name sums."""
    idx = zipf_series(rng, n, n_series)
    vals = rng.integers(1, 1000, n)
    lines, sums = [], {}
    for i, v in zip(idx.tolist(), vals.tolist()):
        name = "statsd." + series_name(i)[0]
        lines.append(f"{name}:{v}|g")
        sums[name] = sums.get(name, 0.0) + v
    return lines, sums


def carbon_lines(
    rng: np.random.Generator, n: int, n_series: int, epoch_s: int
) -> tuple[list[str], dict[str, float]]:
    """Carbon plaintext lines (``name value epoch``) and per-name sums."""
    idx = zipf_series(rng, n, n_series)
    vals = rng.integers(1, 1000, n)
    lines, sums = [], {}
    for k, (i, v) in enumerate(zip(idx.tolist(), vals.tolist())):
        name = "carbon." + series_name(i)[0]
        lines.append(f"{name} {v} {epoch_s + k % 600}")
        sums[name] = sums.get(name, 0.0) + v
    return lines, sums


def add_sums(acc: dict[str, float], more: dict[str, float], k: int = 1) -> None:
    for m, s in more.items():
        acc[m] = acc.get(m, 0.0) + k * s
