"""Custom Python DataSource for carbon wire files (S1 as a first-class
Spark connector).

The reference terminates the carbon plaintext protocol with a TCP
listener [P: protocol/carbon/carbonlistener.go — Listener]; this module
packages the same wire format as a native Spark *connector* via the
PySpark 4 Python Data Source API — so ``spark.read.format("carbonwire")``
and ``spark.readStream.format("carbonwire")`` work like any built-in
source, with scan parallelism the planner understands. Listing, the
stream offset, the two-phase-commit writer and registration are the
shared spool contract (:mod:`metricproxy_spark.sources.spool`); this
module adds the format:

- Splits are byte ranges of ``chunk_bytes`` (default 8 MB), in batch
  and in every micro-batch alike — a 1000-executor cluster saturates
  on ONE huge wire file just as well as on many, the same contract
  HDFS text splits give. Per-partition work is a sequential range
  read: no driver-side collect anywhere.
- The writer lands one graphite plaintext ``.carbon`` file per task.

Rows are raw ``(line, src_file)`` — parsing stays in
:func:`metricproxy_spark.sources.carbon.parse_carbon_lines` so the one
C1 parser serves the socket listener, the file stream, and this
connector identically.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StringType, StructField, StructType

from metricproxy_spark.sources.spool import (
    SpoolReader,
    SpoolStreamReader,
    SpoolWriter,
    register,
)

SCHEMA = StructType(
    [
        StructField("line", StringType()),
        StructField("src_file", StringType()),
    ]
)


def _read_range_batches(path: str, start: int, end: int):
    """Decode one byte-range split into Arrow record batches of
    (line, src_file) — the whole split in ONE buffer read, one decode,
    one vectorized split, instead of a per-row Python tuple yield
    (guide §4: each tuple otherwise crosses the worker boundary as a
    pickled row; a RecordBatch crosses as one Arrow buffer).

    Line ownership is the LineRecordReader rule, unchanged: a line
    belongs to the split containing its FIRST byte — a reader starting
    mid-file discards the partial line before its offset (the previous
    split emitted it), and a line straddling ``end`` is finished by
    the split that owns its first byte."""
    import pyarrow as pa

    base = os.path.basename(path)
    with open(path, "rb") as fh:
        if start > 0:
            fh.seek(start - 1)
            fh.readline()  # finish the split-straddling line
        data_start = fh.tell()
        if data_start >= end:
            return
        buf = fh.read(end - data_start)
        if buf and not buf.endswith(b"\n"):
            buf += fh.readline()  # our split owns the straddling line
    lines = [
        ln
        for ln in buf.decode("utf-8", errors="replace").split("\n")
        if ln
    ]
    if not lines:
        return
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(lines, type=pa.string()),
            pa.array([base] * len(lines), type=pa.string()),
        ],
        ["line", "src_file"],
    )


class CarbonWireBatchReader(SpoolReader):
    """Splits every wire file into ``chunk_bytes`` byte ranges (an
    empty file still gets one), so scan parallelism tracks data VOLUME,
    not file count."""

    def __init__(self, path: str, chunk_bytes: int):
        super().__init__(path)
        self._chunk = max(64 * 1024, chunk_bytes)

    def plan(self, files: list[str]) -> list:
        splits = []
        for p in files:
            size = os.path.getsize(p)
            for start in range(0, max(size, 1), self._chunk):
                splits.append((p, start, min(start + self._chunk, size)))
        return splits

    def read_split(self, split):
        return _read_range_batches(*split)


class CarbonWireBatchWriter(SpoolWriter):
    """K2 carbon forwarder as a first-class connector sink:
    ``df.write.format("carbonwire").save(path)`` lands graphite
    plaintext files. Arrow-batched: lines arrive as RecordBatch columns
    and serialize with one join per batch, not a per-row Python loop.
    Expects a single ``line`` column (serialize datapoints with
    :func:`metricproxy_spark.sources.carbon.to_carbon_lines`)."""

    suffix = ".carbon"

    def write_file(self, staged: str, name: str, batches) -> None:
        with open(staged, "w", encoding="utf-8", newline="") as fh:
            for batch in batches:
                col = batch.column(0).to_pylist()
                if col:
                    fh.write("\n".join(col))
                    fh.write("\n")


class CarbonWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "carbonwire"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return CarbonWireBatchReader(
            self.options["path"],
            int(self.options.get("chunk_bytes", 8 * 1024 * 1024)),
        )

    def streamReader(self, schema) -> SpoolStreamReader:
        return SpoolStreamReader(self.reader(schema))

    def writer(self, schema, overwrite: bool) -> CarbonWireBatchWriter:
        return CarbonWireBatchWriter(self.options["path"], overwrite)


def register_carbonwire(spark) -> None:
    """Idempotently register the connector on a session."""
    register(spark, CarbonWireDataSource)
