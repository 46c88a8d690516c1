"""Spool files: the one on-disk contract between the live listeners and
the file connectors.

A spool is a directory of files. The listeners
(:mod:`metricproxy_spark.streaming.httplistener`,
:mod:`metricproxy_spark.streaming.socketlistener`) publish numbered
files into it; the ``httpwire``, ``carbonwire``, ``avrowire`` and
``warcwire`` DataSources scan it and write it. This module owns every
rule of that contract; a connector supplies only its format.

- **Listing.** A spool file is any entry not starting with ``_`` or
  ``.`` — ``_SUCCESS`` markers, ``._staged_*`` task output and
  ``.tmp_*`` publisher files are never read. Files sort naturally:
  digit runs compare as numbers, so ``req_2`` < ``req_10`` and a
  sequence that outgrows its zero pad still orders by sequence. A path
  naming one file is a one-file spool.
- **Scans.** A connector's :class:`SpoolReader` turns a list of files
  into splits (``plan``) and decodes one split (``read_split``). The
  batch scan plans the whole listing; :class:`SpoolStreamReader` plans
  each micro-batch's slice of it, so both decode on the executors.
- **Stream offset.** ``{"files": N}``: the first N listed files are
  consumed. The engine checkpoints it, and natural order plus
  append-only publishing make replay from it deterministic, so every
  file is read exactly once — the replayable-source contract of
  Structured Streaming. An idle poll (start == end) still plans one
  no-op partition, because the engine expects a non-empty plan.
- **Publishing.** :class:`SpoolPublisher` writes a hidden tmp file and
  claims ``{prefix}{seq:012d}{suffix}`` with link(2), which fails
  instead of overwriting. A reader therefore never sees a partial or
  in-flight file, and several publishers on one spool (listener
  processes, or a restart racing its predecessor) never clobber each
  other: the loser of a name moves on to the next sequence.
- **Writing.** :class:`SpoolWriter` is a two-phase commit. Each task
  writes a uniquely named ``._staged_`` file and reports it; only the
  driver-side ``commit()`` renames the full set into place and drops
  ``_SUCCESS``, so a reader never observes a partial job, and
  ``abort()`` removes the staged files of failed or speculative
  attempts. Final names embed a per-job id, so an append never
  clobbers an earlier job's files.
- **Registration.** :func:`register` registers a connector once per
  SparkContext and pickles its module, and this one, by value (see
  :func:`pickle_by_value`).

This module and every connector built on it import only the stdlib and
pyspark, which by-value pickling requires.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import uuid
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


def natural_key(path: str) -> tuple:
    """Sort key of a spool file: digit runs of its name compare as
    numbers; the name itself breaks ties (``0.txt`` vs ``00.txt``)."""
    name = os.path.basename(path)
    parts = tuple(
        int(part) if part.isdigit() else part
        for part in re.split(r"(\d+)", name)
    )
    return parts, name


def list_files(path: str) -> list[str]:
    """The spool files under ``path``, in natural order."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        (
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        ),
        key=natural_key,
    )


def _partitions(splits: list) -> list[InputPartition]:
    return [InputPartition(s) for s in splits] or [InputPartition(None)]


class SpoolReader(DataSourceReader):
    """Batch scan of a whole spool. Subclasses supply the format:
    ``plan(files)`` returns one picklable split per partition and
    ``read_split(split)`` yields its rows or Arrow record batches."""

    def __init__(self, path: str):
        self.path = path

    def plan(self, files: list[str]) -> list:
        raise NotImplementedError

    def read_split(self, split):
        raise NotImplementedError

    def partitions(self) -> list[InputPartition]:
        return _partitions(self.plan(list_files(self.path)))

    def read(self, partition: InputPartition):
        if partition.value is not None:
            yield from self.read_split(partition.value)


class SpoolStreamReader(DataSourceStreamReader):
    """Offset ``{"files": N}`` over a connector's :class:`SpoolReader`:
    each micro-batch plans its new files with the batch reader's
    ``plan`` and decodes them on the executors."""

    def __init__(self, reader: SpoolReader):
        self._reader = reader

    def initialOffset(self) -> dict:
        return {"files": 0}

    def latestOffset(self) -> dict:
        return {"files": len(list_files(self._reader.path))}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = list_files(self._reader.path)
        new = files[start.get("files", 0) : end.get("files", 0)]
        return _partitions(self._reader.plan(new))

    def read(self, partition: InputPartition):
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass


@dataclass
class StagedFile(WriterCommitMessage):
    staged: str
    final: str


class SpoolWriter(DataSourceArrowWriter):
    """Two-phase-commit file sink, one file per task (the caller sizes
    files by repartitioning upstream, like the built-in file sinks).
    Subclasses set ``suffix`` and implement ``write_file``."""

    suffix = ""

    def __init__(self, path: str, overwrite: bool):
        self._path = path
        self._overwrite = overwrite
        # Minted on the driver and serialized into every task.
        self._job_id = uuid.uuid4().hex[:12]

    def write_file(self, staged: str, name: str, batches) -> None:
        """Write one task's Arrow record batches to ``staged``; ``name``
        is the base name the file is committed under."""
        raise NotImplementedError

    def write(self, iterator) -> StagedFile:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self._path, exist_ok=True)
        name = f"part-{self._job_id}-{pid:05d}{self.suffix}"
        staged = os.path.join(
            self._path, f"._staged_{uuid.uuid4().hex}_{pid:05d}"
        )
        self.write_file(staged, name, iterator)
        return StagedFile(staged=staged, final=os.path.join(self._path, name))

    def commit(self, messages) -> None:
        if self._overwrite:
            for f in list_files(self._path):
                os.remove(f)
        for m in messages:
            os.replace(m.staged, m.final)
        with open(os.path.join(self._path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.staged)
            except FileNotFoundError:
                pass


class SpoolPublisher:
    """Publishes ``{prefix}{seq:012d}{suffix}`` files into one spool
    directory, safe across threads and processes.

    The sequence resumes after the highest existing name, so a
    restarted listener appends. Resuming is only a head start: the
    link(2) claim is what keeps two publishers that resumed at the same
    sequence from overwriting each other."""

    def __init__(self, spool_dir: str, prefix: str, suffix: str):
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self._prefix, self._suffix = prefix, suffix
        self._lock = threading.Lock()
        seqs = [
            f[len(prefix) : len(f) - len(suffix)]
            for f in os.listdir(spool_dir)
            if f.startswith(prefix) and f.endswith(suffix)
        ]
        self._seq = max((int(s) for s in seqs if s.isdigit()), default=-1) + 1

    def _next_seq(self) -> int:
        with self._lock:
            seq = self._seq
            self._seq += 1
            return seq

    def publish(self, data: bytes) -> str:
        """Atomically publish ``data`` as the next spool file; returns
        its path."""
        seq = self._next_seq()
        # dot-prefixed, so no lister counts it; one per thread
        tmp = os.path.join(
            self.spool_dir, f".tmp_{os.getpid()}_{threading.get_ident()}"
        )
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            while True:
                final = os.path.join(
                    self.spool_dir, f"{self._prefix}{seq:012d}{self._suffix}"
                )
                try:
                    os.link(tmp, final)
                    return final
                except FileExistsError:  # another publisher's file
                    seq = self._next_seq()
        finally:
            os.unlink(tmp)


def pickle_by_value(source_cls) -> None:
    """Make a connector class cloudpickle BY VALUE, with this module.

    Spark serializes a registered Python DataSource class with
    cloudpickle. By default an importable class pickles by REFERENCE
    (module path + name), which executor workers resolve because
    :func:`metricproxy_spark.io.ensure_package_on_workers` ships the
    package zip via ``addPyFile`` — but the streaming source runner is
    a separate driver-side Python process that does NOT see
    SparkFiles/addPyFile paths. If the driver found this repo only via
    a ``sys.path`` insert, the runner dies with ``ModuleNotFoundError:
    metricproxy_spark`` while planning ``readStream``. By-value
    pickling embeds the class bodies — the connector's and its base
    classes here — in the pickle itself, so the runner needs no import
    path at all.
    """
    try:
        from pyspark import cloudpickle

        for name in (source_cls.__module__, __name__):
            cloudpickle.register_pickle_by_value(sys.modules[name])
    except (KeyError, ValueError):
        # Best-effort: batch reads still work by reference + addPyFile.
        pass


_registered: set[tuple[int, str]] = set()


def register(spark, source_cls) -> None:
    """Idempotently register a spool connector on a session."""
    key = (id(spark.sparkContext), source_cls.name())
    if key not in _registered:
        pickle_by_value(source_cls)
        spark.dataSource.register(source_cls)
        _registered.add(key)
