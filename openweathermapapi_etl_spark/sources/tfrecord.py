"""C5t — a Spark 4 Python DataSource batch READER for a TFRecord-style
training-data container.

Completes the Python DataSource API coverage: A1b
(streaming/http_datasource.py) is the STREAM reader, B64
(sources/jsonl_datasource.py) the batch WRITER with a commit protocol;
this module is the partitioned BATCH reader — ``DataSource.reader`` →
``DataSourceReader.partitions()`` (one ``InputPartition`` per container
file, so files read in parallel across executors) → per-partition
``read()`` yielding tuples.

The format is a deliberately minimal TFRecord relative ("tfrecord-lite")
— the length-prefixed record container every training stack feeds from,
which Spark has no native reader for:

    record  := <u32 payload_len LE> <payload bytes> <u32 checksum LE>
    payload := UTF-8 JSON {"doc_id": int, "text": str}
    checksum:= XOR-fold of the payload bytes into 4 bytes

The checksum is VERIFIED on read and a mismatch raises with the file
and byte offset — silent corruption of training shards is the failure
mode this class of container exists to catch (real TFRecord carries
masked CRC-32C per length and payload; the structure — and the
fail-loudly contract — is the same).

Scale notes: parallelism = container files (the writer shards by
partition, so file count tracks write parallelism). Sequential and
random-access reads share one frame parser that reads one record at a
time from a buffered file handle, so a reader holds at most one record
in memory whatever the shard size; each record is decoded once and
streamed as a tuple, never accumulated. A corrupt record fails its task
(and so the query) rather than dropping rows — opt-in permissive
handling belongs in the caller, not silently in the reader.
"""

from __future__ import annotations

import glob
import json
import os
import struct
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)


def xor_fold(payload: bytes) -> int:
    """4-byte XOR fold of the payload (the checksum in the record
    trailer). Order-sensitive within each 4-byte lane, cheap, and
    wrong-with-certainty for truncated/shifted payloads.

    Spelled as ONE C-level bytes→int conversion plus log2(width)
    big-int halvings instead of a per-4-byte Python loop (r15 resume,
    guide §4.2 — this runs once per record on BOTH the write and the
    read path, inside the Python DataSource worker, and the
    interpreted loop dominated the checksum's cost; no new imports,
    so the r14 per-worker import-tax finding does not apply).
    Value-identical to the loop spelling — every halving XORs
    whole 32-bit lanes, and XOR of all lanes is order-free — pinned
    by tests against the reference loop across pad residues."""
    if not payload:
        return 0
    pad = (-len(payload)) % 4
    x = int.from_bytes(payload + b"\0" * pad, "little")
    bits = (len(payload) + pad) * 8
    while bits > 32:
        half = ((bits // 2 + 31) // 32) * 32  # lane-aligned split
        x = (x >> half) ^ (x & ((1 << half) - 1))
        bits = half
    return x


def _frame(doc_id: int, text: str) -> bytes:
    """One record in the container format (module docstring)."""
    payload = json.dumps({"doc_id": int(doc_id), "text": text}).encode("utf-8")
    return (
        struct.pack("<I", len(payload))
        + payload
        + struct.pack("<I", xor_fold(payload))
    )


def write_records(path: str, rows: Iterator[tuple[int, str]]) -> int:
    """Append length-prefixed checksummed records to ``path``;
    returns the record count. Executor-side helper for mapInPandas
    writers (one file per task → file count == write parallelism)."""
    n = 0
    with open(path, "ab") as fh:
        for doc_id, text in rows:
            fh.write(_frame(doc_id, text))
            n += 1
    return n


def _read_record(
    fh, path: str, offset: int, eof_ok: bool = False
) -> tuple[int, str] | None:
    """The one record-frame parser: read the record at byte ``offset``,
    where ``fh`` is positioned, and verify its checksum. Returns None
    at a clean end of file when ``eof_ok`` (the sequential reader's
    stop). Every other short read raises with the file and offset —
    including a stale/garbage random-access offset (an index sidecar
    paired with the wrong shard), which must not surface as a bare
    struct.error (r12 review catch)."""
    header = fh.read(4)
    if eof_ok and not header:
        return None
    if len(header) < 4:
        raise IOError(f"{path}: truncated length header at offset {offset}")
    (length,) = struct.unpack("<I", header)
    payload = fh.read(length)
    trailer = fh.read(4)
    if len(payload) < length or len(trailer) < 4:
        raise IOError(f"{path}: truncated record at offset {offset}")
    (want,) = struct.unpack("<I", trailer)
    got = xor_fold(payload)
    if got != want:
        raise IOError(
            f"{path}: checksum mismatch at offset {offset} "
            f"(stored {want:#010x}, computed {got:#010x})"
        )
    rec = json.loads(payload)
    return rec["doc_id"], rec["text"]


def read_records(path: str) -> Iterator[tuple[int, str]]:
    """Parse one container file front to back, verifying every
    checksum; stops at a clean end of file."""
    with open(path, "rb") as fh:
        offset = 0
        while (rec := _read_record(fh, path, offset, eof_ok=True)) is not None:
            yield rec
            offset = fh.tell()


class TFRecordLiteReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tfrecord_lite requires a path")

    def partitions(self):
        files = sorted(glob.glob(os.path.join(self.path, "*.tfr")))
        if not files:
            raise FileNotFoundError(f"no *.tfr files under {self.path}")
        return [InputPartition(f) for f in files]

    def read(self, partition: InputPartition):
        yield from read_records(partition.value)


class TFRecordLiteDataSource(DataSource):
    """``spark.dataSource.register(TFRecordLiteDataSource)`` then
    ``spark.read.format("tfrecord_lite").load(dir)``."""

    @classmethod
    def name(cls) -> str:
        return "tfrecord_lite"

    def schema(self) -> str:
        return "doc_id bigint, text string"

    def reader(self, schema) -> TFRecordLiteReader:
        return TFRecordLiteReader(self.options)


def write_records_indexed(
    path: str, rows: Iterator[tuple[int, str]]
) -> list[tuple[int, int]]:
    """Like :func:`write_records`, returning the INDEX: one
    ``(doc_id, byte_offset)`` per record. The index is what turns a
    sequential container into a randomly addressable one — training
    dataloaders sample documents, they don't stream shards end to
    end, and without the sidecar a single sampled record costs a full
    shard scan."""
    index: list[tuple[int, int]] = []
    with open(path, "ab") as fh:
        for doc_id, text in rows:
            index.append((int(doc_id), fh.tell()))
            fh.write(_frame(doc_id, text))
    return index


def read_record_at(path: str, offset: int) -> tuple[int, str]:
    """Random-access read of ONE record by byte offset, checksum
    verified — O(record), independent of shard size."""
    with open(path, "rb") as fh:
        fh.seek(offset)
        return _read_record(fh, path, offset)


def read_records_at(
    path: str, offsets: list[int]
) -> list[tuple[int, str]]:
    """Random-access reads of MANY records from one shard with a
    single open — callers pass offsets in ascending order so the
    seeks walk the file forward (the disk-friendly pattern);
    per-record checksum verified like :func:`read_record_at`."""
    out: list[tuple[int, str]] = []
    with open(path, "rb") as fh:
        for offset in offsets:
            fh.seek(offset)
            out.append(_read_record(fh, path, offset))
    return out
