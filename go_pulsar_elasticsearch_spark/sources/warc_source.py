"""WARC batch source: a Spark 4 Python DataSource reading WARC/1.0
files — the wire format web-crawl corpora (the raw material of LLM
training pipelines) actually arrive in.

Dependency-free on both sides: `write_warc` emits spec-shaped WARC/1.0
``response`` records (header block, CRLF blank line, Content-Length
bytes of payload, CRLF CRLF trailer — ISO 28500 §4), and the reader
parses them back.  The parser is **length-delimited**: it trusts
Content-Length to skip the payload rather than scanning for a record
marker, so bodies containing the literal text ``WARC/1.0`` parse
correctly — marker-scanning readers corrupt exactly the crawl data an
LLM pipeline feeds on (pages QUOTING warc records).

Scale posture: one InputPartition per .warc file — executor-parallel
across files, the unit real crawl dumps shard by (Common Crawl ships
~100 MB gzipped segments).  Intra-file offset splitting is possible
(WARC records are self-delimiting) but deliberately not done: a
record-spanning split needs a resync scan, and upstream crawls already
size files for parallelism.  The read is a plain scan — no shuffle; all
derivations happen in the JVM after the Arrow hand-off.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"

_SCHEMA = StructType(
    [
        StructField("record_id", StringType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_length", LongType()),
        StructField("body", StringType()),
    ]
)


def record_bytes(r: dict) -> bytes:
    """Serialize one record dict (record_id, warc_type, target_uri,
    warc_date, body) to WARC/1.0 bytes.  Deterministic: byte-identical
    output for identical input (no wall-clock, no uuid4 — callers
    supply stable ids/dates so re-runs reuse cached files)."""
    body = r["body"].encode("utf-8")
    headers = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: " + r["warc_type"].encode() + _CRLF
        + b"WARC-Record-ID: <" + r["record_id"].encode() + b">" + _CRLF
        + b"WARC-Date: " + r["warc_date"].encode() + _CRLF
        + b"WARC-Target-URI: " + r["target_uri"].encode() + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _CRLF
    )
    return headers + _CRLF + body + _CRLF + _CRLF


def write_warc(path: str, records: list[dict]) -> None:
    """Write one WARC/1.0 file (see record_bytes for the layout).

    ATOMIC: bytes go to a temp file renamed into place, so the name
    never exists half-written — the visibility contract the stream
    reader depends on (a listed name must already be complete; the
    offset marks it consumed forever)."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        for r in records:
            f.write(record_bytes(r))
    os.rename(tmp, path)


def parse_warc(data: bytes) -> Iterator[dict]:
    """Length-delimited WARC/1.0 record iterator over one file's bytes."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record padding
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return
        end_hdr = data.find(_CRLF + _CRLF, pos)
        if end_hdr < 0:
            raise ValueError(f"warc: unterminated header block at {pos}")
        header_block = data[pos:end_hdr].decode("utf-8")
        lines = header_block.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"warc: bad version line {lines[0]!r} at {pos}")
        hdrs = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"warc: missing/bad Content-Length at {pos}")
        body_start = end_hdr + 4
        body = data[body_start : body_start + clen]
        if len(body) != clen:
            raise ValueError(
                f"warc: truncated payload at {body_start} "
                f"(want {clen}, have {len(body)})"
            )
        rid = hdrs.get("warc-record-id", "")
        if rid.startswith("<") and rid.endswith(">"):
            rid = rid[1:-1]
        yield {
            "record_id": rid,
            "warc_type": hdrs.get("warc-type", ""),
            "target_uri": hdrs.get("warc-target-uri", ""),
            "warc_date": hdrs.get("warc-date", ""),
            "content_length": clen,
            # errors="replace": real crawl payloads are raw HTTP bytes
            # (latin-1 pages, mislabeled charsets) — a foreign byte must
            # degrade to U+FFFD, not kill the Spark task.  Our own
            # writer emits valid UTF-8, so the certified round-trip
            # never takes the replacement path.
            "body": body.decode("utf-8", errors="replace"),
        }
        pos = body_start + clen


def _read_warc_file(path: str) -> Iterator[tuple]:
    """Open/gunzip/parse one WARC file into output tuples — the single
    decode path both the batch reader and the stream reader use."""
    with open(path, "rb") as f:
        data = f.read()
    if path.endswith(".gz"):
        # crawl dumps ship gzipped; whole-file decompress is the
        # per-partition unit anyway (one file == one partition)
        import gzip

        data = gzip.decompress(data)
    for rec in parse_warc(data):
        yield (
            rec["record_id"],
            rec["warc_type"],
            rec["target_uri"],
            rec["warc_date"],
            rec["content_length"],
            rec["body"],
        )


def _list_warcs(d: str) -> list[str]:
    return sorted(
        f for f in os.listdir(d) if f.endswith((".warc", ".warc.gz"))
    )


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _WarcReader(DataSourceReader):
    def __init__(self, options):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("warc_sim: 'path' option is required")

    def partitions(self):
        files = [
            os.path.join(self._dir, f) for f in _list_warcs(self._dir)
        ]
        # empty dir -> one no-op partition (Spark requires >= 1)
        return [_WarcFilePartition(p) for p in files] or [
            _WarcFilePartition("")
        ]

    def read(self, partition: _WarcFilePartition):
        if not partition.path:
            return
        yield from _read_warc_file(partition.path)


class WarcDataSource(DataSource):
    """`spark.read.format("warc_sim").option("path", dir)` for batch;
    `spark.readStream.format("warc_sim")` tails the same directory as a
    crawl spool (new files per micro-batch, maxFilesPerBatch-limited).
    """

    @classmethod
    def name(cls) -> str:
        return "warc_sim"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return _WarcReader(self.options)

    def simpleStreamReader(self, schema):
        return _WarcStreamReader(self.options)


def register_warc_source(spark) -> None:
    spark.dataSource.register(WarcDataSource)


# --------------------------------------------------------------------------
# streaming: crawl-spool intake (new .warc files -> micro-batches)
# --------------------------------------------------------------------------

class _WarcStreamReader(SimpleDataSourceStreamReader):
    """Offset = the sorted list of consumed-and-still-present file
    names.  Crawl-spool contract: a segment name APPEARS ATOMICALLY
    with its final content (rename into place — write_warc does this)
    and never changes after; a listed name is therefore complete, the
    offset marks it consumed forever, and replay (readBetweenOffsets)
    is exact, as it is for the delivery stream's spooled batches
    (sources/pulsar_stream.py).  Names retention has deleted from the
    spool are PRUNED from the offset on the next advance (write-once
    means a deleted name can never return with new data), so checkpoint
    size tracks the live spool, not the stream's lifetime.
    maxFilesPerBatch bounds each micro-batch (≡ maxOffsetsPerTrigger-
    style rate limiting)."""

    def __init__(self, options):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("warc_sim: 'path' option is required")
        self._max_files = int(options.get("maxfilesperbatch", 10))
        if self._max_files < 1:
            raise ValueError(
                "warc_sim: maxFilesPerBatch must be >= 1 — 0 would "
                "stall the stream forever without error"
            )

    def initialOffset(self) -> dict:
        return {"files": []}

    def _emit(self, names):
        # list, not generator: the harness pickles the returned iterator
        # for prefetch caching, and micro-batches are maxFilesPerBatch-
        # bounded anyway
        out = []
        for name in names:
            out.extend(_read_warc_file(os.path.join(self._dir, name)))
        return iter(out)

    def read(self, start: dict):
        current = _list_warcs(self._dir)
        seen = set(start["files"])
        batch = [f for f in current if f not in seen][: self._max_files]
        # carry forward only names still on disk (+ this batch): offsets
        # stay spool-sized under retention, and a pruned name can never
        # re-qualify because write-once forbids its return
        kept = [f for f in start["files"] if f in set(current)]
        end = {"files": sorted(kept + batch)}
        return (self._emit(batch), end)

    def readBetweenOffsets(self, start: dict, end: dict):
        # recovery replay: files are write-once, so the name delta IS
        # the data delta
        delta = sorted(set(end["files"]) - set(start["files"]))
        return self._emit(delta)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-describing; nothing to clean up
