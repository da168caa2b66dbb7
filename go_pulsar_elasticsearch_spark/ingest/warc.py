"""WARC ingestion: crawl-shaped corpus intake through the custom WARC
batch data source (sources/warc_source.py).

`warc_ingest` materializes the documents table as WARC/1.0 files once
(deterministic bytes, content-addressed cache under /tmp), reads them
back through `spark.read.format("warc_sim")`, and re-derives the
document row — certified against the documents parquet itself, proving
the writer+parser+source round-trip is lossless INCLUDING byte-exact
Content-Length on multi-byte UTF-8 bodies.

This is the batch half of the source story (the `pulsar_broker_sim`
delivery stream of sources/pulsar_stream.py is the stream half): a
reference user pointing the engine at real crawl dumps swaps the
fixture writer for their segment listing; the reader, partitioning
(one InputPartition per file), and downstream derivations are unchanged.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import duckdb

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune
from go_pulsar_elasticsearch_spark.sources.warc_source import (
    record_bytes,
    register_warc_source,
)

_N_FILES = 8
_EPOCH = datetime.datetime(2024, 1, 1)


def _warc_date(doc_id: int) -> str:
    return (_EPOCH + datetime.timedelta(seconds=int(doc_id))).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _mangled_url(doc_id: int) -> str:
    """The crawl-pipeline fixture's messy URL per doc — byte-identical
    to urlnorm._VARIANT_SQL / urlnorm._mangled (three docs share one
    base URL through three corruptions), so WARC records written with
    this URI exercise the REAL canonicalize-what-you-read path."""
    b = doc_id // 3
    m = doc_id % 3
    if m == 0:
        return f"https://corpus.local/d/{b}"
    if m == 1:
        return (
            f"HTTPS://WWW.Corpus.LOCAL:443/d/{b}"
            "/?utm_source=feed&utm_campaign=x"
        )
    return f"https://corpus.local:443/d/{b}?gclid=abc#frag"


def _materialize_warc(sf_dir: str, mangle_urls: bool = False) -> str:
    """Write {sf_dir}/documents.parquet as _N_FILES WARC files under a
    content-addressed cache dir (keyed by source path + size + mtime so
    regenerated fixtures invalidate); idempotent across runs.  With
    ``mangle_urls`` the Target-URI is the adversarially mangled crawl
    URL (_mangled_url) instead of the canonical per-doc URI — a
    DIFFERENT cache key, so both fixtures coexist."""
    src = os.path.join(sf_dir, "documents.parquet")
    # single-file fixture or a Spark-written directory of part files
    if os.path.isdir(src):
        parts = sorted(
            e.path for e in os.scandir(src) if e.name.endswith(".parquet")
        )
        sig = "|".join(
            f"{p}:{os.stat(p).st_size}:{os.stat(p).st_mtime_ns}"
            for p in parts
        )
        src = os.path.join(src, "*.parquet")
    else:
        st = os.stat(src)
        sig = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    variant = "v2-mangled" if mangle_urls else "v1"
    key = hashlib.md5(f"{sig}|{variant}".encode()).hexdigest()[:16]
    out_dir = os.path.join("/tmp", "gpe_warc_cache", key)
    done = os.path.join(out_dir, "_done")
    if os.path.exists(done):
        return out_dir
    # Build in a private temp dir and publish with one atomic rename —
    # a concurrent materializer must never truncate files a finished
    # sibling is already reading.  Streamed in cursor chunks with all
    # bucket handles open: the corpus text is never resident in driver
    # memory all at once.
    tmp_dir = f"{out_dir}.tmp.{os.getpid()}"
    os.makedirs(tmp_dir, exist_ok=True)
    cur = duckdb.connect().execute(
        f"SELECT doc_id, lang, text FROM '{src}' ORDER BY doc_id"
    )
    handles = [
        open(os.path.join(tmp_dir, f"part-{i:03d}.warc"), "wb")
        for i in range(_N_FILES)
    ]
    try:
        while rows := cur.fetchmany(10_000):
            for doc_id, lang, text in rows:
                handles[int(doc_id) % _N_FILES].write(
                    record_bytes(
                        {
                            "record_id": f"urn:gpe:doc:{doc_id}",
                            "warc_type": "response",
                            "target_uri": (
                                _mangled_url(int(doc_id))
                                if mangle_urls
                                else f"https://corpus.local/{lang}/{doc_id}"
                            ),
                            "warc_date": _warc_date(doc_id),
                            "body": text,
                        }
                    )
                )
    finally:
        for h in handles:
            h.close()
    with open(os.path.join(tmp_dir, "_done"), "w") as f:
        f.write("ok")
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    try:
        os.rename(tmp_dir, out_dir)
    except OSError:
        # a concurrent materializer published first — its content is
        # byte-identical (same key); use it and drop ours
        import shutil

        shutil.rmtree(tmp_dir, ignore_errors=True)
        if not os.path.exists(done):
            raise
    return out_dir


_WARC_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://corpus.local/' || lang || '/' || CAST(doc_id AS VARCHAR)
         AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       CAST(strlen(text) AS BIGINT) AS content_length,
       text AS body
FROM documents
"""


@register("warc_ingest", _WARC_ORACLE)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the corpus back out of WARC files via the custom Python
    data source and re-derive the document row.  The oracle recomputes
    every field (URI, ISO date, byte-exact Content-Length, body) from
    the original parquet — a full round-trip certification of the
    writer, the length-delimited parser, and the source's
    one-partition-per-file scan."""
    tune(spark)
    warc_dir = _materialize_warc(sf_dir)
    register_warc_source(spark)
    raw = spark.read.format("warc_sim").option("path", warc_dir).load()
    return raw.select(
        F.regexp_extract("record_id", r"urn:gpe:doc:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        "warc_date",
        "content_length",
        "body",
    )
