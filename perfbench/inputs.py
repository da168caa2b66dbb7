"""Seeded input generators.  The same seed gives byte-identical inputs;
the program receives only what these return.

Ingest messages follow ``ingest.avro.reference_ingestion_record``: one
record in three has null ``tags`` and the rest carry a two-element Tag
array, every uuid is unique, and the payload is real Avro binary from
the program's own codec.  The event types are those of the events
fixture.

The curation corpus uses the word list and length range of the sf0.1
``documents`` fixture (30 words, 10 to 99 words per document), with
stated shares of exact duplicates and near duplicates (one word
replaced) of earlier documents.
"""

from __future__ import annotations

import hashlib
import os
import random

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")

EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def ingest_records(seed: int, n: int, start: int = 0) -> list[dict]:
    """Records ``start .. start+n-1`` of the seed's message sequence, in
    the reference IngestionData shape."""
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        reference_ingestion_record,
    )

    rng = _rng(seed, f"ingest:{start}")
    base = _rng(seed, "ingest-base").randrange(1 << 40)
    out = []
    for i in range(start, start + n):
        # 62 random bits prefixed by the sequence number: unique by
        # construction, random-looking like a real uuid
        uid = ((i + 1) << 62) | rng.getrandbits(62)
        out.append(reference_ingestion_record(
            base + i, uid, EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]))
    return out


def encode(records: list[dict]) -> list[bytes]:
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        INGESTION_AVRO_SCHEMA,
        avro_codec,
    )

    schema = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)
    return [avro_codec.encode(schema, r) for r in records]


def rejected(records: list[dict], one_in: int) -> set[str]:
    """The uuids the ES stand-in rejects on every delivery: one in
    ``one_in``, picked by a hash of the uuid."""
    return {
        r["uuid"] for r in records
        if int(hashlib.md5(r["uuid"].encode()).hexdigest(), 16) % one_in == 0
    }


def corpus(seed: int, n_docs: int) -> list[tuple[int, str, str, str, int]]:
    """(doc_id, text, lang, source, n_chars) rows of the curation
    corpus."""
    rng = _rng(seed, "corpus")
    texts: list[str] = []
    for _ in range(n_docs):
        roll = rng.random()
        if texts and roll < EXACT_DUP_SHARE:
            text = texts[rng.randrange(len(texts))]
        elif texts and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[rng.randrange(len(texts))].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(
                rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        texts.append(text)
    order = list(range(n_docs))
    rng.shuffle(order)  # duplicates do not always follow their original
    return [
        (doc_id, texts[k], LANGS[k % len(LANGS)], f"src{k % 20}",
         len(texts[k]))
        for doc_id, k in enumerate(order)
    ]


def write_corpus(rows, sf_dir: str) -> None:
    """Write ``rows`` as ``<sf_dir>/documents.parquet``, the layout the
    program's catalog reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
