"""Elasticsearch `_bulk` wire-protocol sink (reference: pkg/es/es.go).

The heart of the reference is the bulk-index + per-item ack/nack/DLQ loop:

- `es.go:160-213` BulkIndex: DocumentID=uuid (`:186`), N workers with
  5 MB / 30 s flush (`:161-168`), succeeded ids collected via the
  per-item `OnSuccess` hook (`:188-193`), failures logged per item
  (`:194-198`).
- `es.go:133-158` transport policy: retry the whole request on
  429/502/503/504 with `2^i`-seconds backoff (`:139-144`), request
  compression.
- `main.go:173-202` reconciliation: ack items whose ids came back in
  the succeeded list, nack the rest -> Pulsar redelivery -> DLQ after
  MaxDeliveries.  ⚠ The reference's matcher is buggy (`main.go:184`:
  `found` is never reset inside the outer loop, so after the first
  success nothing is ever nacked).  This module implements the
  INTENDED semantics: exactly the failed items of a partial-failure
  bulk response are routed to the DLQ branch.
- `es.go:78-116` startup DDL: dated index `<alias>_YYYY-MM-DD` from the
  mapping template (tolerating resource_already_exists_exception), then
  the alias flip.

Spark shape: every `_bulk` post in the engine goes through ONE
executor-side primitive, `bulk_index_keyed`: `(key, doc)` pairs in,
`(key, doc, status, error)` out in input order, so each caller
reconciles by position against its own key (a broker message id, a DLQ
entry) — never by doc id, which two in-flight duplicates may share.
Its callers are the delivery stream's epoch pass
(sources/pulsar_stream.py), the `es_bulk_sim` writer and `replay_dlq`
(sources/es_writer_sim.py), and `bulk_index_rows` below, the
transformation form that emits one (uuid, status, error, doc) row per
document — so ack/nack reconciliation is a DataFrame filter, DLQ
routing is a write of the failed slice, and everything distributes:
each input partition posts its own bulk requests from its executor,
which is the reference's N bulk workers (`es.go:164`, NUMBER_* in
.env:3-5).  Strict mapping enforcement (sources/es_sink.py) runs BEFORE
any bytes reach the wire, reproducing `dynamic: "strict"`
(mapping.json:11) batch-wide.

Everything speaks plain HTTP via urllib (stdlib) — certified in pytest
against an in-process mock `_bulk` endpoint (tests/test_es_bulk.py);
pointing `endpoint` at a real cluster is the same code path.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from typing import Iterable, Iterator, TypeVar

from pyspark.sql import DataFrame

K = TypeVar("K")

# es.go:139 — elasticsearch.Config{RetryOnStatus: [502, 503, 504, 429]}
RETRY_STATUSES = frozenset({429, 502, 503, 504})


class BulkTransportError(RuntimeError):
    """Transport-level bulk failure that exhausted the retry budget."""

    def __init__(self, status: int, body: str):
        super().__init__(f"bulk request failed with HTTP {status}: {body[:200]}")
        self.status = status
        self.body = body


@dataclass
class BulkClientOptions:
    """Wire-level knobs, pinned to the reference's config."""

    index: str = "index_data"
    id_field: str = "uuid"              # es.go:186
    batch_entries: int = 1000           # MAX_BATCH_SIZE .env:16
    batch_bytes: int = 5 * 1024 * 1024  # es.go:166 FlushBytes
    retries: int = 10                   # RETRIES .env:11
    base_delay_s: float = 1.0           # es.go:140-144: 2^i seconds
    timeout_s: float = 30.0


def _to_jsonable(v):
    """Row value -> JSON-serializable, matching what the ES date type and
    nested mapping accept: timestamps as ISO-8601 strings, arrays of
    structs as arrays of objects, NaN/NaT as null."""
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_to_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _to_jsonable(x) for k, x in v.items()}
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.isoformat()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "isoformat"):  # plain datetime/date (the Row path)
        return v.isoformat()
    return v


def _ndjson_pair(doc: dict, index: str, id_field: str) -> bytes:
    """One document's `_bulk` lines: the `index` action line (op type
    `index` = last-write-wins upsert, es.go:186) and the source line,
    each newline-terminated."""
    action = json.dumps(
        {"index": {"_index": index, "_id": doc[id_field]}},
        separators=(",", ":"))
    source = json.dumps(doc, separators=(",", ":"))
    return f"{action}\n{source}\n".encode("utf-8")


def docs_to_ndjson(docs: Iterable[dict], index: str, id_field: str) -> bytes:
    """The `_bulk` body: one action line + one source line per
    document."""
    return b"".join(_ndjson_pair(doc, index, id_field) for doc in docs)


def bulk_post(endpoint: str, body: bytes, opts: BulkClientOptions,
              sleep=time.sleep) -> dict:
    """POST the NDJSON body to `<endpoint>/_bulk`, retrying the whole
    request on 429/5xx with doubling backoff (es.go:139-144).  Any other
    HTTP error raises immediately (the reference's client does not retry
    e.g. 400 — a malformed request never self-heals)."""
    delay = opts.base_delay_s
    attempts = max(1, opts.retries)
    for attempt in range(attempts):
        req = urllib.request.Request(
            endpoint.rstrip("/") + "/_bulk",
            data=body,
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=opts.timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as exc:
            status = exc.code
            payload = exc.read().decode("utf-8", "replace")
            if status not in RETRY_STATUSES or attempt == attempts - 1:
                raise BulkTransportError(status, payload) from exc
        except urllib.error.URLError as exc:
            # connection refused/reset: same bounded-backoff policy as the
            # reference's connectEsWithRetry (es.go:118-131)
            if attempt == attempts - 1:
                raise BulkTransportError(0, str(exc)) from exc
        sleep(delay)
        delay *= 2  # es.go:140-144 / pulsar.go:75


def parse_bulk_items(resp: dict) -> Iterator[tuple[str, int, str | None]]:
    """Per-item results of a bulk response: (doc_id, status, error_reason).
    Mirrors the OnSuccess/OnFailure hook pair (es.go:188-198): 2xx status
    means acked; anything else carries the per-item error object."""
    for item in resp.get("items", []):
        # one action type per item; the reference only uses `index`
        action = item.get("index") or item.get("create") or item.get("update") or {}
        status = int(action.get("status", 500))
        err = action.get("error")
        reason = None
        if err is not None:
            if isinstance(err, dict):
                reason = ": ".join(
                    str(err[k]) for k in ("type", "reason") if k in err
                ) or str(err)
            else:
                reason = str(err)
        yield action.get("_id", ""), status, reason


def bulk_index_docs(docs: list[dict], endpoint: str, opts: BulkClientOptions,
                    sleep=time.sleep) -> list[tuple[str, int, str | None]]:
    """Index a list of JSON docs, chunked by count AND bytes (es.go:
    161-168 FlushInterval analog is the micro-batch trigger; Flush
    thresholds are per-request here).  Returns per-item results in
    STRICT INPUT ORDER — results[i] pairs with docs[i].  ES bulk
    preserves action order within a request, and chunks are posted and
    extended sequentially; bulk_index_keyed, the engine's one caller,
    load-bearingly depends on this positional pairing to hand each
    result back with its own key and doc.  A response carrying
    the WRONG item count raises BulkTransportError here — the contract
    owner enforces it once, so no caller can silently mis-pair (an
    unpaired tail would under-count or strand messages in flight)."""
    out: list[tuple[str, int, str | None]] = []
    chunk: list[bytes] = []  # each document's encoded action+source pair
    chunk_bytes = 0

    def post(batch: list[bytes]) -> None:
        resp = bulk_post(endpoint, b"".join(batch), opts, sleep)
        items = list(parse_bulk_items(resp))
        if len(items) != len(batch):
            raise BulkTransportError(
                502,
                f"bulk returned {len(items)} items for "
                f"{len(batch)} actions",
            )
        out.extend(items)

    for doc in docs:
        # encoded once: the body is the join of these very bytes, so
        # the byte bound counts the real action line, ids included
        pair = _ndjson_pair(doc, opts.index, opts.id_field)
        if chunk and (len(chunk) >= opts.batch_entries
                      or chunk_bytes + len(pair) > opts.batch_bytes):
            post(chunk)
            chunk, chunk_bytes = [], 0
        chunk.append(pair)
        chunk_bytes += len(pair)
    if chunk:
        post(chunk)
    return out


def bulk_index_keyed(
    pairs: Iterable[tuple[K, dict]], endpoint: str, opts: BulkClientOptions
) -> Iterator[tuple[K, dict, int, str | None]]:
    """The one bulk-and-reconcile primitive: post ``(key, doc)`` pairs
    in ``opts.batch_entries`` slices through bulk_index_docs (which
    keeps the byte bound and raises on a truncated response) and yield
    ``(key, doc, status, error)`` in input order.  Pairing is by
    POSITION, so two docs sharing an id each come back with their own
    key and payload.  Runs executor-side; memory stays bounded by one
    slice however long the input is."""
    it = iter(pairs)
    while chunk := list(itertools.islice(it, opts.batch_entries)):
        results = bulk_index_docs([doc for _key, doc in chunk], endpoint, opts)
        for (key, doc), (_rid, status, err) in zip(chunk, results):
            yield key, doc, status, err


def bulk_index_rows(df: DataFrame, endpoint: str,
                    opts: BulkClientOptions | None = None) -> DataFrame:
    """Distributed bulk indexing as a transformation.

    Each input partition serializes its rows to JSON docs and posts bulk
    requests from wherever the task runs (executor-side on a cluster) —
    the reference's N bulk workers (es.go:164).  Emits one result row per
    document: (uuid, status, error, doc), where `doc` carries the original
    JSON only for FAILED items so the DLQ branch has the payload without a
    join back (the reference nacks the original message for the same
    reason, main.go:194-197).

    At 100 TB this is the right shape: no collect, no driver fan-in; the
    result frame is tiny per partition (ids + statuses) unless failures
    are pervasive, and failure payloads are exactly what must be
    preserved anyway.
    """
    opts = opts or BulkClientOptions()
    endpoint_v, opts_v = endpoint, opts  # close over plain values only

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            docs = (
                (None, {k: _to_jsonable(v) for k, v in rec.items()})
                for rec in pdf.to_dict("records")
            )
            rows = [
                (
                    doc[opts_v.id_field],
                    status,
                    err,
                    None if 200 <= status < 300
                    else json.dumps(doc, separators=(",", ":")),
                )
                for _key, doc, status, err in bulk_index_keyed(
                    docs, endpoint_v, opts_v
                )
            ]
            yield pd.DataFrame(rows, columns=["uuid", "status", "error", "doc"])

    return df.mapInPandas(
        run, schema="uuid string, status int, error string, doc string"
    )


# --------------------------------------------------------------------------
# Startup DDL: dated index + alias (es.go:78-116)
# --------------------------------------------------------------------------

# Transcription of schema/es/mapping.json `mappings` (the body the
# reference fmt.Sprintf-interpolates at es.go:83): dynamic strict
# (mapping.json:11), keyword exact-match ids (:21-23, :38-40), text +
# .keyword dual-indexed fields (:13-20, :24-31, :47-54), date columns
# (:32-37), and `tags` as a nested object array (:41-56).
INDEX_MAPPING_ES = {
    "_source": {"enabled": True},
    "dynamic": "strict",
    "properties": {
        "type": {
            "type": "text",
            "fields": {"keyword": {"type": "keyword"}},
        },
        "identifier": {"type": "keyword"},
        "name": {
            "type": "text",
            "fields": {"keyword": {"type": "keyword"}},
        },
        "ingestion_time": {"type": "date"},
        "persist_time": {"type": "date"},
        "uuid": {"type": "keyword"},
        "tags": {
            "type": "nested",
            "properties": {
                "type": {"type": "text"},
                "value": {
                    "type": "text",
                    "fields": {"keyword": {"type": "keyword"}},
                },
            },
        },
    },
}


def _http(endpoint: str, path: str, method: str, payload: dict | None,
          timeout_s: float = 10.0) -> tuple[int, dict]:
    req = urllib.request.Request(
        endpoint.rstrip("/") + path,
        data=None if payload is None else json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method=method,
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8") or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode("utf-8", "replace") or "{}")


def ensure_dated_index(endpoint: str, alias: str, date_str: str,
                       mapping: dict, shards: int = 4, replicas: int = 0,
                       refresh_interval: str = "10s") -> str:
    """Create `<alias>_<date>` from the mapping template with interpolated
    shards/replicas/refresh (es.go:79-83, mapping.json:3-5), tolerate
    resource_already_exists_exception (es.go:92-99), and point the alias
    at the new index (es.go:102-116).  Returns the dated index name."""
    index = f"{alias}_{date_str}"
    body = {
        "settings": {
            "number_of_shards": shards,
            "number_of_replicas": replicas,
            "refresh_interval": refresh_interval,
        },
        "mappings": mapping,
    }
    status, resp = _http(endpoint, f"/{index}", "PUT", body)
    if status >= 300:
        err_type = (resp.get("error") or {}).get("type", "")
        if err_type != "resource_already_exists_exception":
            raise BulkTransportError(status, json.dumps(resp))
    # REPOINT, not accumulate: the reference moves the alias to the new
    # dated index (es.go:102-116); on real ES an add-only action leaves
    # the alias on every previous day too, so swap atomically
    status, resp = _http(
        endpoint, "/_aliases", "POST",
        {
            "actions": [
                {
                    "remove": {
                        "index": f"{alias}_*",
                        "alias": alias,
                        "must_exist": False,
                    }
                },
                {"add": {"index": index, "alias": alias}},
            ]
        },
    )
    if status >= 300:
        raise BulkTransportError(status, json.dumps(resp))
    return index


# Per-process memo of indices already ensured — saves one idempotent
# PUT per (worker, day), nothing more; correctness never depends on it
# (bulk writers run in separate Python worker processes, so any
# process-local view of the ALIAS would go stale — the flip decision
# below reads the cluster instead).
_ROLLOVER_LOCK = threading.Lock()
_ENSURED_INDICES: set[tuple[str, str]] = set()


def rollover_dated_index(endpoint: str, alias: str, date_str: str,
                         mapping: dict | None = None) -> str:
    """es.go:78-116 as CONTINUOUS behavior (round-6 VERDICT #5): the
    reference computes the dated index once at startup, so a connector
    crossing midnight keeps writing to yesterday's index; here every
    write day ensures its own `<alias>_<date>` (idempotent create) and
    the alias follows the NEWEST day — late data still lands in its own
    dated index, reachable by name, without yanking the alias backward.

    Monotonicity is decided against the CLUSTER's current alias target
    (GET /_alias/<alias>, comparing the lexically ordered date
    suffixes), never process memory: bulk writers run in separate
    Python worker processes, and a worker that never saw the newer day
    must still not flip the alias back.  The read-compare-flip window
    is benign for this path — both racers flip forward, and the flip
    action itself is idempotent.  Returns the dated index name to bulk
    into."""
    index = f"{alias}_{date_str}"
    with _ROLLOVER_LOCK:
        need_create = (endpoint, index) not in _ENSURED_INDICES
        if need_create:
            _ENSURED_INDICES.add((endpoint, index))
    if need_create:
        body = {
            "settings": {"number_of_shards": 4, "number_of_replicas": 0,
                         "refresh_interval": "10s"},
            "mappings": mapping or INDEX_MAPPING_ES,
        }
        status, resp = _http(endpoint, f"/{index}", "PUT", body)
        if status >= 300:
            err_type = (resp.get("error") or {}).get("type", "")
            if err_type != "resource_already_exists_exception":
                raise BulkTransportError(status, json.dumps(resp))
    status, resp = _http(endpoint, f"/_alias/{alias}", "GET", None)
    # GET /_alias/<name> maps every index carrying the alias; an
    # add-only flip on real ES would ACCUMULATE indices under the
    # alias, so compare against the NEWEST current member and swap
    # with one atomic remove+add actions array (ES applies the array
    # atomically; must_exist=false tolerates the first-ever flip).
    # ONLY a 404 means "alias doesn't exist yet" — any other failure
    # must raise: treating a transient 5xx as no-alias would let a
    # late-data flush REMOVE the alias from the newest index and swap
    # it backward, the exact breakage the monotonic check prevents.
    if status >= 300 and status != 404:
        raise BulkTransportError(status, json.dumps(resp))
    current = max(resp, default="") if status < 300 else ""
    if current == "" or current < index:  # YYYY-MM-DD suffixes sort
        status, resp = _http(
            endpoint, "/_aliases", "POST",
            {
                "actions": [
                    {
                        "remove": {
                            "index": f"{alias}_*",
                            "alias": alias,
                            "must_exist": False,
                        }
                    },
                    {"add": {"index": index, "alias": alias}},
                ]
            },
        )
        if status >= 300:
            raise BulkTransportError(status, json.dumps(resp))
    return index


# --------------------------------------------------------------------------
# foreachBatch body: strict mapping -> bulk -> per-item DLQ (R8 + R9)
# --------------------------------------------------------------------------


def write_batch_via_bulk(
    batch_df: DataFrame,
    epoch_id: int,
    endpoint: str,
    dlq_dir: str,
    opts: BulkClientOptions | None = None,
    metrics=None,
) -> dict:
    """The corrected R9 loop as a foreachBatch body: validate the batch
    against the strict index mapping (before any bytes hit the wire),
    bulk-index, and route EXACTLY the per-item failures to the DLQ sink
    (one overwritten directory per epoch -> replay-idempotent, matching
    streaming/stream.py's DLQ convention).  Transport-level 429/5xx are
    retried inside bulk_post; surviving transport failure raises and
    fails the epoch, which Spark replays whole — the doc-id keyed index
    makes that replay idempotent (es.go:186).

    Returns {"indexed": n, "dlq": n} and updates `metrics` (StreamMetrics)
    when given."""
    import os

    from go_pulsar_elasticsearch_spark.sources.es_sink import enforce_strict_mapping

    opts = opts or BulkClientOptions()
    checked = enforce_strict_mapping(batch_df)
    results = bulk_index_rows(checked, endpoint, opts)
    results.persist()
    try:
        failed = results.filter(~((results.status >= 200) & (results.status < 300)))
        n_failed = failed.count()
        n_total = results.count()
        if n_failed:
            (failed.select("uuid", "status", "error", "doc")
             .write.mode("overwrite").format("parquet")
             .save(os.path.join(dlq_dir, f"epoch={epoch_id}")))
        if metrics is not None:
            metrics.received += n_total
            metrics.indexed += n_total - n_failed
            metrics.dlq += n_failed
            metrics.index_errors += n_failed
            metrics.batches.append(
                {"epoch": epoch_id, "main": n_total - n_failed, "dlq": n_failed})
        return {"indexed": n_total - n_failed, "dlq": n_failed}
    finally:
        results.unpersist()
