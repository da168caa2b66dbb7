"""The delivery loop as a LIVE StreamingQuery (round-5 VERDICT #1):
readStream.format("pulsar_broker_sim") -> foreachBatch(one job that
decodes and posts `_bulk` in one Arrow pass, manifest, ack/nack) under
a checkpoint.  Certifies (a) the drain matches the closed-form
dispositions, (b) a mid-drain kill + restart from the same checkpoint
converges to the same table — the reference's channel wiring
(main.go:250-282) run by the engine's own offset log — (c) each data
trigger is one Spark job with a matching commit manifest, and its plan
is a single MapInArrow pass, (d) poison payloads escalate to the DLQ
without ever being posted, and (e) a drain removes the scratch
directories it made."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest

from go_pulsar_elasticsearch_spark.ingest.avro import (
    INGESTION_AVRO_SCHEMA,
    avro_codec,
)
from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import make_server
from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
    MockPulsarBroker,
    make_broker_server,
)
from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
    run_delivery_stream,
    start_delivery_stream,
)

_TOPIC = "public/default/data.topic"
_SUB = "data_subscription"
_DLQ = "public/default/data.dlq"
_MAX_DELIVERIES = 3
_N = 200


def _payload(i: int) -> bytes:
    schema = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)
    return avro_codec.encode(
        schema,
        {
            "identifier": str(i),
            "name": f"n{i}",
            "uuid": str(i),
            "type": "DATASET",
            "ingestion_time": i,
            "tags": None,
        },
    )


@pytest.fixture()
def fixture(tmp_path):
    """Broker seeded with _N real Avro messages; the mock cluster
    persistently rejects every uuid % 7 == 0."""
    broker = MockPulsarBroker(
        nack_redelivery_delay_s=10.0,
        max_deliveries=_MAX_DELIVERIES,
        dlq_topic=_DLQ,
    )
    for i in range(_N):
        broker.publish(_TOPIC, _payload(i))
    srv, es_state, url = make_server()
    es_state.fail_ids = {str(i) for i in range(_N) if i % 7 == 0}
    yield broker, es_state, url, tmp_path
    srv.shutdown()


def _assert_dispositions(broker, es_state):
    fail = {str(i) for i in range(_N) if i % 7 == 0}
    # every rejected uuid exited via the DLQ with exactly MaxDeliveries
    dlq = broker.topic_messages(_DLQ)
    assert {m.properties["REAL_TOPIC"] for m in dlq} == {_TOPIC}
    assert sorted(
        int(m.properties["DELIVERY_COUNT"]) for m in dlq
    ) == [_MAX_DELIVERIES] * len(fail)
    # everything else landed in the index, nothing rejected leaked in
    assert set(es_state.docs) == {str(i) for i in range(_N)} - fail
    assert broker.pending(_TOPIC, _SUB) == 0


def test_streaming_drain_matches_closed_form(spark, fixture):
    broker, es_state, url, tmp = fixture
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=str(tmp / "spool"),
    )
    assert metrics["pending"] == 0
    assert metrics["dlq_routed"] == len(es_state.fail_ids)
    _assert_dispositions(broker, es_state)


def test_mid_drain_restart_from_checkpoint_converges(spark, fixture):
    """Kill the query after the first micro-batches have reconciled,
    restart from the SAME checkpoint + spool, and the final disposition
    table must equal the straight-through run's — replayed batches
    re-ack idempotently (doc-id keyed sink, es.go:186) and in-flight
    messages are re-served from the spool, never double-received."""
    broker, es_state, url, tmp = fixture
    ckpt, spool = str(tmp / "ckpt"), str(tmp / "spool")
    srv, broker_url = make_broker_server(broker)
    try:
        q = start_delivery_stream(
            spark, broker_url, _TOPIC, _SUB, url, ckpt, spool,
            batch_size=60,
        )
        # let at least one micro-batch land, then kill mid-drain
        deadline = time.monotonic() + 60
        while len(es_state.docs) == 0 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert es_state.docs, "no batch landed before the kill"
        q.stop()
        q.awaitTermination(30)
    finally:
        srv.shutdown()
    assert broker.pending(_TOPIC, _SUB) > 0, "drained before the kill"

    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=ckpt,
        spool_dir=spool,
    )
    assert metrics["pending"] == 0
    assert metrics["dlq_routed"] == len(es_state.fail_ids)
    _assert_dispositions(broker, es_state)


def test_stranded_in_flight_messages_are_redelivered(spark, fixture):
    """The one kill window the spool can't cover: messages received
    (delivery count bumped) but killed BEFORE their batch was spooled.
    The restart must free exactly those — and only those — so the
    drain completes and DLQ delivery counts stay exact."""
    broker, es_state, url, tmp = fixture
    ckpt, spool = str(tmp / "ckpt"), str(tmp / "spool")
    # simulate the crash: a receive that never reached the spool
    stranded = broker.receive(_TOPIC, _SUB, 50)
    assert len(stranded) == 50
    assert broker.waiting(_TOPIC, _SUB) == _N - 50
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=ckpt,
        spool_dir=spool,
    )
    assert metrics["pending"] == 0
    _assert_dispositions(broker, es_state)


def test_targeted_redeliver_frees_only_named_ids():
    from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
        MockPulsarBroker,
    )

    b = MockPulsarBroker()
    for i in range(4):
        b.publish("t", bytes([i]))
    msgs = b.receive("t", "s", 4)
    ids = [m.msg_id for m in msgs]
    assert b.redeliver("t", "s", ids[:2]) == 2
    assert sorted(m.msg_id for m in b.receive("t", "s", 10)) == ids[:2]
    # the other two stay in flight (their batch will be replayed)
    assert sorted(b.in_flight_ids("t", "s")) == sorted(ids)


def test_spool_is_truncated_as_batches_commit(spark, fixture):
    """The spool is bounded: committed batches (never replayable) are
    garbage-collected, only a small replay window survives the drain."""
    import glob

    broker, es_state, url, tmp = fixture
    spool = str(tmp / "spool")
    run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=20,  # many batches -> truncation must have fired
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=spool,
    )
    left = glob.glob(os.path.join(spool, "batch-*.json"))
    # 200 msgs / 20 per batch + redelivery waves >> the kept window
    assert 0 < len(left) <= 4, sorted(os.path.basename(p) for p in left)
    _assert_dispositions(broker, es_state)


def test_one_job_and_one_manifest_per_data_trigger(spark, fixture):
    """Each epoch is ONE Spark job (posts run in its tasks; manifest and
    acks follow on the driver), and every data trigger leaves a
    ``_commits/<batchId>.json`` manifest accounting for all its rows."""
    broker, es_state, url, tmp = fixture
    state = str(tmp / "state")
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=str(tmp / "spool"),
        state_dir=state,
    )
    q = metrics["query"]
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # 200 messages in batches of 60 plus the redelivery waves
    assert len(data) >= 4, [p["numInputRows"] for p in data]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(q.runId)
    )
    assert len(jobs) == len(data), (len(jobs), len(data))
    for p in data:
        with open(
            os.path.join(state, "_commits", f"{p['batchId']}.json")
        ) as fh:
            m = json.load(fh)
        assert m["batch_id"] == p["batchId"]
        assert m["n_ok"] + m["n_failed"] == p["numInputRows"], (m, p)
    _assert_dispositions(broker, es_state)


def test_live_stream_poison_is_nacked_to_dlq_unposted(spark, tmp_path):
    """Undecodable payloads among valid ones — truncated, trailing junk
    after a valid record, empty: each is nacked without a `_bulk` post,
    redelivered until MaxDeliveries, then routed to the DLQ; none is
    indexed, and every valid message lands once."""
    broker = MockPulsarBroker(
        nack_redelivery_delay_s=10.0,
        max_deliveries=_MAX_DELIVERIES,
        dlq_topic=_DLQ,
    )
    poison: set[int] = set()
    valid: set[str] = set()
    for i in range(40):
        if i % 10 == 3:
            # truncated inside the second field: undecodable Avro
            poison.add(broker.publish(_TOPIC, _payload(i)[:3]))
        elif i % 10 == 5:
            # a valid record followed by trailing junk: not one datum
            poison.add(broker.publish(_TOPIC, _payload(i) + b"\x02junk"))
        elif i % 10 == 7:
            poison.add(broker.publish(_TOPIC, b""))  # empty payload
        else:
            broker.publish(_TOPIC, _payload(i))
            valid.add(str(i))
    srv, es_state, url = make_server()
    try:
        metrics = run_delivery_stream(
            spark,
            broker,
            _TOPIC,
            _SUB,
            url,
            batch_size=15,
            checkpoint_dir=str(tmp_path / "ckpt"),
            spool_dir=str(tmp_path / "spool"),
        )
    finally:
        srv.shutdown()
    assert metrics["pending"] == 0
    dlq = broker.topic_messages(_DLQ)
    assert {int(m.properties["ORIGIN_MESSAGE_ID"]) for m in dlq} == poison
    assert [m.properties["DELIVERY_COUNT"] for m in dlq] == [
        str(_MAX_DELIVERIES)
    ] * len(poison)
    assert set(es_state.docs) == valid
    # only the valid messages were ever posted, each exactly once
    assert sum(r["n_items"] for r in es_state.bulk_requests) == len(valid)


def _plan_nodes(plan: str) -> list[str]:
    """Operator names of a physical plan's tree, root first."""
    tree = plan.split("== Physical Plan ==", 1)[1].strip().split("\n\n")[0]
    return [
        line.lstrip(" :+-*").split(" ")[0] for line in tree.splitlines()
    ]


def test_data_trigger_runs_one_arrow_python_pass(spark, fixture):
    """Each data trigger's one job belongs to an SQL execution whose
    plan is a single ``MapInArrow`` over the micro-batch scan: decode
    and post share one Python worker per task, with no ``MapInPandas``
    decode and no pickled-Row ``PythonRDD`` after the plan (an RDD
    mapped past the plan would leave the job owned by an execution
    whose root is not the Arrow pass).  Read from the SQL status
    store, which records every execution's plan and jobs."""
    broker, es_state, url, tmp = fixture
    metrics = run_delivery_stream(
        spark,
        broker,
        _TOPIC,
        _SUB,
        url,
        batch_size=60,
        checkpoint_dir=str(tmp / "ckpt"),
        spool_dir=str(tmp / "spool"),
    )
    q = metrics["query"]
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    jobs = set(
        spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    )
    assert len(jobs) == len(data), (len(jobs), len(data))
    owners: dict[int, list[str]] = {}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):  # newest first
        e = execs.apply(i)
        keys = e.jobs().keySet().toList()
        for k in range(keys.size()):
            if keys.apply(k) in jobs:
                owners[keys.apply(k)] = _plan_nodes(
                    e.physicalPlanDescription()
                )
        if len(owners) == len(jobs):
            break
    assert set(owners) == jobs
    for job, nodes in owners.items():
        python = [
            n for n in nodes
            if "Python" in n or "Pandas" in n or "Arrow" in n
        ]
        assert nodes[0] == "MapInArrow" and python == ["MapInArrow"], (
            job, nodes,
        )
    _assert_dispositions(broker, es_state)


def test_drain_removes_the_directories_it_made(
    spark, monkeypatch, tmp_path
):
    """Checkpoint, spool and manifest directories that the caller does
    not pass are scratch: the drain removes them after the stop, and
    the stopped query stays readable."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    broker = MockPulsarBroker(dlq_topic=_DLQ)
    for i in range(10):
        broker.publish(_TOPIC, _payload(i))
    srv, es_state, url = make_server()
    try:
        metrics = run_delivery_stream(spark, broker, _TOPIC, _SUB, url)
    finally:
        srv.shutdown()
    assert metrics["pending"] == 0 and len(es_state.docs) == 10
    assert sum(p["numInputRows"] for p in metrics["query"].recentProgress) == 10
    assert [n for n in os.listdir(tmp_path) if n.startswith("gpe-")] == []
