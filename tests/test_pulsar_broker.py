"""Pulsar delivery-loop semantics (sources/pulsar_mock_broker.py +
the delivery stream, sources/pulsar_stream.run_delivery_stream): nack ->
redelivery after NackRedeliveryDelay -> DLQ topic after MaxDeliveries
(pulsar.go:96-100), driven end-to-end into the `_bulk` sink with
injected per-item failures."""

from __future__ import annotations

import glob
import json
import os

import pytest

from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
    MockPulsarBroker,
)

TOPIC = "public/default/data.topic"
SUB = "data_subscription"


# ---------------------------------------------------------------- broker unit


def test_receive_ack_retires_and_counts_deliveries():
    b = MockPulsarBroker(max_deliveries=3)
    mid = b.publish(TOPIC, b"m1")
    (got,) = b.receive(TOPIC, SUB)
    assert got.msg_id == mid and got.payload == b"m1"
    assert b.delivery_count(TOPIC, SUB, mid) == 1
    assert b.receive(TOPIC, SUB) == []  # in flight: not redelivered
    b.ack(TOPIC, SUB, mid)
    assert b.receive(TOPIC, SUB) == []  # done
    assert b.pending(TOPIC, SUB) == 0


def test_nack_redelivers_only_after_the_delay():
    b = MockPulsarBroker(nack_redelivery_delay_s=10, max_deliveries=5)
    mid = b.publish(TOPIC, b"m1")
    (got,) = b.receive(TOPIC, SUB)
    b.nack(TOPIC, SUB, got.msg_id)
    assert b.receive(TOPIC, SUB) == []          # delay not elapsed
    b.advance(9.9)
    assert b.receive(TOPIC, SUB) == []
    b.advance(0.2)
    (again,) = b.receive(TOPIC, SUB)            # redelivered
    assert again.msg_id == mid
    assert b.delivery_count(TOPIC, SUB, mid) == 2


def test_dlq_after_max_deliveries_exactly_once():
    b = MockPulsarBroker(nack_redelivery_delay_s=1, max_deliveries=3)
    mid = b.publish(TOPIC, b"poison", properties={"k": "v"})
    b.publish(TOPIC, b"fine")
    for i in range(3):                          # deliver + nack x3
        msgs = b.receive(TOPIC, SUB, max_messages=10)
        for m in msgs:
            if m.payload == b"poison":
                b.nack(TOPIC, SUB, m.msg_id)
            else:
                b.ack(TOPIC, SUB, m.msg_id)
        b.advance(1)
    dlq = b.topic_messages(b.dlq_topic)
    assert len(dlq) == 1
    assert dlq[0].payload == b"poison"
    assert dlq[0].properties["REAL_TOPIC"] == TOPIC
    assert dlq[0].properties["ORIGIN_MESSAGE_ID"] == str(mid)
    assert dlq[0].properties["DELIVERY_COUNT"] == "3"
    assert dlq[0].properties["k"] == "v"        # originals preserved
    assert b.pending(TOPIC, SUB) == 0           # retired from the sub
    # a straggler nack after routing must NOT duplicate the DLQ entry
    b.nack(TOPIC, SUB, mid)
    assert len(b.topic_messages(b.dlq_topic)) == 1
    assert b.receive(TOPIC, SUB) == []


def test_redeliver_unacked_models_consumer_crash():
    b = MockPulsarBroker(max_deliveries=5)
    b.publish(TOPIC, b"a")
    b.publish(TOPIC, b"b")
    got = b.receive(TOPIC, SUB, max_messages=2)
    assert len(got) == 2
    assert b.redeliver_unacked(TOPIC, SUB) == 2  # crash before ack
    again = b.receive(TOPIC, SUB, max_messages=2)
    assert {m.payload for m in again} == {b"a", b"b"}
    assert all(
        b.delivery_count(TOPIC, SUB, m.msg_id) == 2 for m in again
    )


def test_shared_subscriptions_are_independent():
    b = MockPulsarBroker(max_deliveries=3)
    b.publish(TOPIC, b"x")
    (m1,) = b.receive(TOPIC, "sub_a")
    b.ack(TOPIC, "sub_a", m1.msg_id)
    (m2,) = b.receive(TOPIC, "sub_b")  # sub_b has its own cursor
    assert m2.payload == b"x"


# ------------------------------------------------------------- loop e2e


@pytest.fixture()
def mock_es():
    from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import (
        make_server,
    )

    srv, state, url = make_server()
    yield state, url
    srv.shutdown()


def _publish_ingestion(broker, n=40):
    from go_pulsar_elasticsearch_spark.ingest import avro_codec
    from go_pulsar_elasticsearch_spark.ingest.avro import (
        INGESTION_AVRO_SCHEMA,
    )

    schema = avro_codec.parse_schema(INGESTION_AVRO_SCHEMA)
    for i in range(n):
        rec = {
            "identifier": f"id-{i}", "name": f"n-{i}", "uuid": f"u{i}",
            "type": "t", "ingestion_time": 1000 + i,
            "tags": None,
        }
        broker.publish(TOPIC, avro_codec.encode(schema, rec))


def _drain(spark, broker, url, tmp_path, batch_size):
    """Drain through the delivery stream; returns its metrics and the
    summed ``_commits/<batchId>.json`` manifests."""
    from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
        run_delivery_stream,
    )

    state = str(tmp_path / "state")
    m = run_delivery_stream(
        spark, broker, TOPIC, SUB, url, batch_size=batch_size,
        checkpoint_dir=str(tmp_path / "ckpt"),
        spool_dir=str(tmp_path / "spool"),
        state_dir=state,
    )
    manifests = [
        json.load(open(f))
        for f in glob.glob(os.path.join(state, "_commits", "*.json"))
    ]
    m["received"] = sum(p["numInputRows"] for p in m["query"].recentProgress)
    m["acked"] = sum(c["n_ok"] for c in manifests)
    m["nacked"] = sum(c["n_failed"] for c in manifests)
    return m


def test_loop_acks_indexes_and_dlqs_end_to_end(spark, mock_es, tmp_path):
    """Injected per-item bulk failures come back around exactly
    MaxDeliveries times, then land in the DLQ topic exactly once;
    everything else indexes on delivery 1."""
    state, url = mock_es
    state.fail_ids = {"u3", "u17"}
    broker = MockPulsarBroker(nack_redelivery_delay_s=5, max_deliveries=3)
    _publish_ingestion(broker, n=40)
    # one poison payload: undecodable Avro must ride the same escalator
    poison_id = broker.publish(TOPIC, b"\xff\xff\xff not avro")

    m = _drain(spark, broker, url, tmp_path, batch_size=16)
    assert m["dlq_routed"] == 3                       # u3, u17, poison
    assert sorted(state.docs) == sorted(
        f"u{i}" for i in range(40) if i not in (3, 17)
    )
    dlq = broker.topic_messages(broker.dlq_topic)
    assert all(p.properties["DELIVERY_COUNT"] == "3" for p in dlq)
    assert {p.payload for p in dlq} >= {b"\xff\xff\xff not avro"}
    # failed messages were received exactly MaxDeliveries times
    assert broker.delivery_count(TOPIC, SUB, poison_id) == 3
    # received = 41 first pass + 3 failures x 2 redeliveries
    assert m["received"] == 41 + 6
    assert m["acked"] == 38 and m["nacked"] == 9
    assert broker.pending(TOPIC, SUB) == 0


def test_loop_replay_after_crash_is_idempotent(spark, mock_es, tmp_path):
    """Consumer crash mid-loop (in-flight messages redelivered with
    their counts intact): the doc-id keyed index makes the replay
    converge to the same final state (es.go:186)."""
    state, url = mock_es
    broker = MockPulsarBroker(nack_redelivery_delay_s=5, max_deliveries=3)
    _publish_ingestion(broker, n=20)
    # simulate a crashed consumer: messages delivered but never acked
    got = broker.receive(TOPIC, SUB, max_messages=7)
    assert len(got) == 7
    assert broker.redeliver_unacked(TOPIC, SUB) == 7

    m = _drain(spark, broker, url, tmp_path, batch_size=8)
    assert sorted(state.docs) == sorted(f"u{i}" for i in range(20))
    assert m["dlq_routed"] == 0
    assert broker.pending(TOPIC, SUB) == 0
    # the 7 crashed deliveries count toward delivery totals but could
    # not double-index: one doc per uuid
    assert len(state.docs) == 20


def test_loop_recovers_after_transient_rejects(spark, mock_es, tmp_path):
    """A whole-request 429 retries inside bulk_post (es.go:139-144)
    without consuming a delivery attempt — the loop still drains with
    zero DLQ routing."""
    state, url = mock_es
    state.reject_queue = [429, 503]
    broker = MockPulsarBroker(nack_redelivery_delay_s=5, max_deliveries=3)
    _publish_ingestion(broker, n=12)
    m = _drain(spark, broker, url, tmp_path, batch_size=12)
    assert m["dlq_routed"] == 0
    assert len(state.docs) == 12
