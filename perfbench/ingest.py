"""The two ingest workloads, both through the program's sink-native
delivery stream (``sources.pulsar_stream.start_delivery_stream``):
``pulsar_broker_sim`` reader -> ``ingest.avro.decode_avro_payload`` ->
``es_bulk_sim`` writer with epoch-commit ack/nack, against the in-repo
broker (``sources.pulsar_mock_broker``) and ES (``sources.
es_mock_cluster``) stand-ins, which run as threads of this process.

ingest-stream  open loop: a generator thread publishes at a constant
               rate on a fixed schedule; latency runs from each
               message's scheduled send time to its ack at the broker.
ingest-drain   closed, saturating: a backlog is published at once; the
               ES stand-in rejects one uuid in seven on every delivery,
               so those take the nack -> redelivery -> DLQ path.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

import harness
import inputs
from harness import median, pct

TOPIC = "public/default/data.topic"
SUB = "data_subscription"
DLQ = "public/default/data.dlq"
MAX_DELIVERIES = 3          # the certified fixture's MaxDeliveries
RECEIVE_CAP = 10_000        # messages per receive, shared by both workloads
STREAM_RATE = 500           # msg/s offered by ingest-stream
LATENCY_LIMIT_S = 10.0      # a message resolved later than this failed
DRAIN_TIMEOUT_S = 60.0      # a backlog message unresolved by then failed
REJECT_ONE_IN = 7           # ingest-drain: ES rejects 1 uuid in 7
DRAIN_RPS_NOMINAL = 3000    # sizes the backlog: ~--seconds on a slow host
SETUP_REPS = 3              # stream start + warm-up, median reported
WARMUP_MSGS = {"ingest-stream": 500, "ingest-drain": 1000}
PROBE_MSGS = 10_000         # traced: decode / bulk per-message timings


def _broker_cls():
    from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
        MockPulsarBroker,
    )

    class BenchBroker(MockPulsarBroker):
        """Records when each message was resolved (acked, or routed to
        the DLQ): the far end of the end-to-end latency.  With
        ``tracing`` set it also counts the consume side."""

        def __init__(self):
            super().__init__(nack_redelivery_delay_s=10.0,
                             max_deliveries=MAX_DELIVERIES, dlq_topic=DLQ)
            self.resolved_at: dict[int, float] = {}
            self.published = 0
            self.tracing = False
            self.tlock = threading.Lock()
            # held while a backlog is published, so that no receive
            # sees part of it
            self.gate = threading.Lock()
            self.reset_counters()

        def reset_counters(self) -> None:
            with self.tlock:
                self.receive_calls = self.receive_empty = 0
                self.delivered = self.nacked = self.dlq_routed = 0
                self.receive_ms: list[float] = []
                self.backlog_max = 0

        def publish(self, topic, payload, properties=None):
            mid = super().publish(topic, payload, properties)
            self.published += 1
            return mid

        def receive(self, topic, subscription, max_messages=100):
            with self.gate:
                t0 = time.perf_counter()
                got = super().receive(topic, subscription, max_messages)
                dt = (time.perf_counter() - t0) * 1e3
            if not self.tracing:
                return got
            with self.tlock:
                self.receive_calls += 1
                self.receive_empty += not got
                self.delivered += len(got)
                self.receive_ms.append(dt)
                self.backlog_max = max(
                    self.backlog_max, self.published - len(self.resolved_at))
            return got

        def ack(self, topic, subscription, msg_id):
            super().ack(topic, subscription, msg_id)
            self.resolved_at.setdefault(msg_id, time.perf_counter())

        def nack(self, topic, subscription, msg_id):
            to_dlq = (self.delivery_count(topic, subscription, msg_id)
                      >= self.max_deliveries)
            super().nack(topic, subscription, msg_id)
            if to_dlq:
                self.resolved_at.setdefault(msg_id, time.perf_counter())
            if self.tracing:
                with self.tlock:
                    self.nacked += 1
                    self.dlq_routed += to_dlq

    return BenchBroker


class Rig:
    """The broker and ES stand-ins on their HTTP wires, and the delivery
    stream between them."""

    def __init__(self, spark, work: str, fail_ids: set[str]):
        from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import (
            make_server,
        )
        from go_pulsar_elasticsearch_spark.sources.pulsar_mock_broker import (
            make_broker_server,
        )

        self.spark, self.work = spark, work
        self.broker = _broker_cls()()
        self.broker_srv, self.broker_url = make_broker_server(self.broker)
        self.es_srv, self.es, self.es_url = make_server()
        self.es.fail_ids = fail_ids
        self.query = None
        self.state_dir = ""

    def start(self) -> None:
        from go_pulsar_elasticsearch_spark.sources.pulsar_stream import (
            start_delivery_stream,
        )

        d = tempfile.mkdtemp(prefix="stream-", dir=self.work)
        self.state_dir = os.path.join(d, "state")
        self.query = start_delivery_stream(
            self.spark, self.broker_url, TOPIC, SUB, self.es_url,
            os.path.join(d, "ckpt"), os.path.join(d, "spool"),
            batch_size=RECEIVE_CAP, state_dir=self.state_dir,
        )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)
            self.query = None

    def close(self) -> None:
        self.stop()
        for srv in (self.broker_srv, self.es_srv):
            srv.shutdown()
            srv.server_close()

    def publish(self, payloads) -> list[int]:
        return [self.broker.publish(TOPIC, p) for p in payloads]

    def wait_resolved(self, mids, deadline: float) -> bool:
        """Wait until every message in ``mids`` is resolved, or the
        ``perf_counter`` deadline passes."""
        done = self.broker.resolved_at
        pending = list(mids)
        while pending:
            # pop from the end while resolved: the poll costs O(1) per
            # message over the whole wait, and this process also serves
            # both stand-ins
            while pending and pending[-1] in done:
                pending.pop()
            if not pending:
                break
            if time.perf_counter() > deadline:
                return False
            time.sleep(0.005)
        return True

    def batch_id(self) -> int:
        lp = self.query.lastProgress
        return -1 if lp is None else lp["batchId"]


# ------------------------------------------------------------------ checks


def check(rig: Rig, records: list[dict], mids: list[int]) -> int:
    """Failed messages among ``records``: each must be indexed exactly
    once with equal fields, or sit in the DLQ with DELIVERY_COUNT =
    MaxDeliveries and not be indexed.  Unresolved messages fail."""
    dlq = {
        int(m.properties["ORIGIN_MESSAGE_ID"]): m
        for m in rig.broker.topic_messages(DLQ)
    }
    failed = 0
    for rec, mid in zip(records, mids):
        uuid = rec["uuid"]
        if uuid in rig.es.fail_ids:
            m = dlq.get(mid)
            ok = (m is not None and uuid not in rig.es.docs
                  and m.properties.get("DELIVERY_COUNT") == str(MAX_DELIVERIES))
        else:
            ok = (rig.es.docs.get(uuid) == rec and mid not in dlq
                  and rig.broker.delivery_count(TOPIC, SUB, mid) == 1)
        failed += not (ok and mid in rig.broker.resolved_at)
    return failed


# ------------------------------------------------------------------ phases


def _setup(rig: Rig, seed: int, workload: str) -> list[float]:
    """Start the stream and push one warm-up batch through it,
    ``SETUP_REPS`` times, each on a fresh checkpoint; the last stream
    stays up.  Returns the seconds each took."""
    n = WARMUP_MSGS[workload]
    samples = []
    for k in range(SETUP_REPS):
        recs = inputs.ingest_records(seed, n, start=-(k + 1) * n)
        if workload == "ingest-drain":
            rig.es.fail_ids |= inputs.rejected(recs, REJECT_ONE_IN)
        payloads = inputs.encode(recs)
        t0 = time.perf_counter()
        if k:
            rig.stop()
        rig.start()
        mids = rig.publish(payloads)
        if not rig.wait_resolved(mids, t0 + DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up batch was not resolved")
        rig.query.processAllAvailable()  # its epoch is committed too
        samples.append(time.perf_counter() - t0)
    return samples


def _run_stream(rig: Rig, payloads: list[bytes]) -> dict:
    """Publish ``payloads`` at STREAM_RATE on a fixed schedule, then wait
    until each is resolved or its latency limit passed."""
    n = len(payloads)
    mids = [0] * n
    late = [0.0] * n
    t0 = time.perf_counter() + 0.05
    due = [t0 + i / STREAM_RATE for i in range(n)]

    def gen():
        i = 0
        while i < n:
            now = time.perf_counter()
            if due[i] > now:
                time.sleep(min(due[i] - now, 0.005))
                continue
            while i < n and due[i] <= now:
                mids[i] = rig.broker.publish(TOPIC, payloads[i])
                late[i] = time.perf_counter() - due[i]
                i += 1

    th = threading.Thread(target=gen, name="generator")
    th.start()
    th.join()
    backlog_end = rig.broker.published - len(rig.broker.resolved_at)
    rig.wait_resolved(mids, due[-1] + LATENCY_LIMIT_S)
    done = rig.broker.resolved_at
    lat = [(done[m] - d) * 1e3 for m, d in zip(mids, due) if m in done]
    over = sum(x > LATENCY_LIMIT_S * 1e3 for x in lat)
    return {
        "mids": mids, "lat_ms": lat, "late_ms": [x * 1e3 for x in late],
        "backlog_end": backlog_end,
        "unresolved": n - len(lat), "over_limit": over,
        "ops_per_s": len(lat) / (max(done[m] for m in mids if m in done)
                                 - t0) if lat else 0.0,
    }


def _run_drain(rig: Rig, payloads: list[bytes]) -> dict:
    """Publish the whole backlog at once and time from then until the
    last message is resolved.  No receive sees part of the backlog, so
    the micro-batches it is cut into do not depend on how fast the
    publishing loop ran."""
    mids = []
    late = []
    with rig.broker.gate:
        t_pub = time.perf_counter()
        for p in payloads:
            mids.append(rig.broker.publish(TOPIC, p))
            late.append((time.perf_counter() - t_pub) * 1e3)
        t0 = time.perf_counter()
    backlog_end = 0
    if not rig.wait_resolved(mids, t0 + DRAIN_TIMEOUT_S):
        backlog_end = sum(m not in rig.broker.resolved_at for m in mids)
    done = rig.broker.resolved_at
    lat = [(done[m] - t0) * 1e3 for m in mids if m in done]
    t_last = max(done[m] for m in mids if m in done) if lat else t0 + 1
    return {
        "mids": mids, "lat_ms": lat, "late_ms": late,
        "backlog_end": backlog_end, "unresolved": len(mids) - len(lat),
        "over_limit": 0, "ops_per_s": len(lat) / (t_last - t0),
    }


def _data_triggers(q, b0: int) -> list:
    """Progress reports of the micro-batches after ``b0`` that had data."""
    return [p for p in q.recentProgress
            if p["batchId"] > b0 and p["numInputRows"] > 0]


def _layer_window(rig: Rig, b0: int, jobs0: set, es0: int) -> dict:
    """Per-layer figures of one measured window, read from the query's
    own progress reports, the job tracker, the sink's commit manifests
    and the stand-ins."""
    q = rig.query
    prog = _data_triggers(q, b0)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    trig = max(len(prog), 1)
    sc = rig.spark.sparkContext
    st = sc.statusTracker()
    jobs = [j for j in st.getJobIdsForGroup(str(q.runId)) if j not in jobs0]
    stages = [s for j in jobs
              for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])]
    tasks = sum(st.getStageInfo(s).numTasks for s in stages
                if st.getStageInfo(s))
    manifests = []
    cdir = os.path.join(rig.state_dir, "_commits")
    for f in os.listdir(cdir):
        if int(f.split(".")[0]) > b0:
            with open(os.path.join(cdir, f)) as fh:
                manifests.append(json.load(fh))
    bulks = [r["n_items"] for r in rig.es.bulk_requests[es0:]]
    b = rig.broker
    return {
        "sources.pulsar_stream.triggers": len(prog),
        "sources.pulsar_stream.rows_per_trigger_p50":
            median(p["numInputRows"] for p in prog),
        "sources.pulsar_stream.trigger_ms_p50": median(dur("triggerExecution")),
        "sources.pulsar_stream.latest_offset_ms_p50": median(dur("latestOffset")),
        "sources.pulsar_stream.add_batch_ms_p50": median(dur("addBatch")),
        "sources.pulsar_stream.query_planning_ms_p50":
            median(dur("queryPlanning")),
        "sources.pulsar_stream.wal_commit_ms_p50": median(dur("walCommit")),
        "sources.pulsar_stream.commit_offsets_ms_p50":
            median(dur("commitOffsets")),
        "sources.pulsar_stream.tasks_per_trigger": tasks / trig,
        "spark.execute_jobs": len(jobs) / trig,
        "spark.stages": len(stages) / trig,
        "spark.tasks": tasks / trig,
        "sources.pulsar_mock_broker.receive_calls": b.receive_calls,
        "sources.pulsar_mock_broker.receive_empty_share":
            b.receive_empty / max(b.receive_calls, 1),
        "sources.pulsar_mock_broker.receive_ms_p50": median(b.receive_ms),
        "sources.pulsar_mock_broker.delivered": b.delivered,
        "sources.pulsar_mock_broker.nacked": b.nacked,
        "sources.pulsar_mock_broker.dlq_routed": b.dlq_routed,
        "sources.pulsar_mock_broker.backlog_max": b.backlog_max,
        "sources.es_writer_sim.bulk_requests": len(bulks),
        "sources.es_writer_sim.items_per_bulk_p50": median(bulks),
        "sources.es_writer_sim.items_failed":
            sum(m["n_failed"] for m in manifests),
        "sources.es_writer_sim.ack_posts":
            sum(m["n_ok"] > 0 for m in manifests),
    }


def probe_decode_bulk(spark, seed: int) -> dict:
    """Per-message cost of the decode and bulk layers in isolation, on
    PROBE_MSGS generated messages: ``decode_avro_payload`` to the noop
    sink, and ``bulk_index_docs`` on the same documents against a fresh
    ES stand-in."""
    from go_pulsar_elasticsearch_spark.ingest.avro import decode_avro_payload
    from go_pulsar_elasticsearch_spark.sources.es_bulk import (
        BulkClientOptions,
        bulk_index_docs,
    )
    from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import (
        make_server,
    )

    records = inputs.ingest_records(seed, PROBE_MSGS, start=30_000_000)
    payloads = inputs.encode(records)
    raw = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "msg_id long, value binary")
    dec = decode_avro_payload(raw, passthrough=("msg_id",))
    dec.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    dec.write.format("noop").mode("overwrite").save()
    decode_us = (time.perf_counter() - t0) * 1e6 / len(payloads)
    srv, _state, url = make_server()
    try:
        t0 = time.perf_counter()
        bulk_index_docs(records, url, BulkClientOptions(batch_entries=1000))
        bulk_us = (time.perf_counter() - t0) * 1e6 / len(records)
    finally:
        srv.shutdown()
        srv.server_close()
    return {"ingest.avro.decode_us_per_msg": decode_us,
            "sources.es_bulk.bulk_us_per_doc": bulk_us}


def drain_1slot(ctx) -> tuple[float, int, int]:
    """``drain_rps`` of a quarter of the ingest-drain backlog on a
    session with one task slot, the single-threaded baseline, with the
    messages attempted and failed.  The run's own session is replaced
    by that one."""
    ctx.spark.stop()
    ctx.spark, _ = harness.start_spark(cpus=1)
    n = DRAIN_RPS_NOMINAL * ctx.seconds // 4
    recs = inputs.ingest_records(ctx.seed, n, start=10_000_000)
    warm = inputs.ingest_records(ctx.seed, 500, start=20_000_000)
    rig = Rig(ctx.spark, ctx.work,
              inputs.rejected(recs + warm, REJECT_ONE_IN))
    try:
        rig.start()
        if not rig.wait_resolved(rig.publish(inputs.encode(warm)),
                                 time.perf_counter() + DRAIN_TIMEOUT_S):
            raise RuntimeError("one-slot warm-up was not resolved")
        r = _run_drain(rig, inputs.encode(recs))
        return r["ops_per_s"], n, check(rig, recs, r["mids"])
    finally:
        rig.close()


def run(ctx, workload: str) -> dict:
    """Set up, measure for ``ctx.seconds`` (twice when traced: untraced
    then traced), check, and return the run's figures."""
    seed, seconds = ctx.seed, ctx.seconds
    if workload == "ingest-stream":
        n = STREAM_RATE * seconds
    else:
        n = DRAIN_RPS_NOMINAL * seconds
    records = inputs.ingest_records(seed, n)
    payloads = inputs.encode(records)
    fail_ids = (inputs.rejected(records, REJECT_ONE_IN)
                if workload == "ingest-drain" else set())
    # a traced run measures the same window twice: untraced, then traced
    passes = [(records, payloads, False)]
    if ctx.trace:
        recs2 = inputs.ingest_records(seed, n, start=n)
        if workload == "ingest-drain":
            fail_ids |= inputs.rejected(recs2, REJECT_ONE_IN)
        passes.append((recs2, inputs.encode(recs2), True))

    ctx.begin_setup()
    rig = Rig(ctx.spark, ctx.work, set(fail_ids))
    try:
        ctx.setup_samples = _setup(rig, seed, workload)
        ctx.end_setup()
        measure = _run_stream if workload == "ingest-stream" else _run_drain
        results = []
        for recs, pays, traced in passes:
            b0 = rig.batch_id()
            sc = ctx.spark.sparkContext
            jobs0 = set(sc.statusTracker().getJobIdsForGroup(
                str(rig.query.runId)))
            es0 = len(rig.es.bulk_requests)
            rig.broker.reset_counters()
            rig.broker.tracing = traced
            with harness.CpuWindow() as cpu:
                r = measure(rig, pays)
            rig.broker.tracing = False
            # a message resolved later than the latency limit failed too
            r["failed"] = check(rig, recs, r["mids"]) + r["over_limit"]
            r["cpu"] = cpu
            if traced:
                r["layers"] = _layer_window(rig, b0, jobs0, es0)
            r["triggers"] = len(_data_triggers(rig.query, b0))
            results.append(r)
    finally:
        rig.close()

    base = results[0]
    n_ops = len(base["mids"])
    out = {
        "attempted": n_ops,
        "failed": base["failed"],
        "metrics": {
            "latency_p50_ms": median(base["lat_ms"]),
            "latency_p90_ms": pct(base["lat_ms"], 90),
            "ops_per_s": base["ops_per_s"],
        },
        "validity": {
            "messages": len(base["lat_ms"]),
            "triggers": base["triggers"],
            "generator_late_ms_p99": pct(base["late_ms"], 99),
            "backlog_end": base["backlog_end"],
            "unresolved": base["unresolved"],
            "over_latency_limit": base["over_limit"],
        },
    }
    if ctx.trace:
        tr = results[1]
        out["attempted"] += len(tr["mids"])
        out["failed"] += tr["failed"]
        layers = dict(tr["layers"])
        cpu = tr["cpu"]
        ops = max(len(tr["mids"]), 1)
        layers.update({
            "proc.cpu_util": cpu.util,
            "proc.jvm_cpu_s_per_op": cpu.cpu_s["jvm"] / ops,
            "proc.pyworker_cpu_s_per_op": cpu.cpu_s["pyworker"] / ops,
            "proc.bench_cpu_s_per_op": cpu.cpu_s["bench"] / ops,
            "bench.generator_late_ms_p99": pct(tr["late_ms"], 99),
            "bench.tracing_overhead_pct":
                (median(tr["lat_ms"]) / max(median(base["lat_ms"]), 1e-9)
                 - 1.0) * 100.0,
        })
        out["layers"] = layers
    return out
