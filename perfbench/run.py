"""Benchmark of the Pulsar -> ES ingest path and of LLM corpus curation.

    python3 perfbench/run.py --workload ingest-stream --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout.  Workloads: ``ingest-stream``,
``ingest-drain``, ``batch-curation`` (see perfbench/README.md for why
each exists, its parameters and the metric -> layer table).

With ``--trace 0`` the last line of standard output is the end-to-end
result; with ``--trace 1`` the run measures its window twice, untraced
and then traced, and the last line carries the per-layer metrics.  The
line before it holds the run-validity fields.  Exits non-zero, without
a result line, when the program or an input cannot be set up.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("ingest-stream", "ingest-drain", "batch-curation")


class Context:
    """What a workload needs from the run: its arguments, the Spark
    session, and the set-up clock."""

    def __init__(self, args, work: str, import_s: float):
        self.seed, self.seconds = args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.import_s = import_s
        self.spark = None
        self.start_s = 0.0
        self.setup_samples: list[float] = []
        self.canary_before_ms = 0.0
        self.ticks_before = (0, 0)

    def begin_setup(self) -> None:
        self.spark, self.start_s = harness.start_spark()

    def end_setup(self) -> None:
        self.canary_before_ms = harness.canary_ms()
        self.ticks_before = harness.host_ticks()

    @property
    def warmup_s(self) -> float:
        return harness.median(self.setup_samples)


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()

    work = harness.isolate()
    ctx = None
    try:
        # the program's modules the workload drives; a checkout without
        # the program fails here, before any result is printed
        import pyspark.sql  # noqa: F401

        if args.workload == "batch-curation":
            import curation as workload

            import go_pulsar_elasticsearch_spark.llm.curation  # noqa: F401
        else:
            import ingest as workload

            import go_pulsar_elasticsearch_spark.sources.pulsar_stream  # noqa: F401
            import go_pulsar_elasticsearch_spark.sources.es_writer_sim  # noqa: F401
        ctx = Context(args, work, time.perf_counter() - T_START)

        res = workload.run(ctx, args.workload)
        steal, total = (a - b for a, b in zip(harness.host_ticks(),
                                              ctx.ticks_before))
        rss = harness.peak_rss_mb()
        if ctx.trace:
            import ingest

            res["layers"].update(ingest.probe_decode_bulk(ctx.spark, ctx.seed))
            if args.workload == "ingest-drain":
                rps, n, failed = ingest.drain_1slot(ctx)
                res["layers"]["sources.pulsar_stream.drain_rps_1slot"] = rps
                res["attempted"] += n
                res["failed"] += failed
        canary_after = harness.canary_ms()
    finally:
        if ctx is not None and ctx.spark is not None:
            harness.stop_spark(ctx.spark)
        harness.cleanup(work)

    setup_s = ctx.import_s + ctx.start_s + ctx.warmup_s
    validity = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        **res["validity"],
        "canary_before_ms": ctx.canary_before_ms,
        "canary_after_ms": canary_after,
        "host_steal_share": steal / max(total, 1),
        "setup_samples_s": ctx.setup_samples,
    }
    if args.trace:
        values = {
            "session.import_s": ctx.import_s,
            "session.start_s": ctx.start_s,
            "session.warmup_s": ctx.warmup_s,
            "proc.jvm_peak_rss_mb": rss["jvm"],
            "proc.pyworker_peak_rss_mb": rss["pyworker"],
            "bench.host_canary_ms": (ctx.canary_before_ms + canary_after) / 2,
            **res["layers"],
        }
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, **res["metrics"]}
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric of a layer this workload does not reach
        # reads 0: that layer did no work in the run
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    print(json.dumps({"validity": validity}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
