"""The batch-curation workload: ``llm.curation.curation_pipeline`` on a
seeded corpus, closed loop, one client, one job at a time.

Each job builds the DataFrame (the eager checkpoint slots of
``functions.caching`` run here) and executes it to the noop sink.  Reps
are slot-cold: ``release_all_slots()`` runs before every job, outside
the timed region.  The first and last timed jobs' outputs are compared
with DuckDB running the registered oracle on the same corpus.
"""

from __future__ import annotations

import os
import time
import traceback

import harness
import inputs
from harness import median, pct

CORPUS_DOCS = 5_000      # the sf0.1 documents count
SETUP_REPS = 3           # untimed jobs, median reported as warm-up
MIN_JOBS = 3


def oracle_rows(sf_dir: str) -> list[tuple]:
    import duckdb

    import go_pulsar_elasticsearch_spark.llm.curation  # noqa: F401  registers
    from go_pulsar_elasticsearch_spark.registry import ORACLES

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('"
            + os.path.join(sf_dir, "documents.parquet") + "')")
        return sorted(con.sql(ORACLES["curation_pipeline"]).fetchall())
    finally:
        con.close()


def output_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class _Jobs:
    """Runs curation jobs and keeps what each one cost."""

    def __init__(self, spark, sf_dir: str):
        from go_pulsar_elasticsearch_spark.functions.caching import (
            release_all_slots,
        )
        from go_pulsar_elasticsearch_spark.llm.curation import (
            curation_pipeline,
        )

        self.spark, self.sf_dir = spark, sf_dir
        self._release, self._pipeline = release_all_slots, curation_pipeline
        self.n = 0

    def run(self, traced: bool = False):
        """One slot-cold job; returns (df, total_s, build_s, job ids of
        the build and of the execution)."""
        sc = self.spark.sparkContext
        self._release()
        self.n += 1
        if traced:
            sc.setJobGroup(f"perfbench-build-{self.n}", "curation build")
        t0 = time.perf_counter()
        df = self._pipeline(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"perfbench-exec-{self.n}", "curation execute")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        jobs = ([], [])
        if traced:
            st = sc.statusTracker()
            jobs = (st.getJobIdsForGroup(f"perfbench-build-{self.n}"),
                    st.getJobIdsForGroup(f"perfbench-exec-{self.n}"))
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, t2 - t0, t1 - t0, jobs


def _measure(jobs: _Jobs, seconds: int, expected, traced: bool) -> dict:
    """Run jobs for ``seconds`` (at least MIN_JOBS); check the first and
    the last job's output."""
    times, builds, execs, job_ids = [], [], [], []
    attempted = failed = 0
    last = None
    t_end = time.perf_counter() + seconds
    with harness.CpuWindow() as cpu:
        while attempted < MIN_JOBS or time.perf_counter() < t_end:
            attempted += 1
            try:
                df, total, build, ids = jobs.run(traced)
            except Exception:  # a job that raises is a failed op
                traceback.print_exc()
                failed += 1
                continue
            times.append(total)
            builds.append(build)
            execs.append(total - build)
            job_ids.append(ids)
            if len(times) == 1:
                failed += output_rows(df) != expected
            last = df
    if len(times) > 1:
        failed += output_rows(last) != expected
    return {"times": times, "attempted": attempted, "failed": failed,
            "builds": builds, "execs": execs, "job_ids": job_ids,
            "cpu": cpu}


def _job_layers(spark, r: dict) -> dict:
    st = spark.sparkContext.statusTracker()
    n = max(len(r["job_ids"]), 1)
    build_jobs = sum(len(b) for b, _e in r["job_ids"])
    all_jobs = [j for b, e in r["job_ids"] for j in (*b, *e)]
    stages = [s for j in all_jobs
              for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])]
    tasks = sum(st.getStageInfo(s).numTasks for s in stages
                if st.getStageInfo(s))
    cpu = r["cpu"]
    return {
        "llm.curation.build_ms": median(r["builds"]) * 1e3,
        "llm.curation.execute_ms": median(r["execs"]) * 1e3,
        "functions.caching.build_jobs": build_jobs / n,
        "spark.execute_jobs": (len(all_jobs) - build_jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": tasks / n,
        "proc.cpu_util": cpu.util,
        "proc.jvm_cpu_s_per_op": cpu.cpu_s["jvm"] / n,
        "proc.pyworker_cpu_s_per_op": cpu.cpu_s["pyworker"] / n,
        "proc.bench_cpu_s_per_op": cpu.cpu_s["bench"] / n,
    }


def run(ctx, workload: str) -> dict:
    sf_dir = os.path.join(ctx.work, "corpus")
    inputs.write_corpus(inputs.corpus(ctx.seed, CORPUS_DOCS), sf_dir)
    expected = oracle_rows(sf_dir)

    ctx.begin_setup()
    jobs = _Jobs(ctx.spark, sf_dir)
    samples = []
    for _ in range(SETUP_REPS):
        _df, total, _b, _ids = jobs.run()
        samples.append(total)
    ctx.setup_samples = samples
    ctx.end_setup()

    base = _measure(jobs, ctx.seconds, expected, traced=False)
    if not base["times"]:
        raise RuntimeError("every curation job raised")
    out = {
        "attempted": base["attempted"],
        "failed": base["failed"],
        "metrics": {
            "latency_p50_ms": median(base["times"]) * 1e3,
            "latency_p90_ms": pct(base["times"], 90) * 1e3,
            "ops_per_s": len(base["times"]) / sum(base["times"]),
        },
        "validity": {
            "jobs": len(base["times"]),
            "corpus_docs": CORPUS_DOCS,
            "output_rows": len(expected),
        },
    }
    if ctx.trace:
        tr = _measure(jobs, ctx.seconds, expected, traced=True)
        out["attempted"] += tr["attempted"]
        out["failed"] += tr["failed"]
        layers = _job_layers(ctx.spark, tr)
        layers["bench.tracing_overhead_pct"] = (
            median(tr["times"]) / median(base["times"]) - 1.0) * 100.0
        out["layers"] = layers
    return out
