"""The crawl->corpus flagship: batch composition invariants, the
streaming twin's hash-for-hash convergence to the batch manifest, and
replay idempotence of the incremental URL keep-best store."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_composition_invariants(spark, sf_dir):
    from go_pulsar_elasticsearch_spark.ingest.crawl_pipeline import (
        crawl_corpus_pipeline,
        kept_by_canonical_url,
        warc_corpus,
    )

    corpus = warc_corpus(spark, sf_dir)
    n_raw = corpus.count()
    kept = kept_by_canonical_url(corpus)
    n_kept = kept.count()
    # the 3-way URL mangles collapse ~3:1 — the stage must be real
    assert 0 < n_kept < n_raw
    man = crawl_corpus_pipeline(spark, sf_dir).collect()
    assert len(man) > 0
    # bins partition the survivors: doc ranges are disjoint and ordered
    spans = sorted((r["first_doc"], r["last_doc"]) for r in man)
    for (a1, b1), (a2, _b2) in zip(spans, spans[1:]):
        assert a1 <= b1 < a2
    # token accounting: every bin but the last is filled past its cut
    total_docs = sum(r["n_docs"] for r in man)
    assert total_docs <= n_kept


def test_streaming_twin_converges_to_batch(spark, sf_dir, tmp_path):
    from go_pulsar_elasticsearch_spark.ingest.crawl_pipeline import (
        crawl_corpus_pipeline,
        warc_corpus,
    )
    from go_pulsar_elasticsearch_spark.streaming.url_dedup import (
        finalize_crawl_corpus,
        run_crawl_corpus_stream,
    )

    corpus = warc_corpus(spark, sf_dir)
    src = str(tmp_path / "src")
    # three uneven micro-batches by id range (one parquet file each)
    for lo, hi in ((0, 40), (40, 41), (41, 10**9)):
        corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, raw_url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_crawl_corpus_stream(
        stream,
        spool_path=str(tmp_path / "spool"),
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    twin = finalize_crawl_corpus(
        spark, str(tmp_path / "spool"), str(tmp_path / "store")
    )
    batch = crawl_corpus_pipeline(spark, sf_dir)
    assert _rows(twin) == _rows(batch)


def test_streaming_url_dedup_converges(spark, sf_dir, tmp_path):
    from go_pulsar_elasticsearch_spark.ingest.urlnorm import _mangled
    from go_pulsar_elasticsearch_spark.catalog import t
    from go_pulsar_elasticsearch_spark.registry import QUERIES
    from go_pulsar_elasticsearch_spark.streaming.url_dedup import (
        read_url_store,
        run_incremental_url_dedup,
    )

    m = _mangled(t(spark, sf_dir, "documents"))
    src = str(tmp_path / "src")
    for part in (0, 1, 2):
        m.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, n_chars long, raw_url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_incremental_url_dedup(
        stream, str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = read_url_store(spark, str(tmp_path / "store"))
    want = QUERIES["url_canonical_dedup"](spark, sf_dir)
    assert _rows(got.select(*sorted(got.columns))) == _rows(
        want.select(*sorted(want.columns))
    )


def test_url_store_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-applying an epoch (checkpoint replay of a failed commit) must
    not change the merged view; a drained-stream restart adds nothing."""
    from go_pulsar_elasticsearch_spark.streaming.url_dedup import (
        read_url_store,
        url_dedup_batch,
    )

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(10, 100, "https://a.example/x?utm_source=f"),
         (11, 90, "HTTPS://WWW.A.Example/x")],
        "doc_id long, n_chars long, raw_url string",
    )
    url_dedup_batch(spark, b0, store, epoch_id=0)
    before = _rows(read_url_store(spark, store))
    url_dedup_batch(spark, b0, store, epoch_id=0)  # replay
    assert _rows(read_url_store(spark, store)) == before
    # both variants canonicalize to one URL, min id kept
    assert len(before) == 1
    (row,) = before
    assert row[1] == 10 and row[2] == 2 and row[3] == 100


def test_keep_best_flips_across_epochs(spark, tmp_path):
    """A later epoch carrying a LOWER doc_id for a seen canonical URL
    must win in the merged view (the retraction case emitted streams
    can't express — the store-of-partials absorbs it)."""
    from go_pulsar_elasticsearch_spark.streaming.url_dedup import (
        read_url_store,
        url_dedup_batch,
    )

    store = str(tmp_path / "store")
    url_dedup_batch(
        spark,
        spark.createDataFrame(
            [(50, 10, "https://b.example/p")],
            "doc_id long, n_chars long, raw_url string",
        ),
        store,
        epoch_id=0,
    )
    url_dedup_batch(
        spark,
        spark.createDataFrame(
            [(7, 5, "https://www.b.example/p/")],
            "doc_id long, n_chars long, raw_url string",
        ),
        store,
        epoch_id=1,
    )
    (row,) = read_url_store(spark, store).collect()
    assert row["kept_doc_id"] == 7
    assert row["n_variants"] == 2
    assert row["best_n_chars"] == 10


def _mark_job_ids(spark, group: str) -> list[int]:
    """Run one job in ``group`` and return its job ids once the status
    store has seen them (the listener bus is asynchronous and in order, so
    every earlier job is recorded by then)."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).count()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, group
        time.sleep(0.05)
    return ids


def test_crawl_epoch_writes_run_in_the_stream_job_group(spark, tmp_path):
    """The epoch's store writes run from a thread pool; each must still
    carry the stream's job group (its runId), or query.stop() cannot
    cancel them."""
    from go_pulsar_elasticsearch_spark.streaming.url_dedup import (
        run_crawl_corpus_stream,
    )

    src = str(tmp_path / "src")
    for lo in (0, 10):
        spark.createDataFrame(
            [(i, f"https://h{i % 3}.example/p", "t" * i)
             for i in range(lo, lo + 10)],
            "doc_id long, raw_url string, text string",
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, raw_url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    first = max(_mark_job_ids(spark, "crawl-group-before"))
    q = run_crawl_corpus_stream(
        stream,
        spool_path=str(tmp_path / "spool"),
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ckpt"),
        stats_path=str(tmp_path / "stats"),
    )
    q.awaitTermination()
    last = min(_mark_job_ids(spark, "crawl-group-after"))
    launched = set(range(first + 1, last))
    in_group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(q.runId)
    ))
    # two epochs of three writes each, at least one job per write
    assert len(launched) >= 6
    assert sorted(launched - in_group) == []
