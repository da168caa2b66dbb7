"""Streaming canonical-URL keep-best dedup (round-6 VERDICT #7), plus
the streaming twin of the crawl->corpus flagship.

The batch op (`url_canonical_dedup`) is ONE hash aggregate whose every
measure is ASSOCIATIVE (min kept_doc_id, count n_variants, max
best_n_chars) — so the streaming form is the cleanest incremental shape
there is: each micro-batch writes its own partial aggregate to an
epoch-keyed store directory, and "the state so far" is the re-aggregate
of the partials.  No state rewrite, no read-modify-write race: the
store is append-only by epoch, each epoch directory is written with
overwrite (a checkpoint replay of a failed batch rewrites the SAME
files — byte-idempotent), and the merge is a deterministic fold over
whatever epochs exist.  This is exactly how a 1000-executor crawl
frontier maintains its seen-URL table: per-ingest-window partials,
compacted by an associative merge.

Keep-best decisions can FLIP (a later epoch may carry a lower doc_id
for an already-seen canonical URL); emitting per-epoch "kept" rows
would therefore need retractions.  The store-of-partials sidesteps
that: consumers read the merged view, which is always the exact batch
answer over everything ingested so far (convergence asserted
hash-for-hash in tests/test_crawl_pipeline.py).

The crawl twin (`run_crawl_corpus_stream` + `finalize_crawl_corpus`)
adds a raw-corpus spool next to the URL store: foreachBatch spools the
batch rows and updates the URL partials; finalize joins the merged
keep-best ids back to the spool and runs the SAME downstream stages as
the batch flagship (ingest/crawl_pipeline.curated_manifest — shared
code, not a re-implementation).  The corpus-global stages (gram/band
frequencies) are functions of the whole surviving corpus by definition
and so run once at finalize; the URL stage is the part that
incrementalizes, and it is the part that owns the unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.ingest.urlnorm import canonicalize_url
from go_pulsar_elasticsearch_spark.streaming.store import read_store_or_empty

_STORE_SCHEMA = (
    "canonical_url string, kept_doc_id long, n_variants long,"
    " best_n_chars long"
)


def _batch_partial(batch_df: DataFrame) -> DataFrame:
    """The batch's own keep-best partial aggregate — the unit the store
    accumulates."""
    return (
        batch_df.select(
            "doc_id",
            "n_chars",
            canonicalize_url(F.col("raw_url")).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").alias("n_variants"),
            F.max("n_chars").alias("best_n_chars"),
        )
    )


def url_dedup_batch(
    spark: SparkSession, batch_df: DataFrame, store_path: str, epoch_id: int
) -> None:
    """foreachBatch body: write this epoch's keep-best partial under
    its own directory (overwrite => checkpoint replays are
    byte-idempotent; no prior-epoch state is read or rewritten)."""
    _batch_partial(batch_df).write.mode("overwrite").parquet(
        f"{store_path}/epoch={epoch_id}"
    )


def read_url_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The merged keep-best view over every epoch partial: associative
    re-aggregation (min/sum/max), identical to the batch aggregate over
    the union of all ingested rows."""
    partials = read_store_or_empty(spark, store_path, _STORE_SCHEMA)
    return partials.groupBy("canonical_url").agg(
        F.min("kept_doc_id").alias("kept_doc_id"),
        F.sum("n_variants").alias("n_variants"),
        F.max("best_n_chars").alias("best_n_chars"),
    )


def run_incremental_url_dedup(
    source: DataFrame, store_path: str, checkpoint: str
):
    """Wire a streaming (doc_id, n_chars, raw_url) source through the
    incremental keep-best; returns the started query.  Read the result
    with read_url_store."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        url_dedup_batch(batch_df.sparkSession, batch_df, store_path, epoch_id)

    return (
        source.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# streaming twin of the crawl->corpus flagship
# --------------------------------------------------------------------------


# second store off the same drained stream (round-7 VERDICT #5): the
# per-source crawl census — bucket -> fetched docs + bytes — as
# epoch-keyed SUM partials.  Counts and sums are associative, so the
# merged view equals the batch aggregate over everything spooled; it
# certifies `crawl_stats_stream` without its own drain.
_STATS_SCHEMA = "bucket long, n_docs long, n_chars long"
_STATS_BUCKETS = 8


def _stats_partial(batch_df: DataFrame) -> DataFrame:
    return batch_df.groupBy(
        (F.col("doc_id") % _STATS_BUCKETS).alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
    )


def read_stats_store(spark: SparkSession, stats_path: str) -> DataFrame:
    partials = read_store_or_empty(spark, stats_path, _STATS_SCHEMA)
    return partials.groupBy("bucket").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


def crawl_batch_body(
    spool_path: str, store_path: str, stats_path: str | None = None
):
    """The crawl drain's foreachBatch body: spool the raw rows and
    maintain the URL keep-best partials — plus, when ``stats_path`` is
    given, the per-bucket crawl census — ALL epoch-keyed and
    replay-idempotent off the one stream.  Shared by
    run_crawl_corpus_stream and the registered drive
    (ingest/crawl_pipeline._drive_crawl_stream)."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        # The two or three store writes are INDEPENDENT jobs over the
        # same persisted batch; running them from a small thread pool
        # overlaps their fixed per-job latency (scheduling + commit
        # protocol — the dominant cost of a drain epoch at certification
        # volume, measured r9: 8.1 s of a 10.4 s drain was sequential
        # body writes) instead of paying it serially (guide §2.6).
        # Every write still completes before the body returns, so the
        # checkpoint barrier and replay idempotence are unchanged.  Each
        # write carries this thread's local properties (the stream's job
        # group, scheduler pool) so query.stop() cancels it too.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        batch_df.persist()
        try:
            writes = [
                lambda: batch_df.write.mode("overwrite").parquet(
                    f"{spool_path}/epoch={epoch_id}"
                ),
                lambda: url_dedup_batch(
                    batch_df.sparkSession,
                    batch_df.withColumn("n_chars", F.length("text")),
                    store_path,
                    epoch_id,
                ),
            ]
            if stats_path is not None:
                writes.append(
                    lambda: _stats_partial(batch_df)
                    .write.mode("overwrite")
                    .parquet(f"{stats_path}/epoch={epoch_id}")
                )
            inherit = inheritable_thread_target(batch_df.sparkSession)
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                for f in [pool.submit(inherit(w)) for w in writes]:
                    f.result()  # surface the first failure
        finally:
            batch_df.unpersist()

    return body


def run_crawl_corpus_stream(
    source: DataFrame,
    spool_path: str,
    store_path: str,
    checkpoint: str,
    stats_path: str | None = None,
):
    """Wire a streaming (doc_id, raw_url, text) source through
    crawl_batch_body; returns the started query.  The batch's n_chars
    for keep-best accounting is the text length (the crawl fetch
    size)."""
    return (
        source.writeStream.foreachBatch(
            crawl_batch_body(spool_path, store_path, stats_path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def finalize_crawl_corpus(
    spark: SparkSession, spool_path: str, store_path: str
) -> DataFrame:
    """Join the merged keep-best ids back to the spooled corpus and run
    the batch flagship's downstream verbatim — the returned manifest
    hash-equals `crawl_corpus_pipeline` over the same corpus."""
    from go_pulsar_elasticsearch_spark.ingest.crawl_pipeline import (
        curated_manifest,
    )

    corpus = spark.read.parquet(spool_path).select("doc_id", "text")
    kept_ids = read_url_store(spark, store_path).select(
        F.col("kept_doc_id").alias("doc_id")
    )
    return curated_manifest(corpus.join(kept_ids, "doc_id"))


# --------------------------------------------------------------------------
# registered certification: the incremental store vs the batch oracle
# --------------------------------------------------------------------------

# the epoch split every file-sourced certification drain uses: three
# uneven micro-batches with the boundary mid-URL-group AND the low
# doc_ids delivered LAST — the final epoch carries a lower doc_id for
# already-seen canonical URLs, so min(kept_doc_id) must genuinely FLIP
# at merge time (a merge that kept first-seen winners instead of
# re-aggregating would fail the hash).
_FLIP_RANGES = ((40, 41), (41, 1 << 62), (0, 40))


def _drive_url_stream(spark: SparkSession, sf_dir: str) -> str:
    """Drain the mangled-URL stream once per (process, sf_dir) through
    the shared fixture (streaming/drain.py); later invocations reuse
    the accumulated store (train-once/probe-many)."""
    import os

    from go_pulsar_elasticsearch_spark.streaming.drain import (
        drain_file_stream,
        drained,
        id_range_predicates,
    )

    def build() -> str:
        from go_pulsar_elasticsearch_spark.catalog import t
        from go_pulsar_elasticsearch_spark.ingest.urlnorm import _mangled

        m = _mangled(t(spark, sf_dir, "documents"))

        def factory(base: str):
            store = os.path.join(base, "store")

            def body(batch_df: DataFrame, epoch_id: int) -> None:
                url_dedup_batch(
                    batch_df.sparkSession, batch_df, store, epoch_id
                )

            return body

        base = drain_file_stream(
            spark,
            m,
            "doc_id long, n_chars long, raw_url string",
            id_range_predicates(F.col("doc_id"), _FLIP_RANGES),
            factory,
            "gpe-urlstream-",
        )
        return os.path.join(base, "store")

    return drained(("url_stream", sf_dir), build)


def _register() -> None:
    from go_pulsar_elasticsearch_spark.ingest.urlnorm import _DEDUP_ORACLE
    from go_pulsar_elasticsearch_spark.registry import register
    from go_pulsar_elasticsearch_spark.session import tune

    @register("url_canonical_dedup_stream", _DEDUP_ORACLE)
    def url_canonical_dedup_stream(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """`url_canonical_dedup`'s STREAMING twin, hash-certified by the
        SAME oracle: the mangled URLs arrive in three uneven
        micro-batches through a live StreamingQuery (foreachBatch ->
        epoch-keyed associative partials, checkpoint + availableNow
        drain), and the merged store view is returned — converging
        bit-for-bit to the one-shot batch aggregate, the
        crawl_corpus_stream certification pattern applied to the
        standalone URL store (the crawl frontier's seen-URL table).

        Scale shape: per-epoch work is one partial aggregate of that
        epoch's rows; the store grows by |distinct canonical URLs per
        epoch| rows, and the merged view is an associative
        re-aggregation — no read-modify-write on prior state, so a
        1000-executor frontier compacts the same way."""
        tune(spark)
        store = _drive_url_stream(spark, sf_dir)
        return read_url_store(spark, store)


_register()
