"""Streaming near-duplicate suppression: the batch MinHash+LSH pipeline
(llm/dedup.py) run incrementally under foreachBatch against an
accumulating signature store.

Per micro-batch:
  1. band signatures for the batch's docs (the shared
     minhash_band_sigs builder — same salts as the certified batch op);
  2. candidate = any doc agreeing with the STORE on >= `min_bands` of
     the 8 bands (band-bucket equi-join, never all-pairs);
  3. within-batch near-dups collapse to the lowest doc_id;
  4. survivors' signatures append to the store, survivor rows append to
     the output — so later batches dedupe against everything kept so
     far (the reference's idempotent-upsert idea lifted from exact keys
     to NEAR keys).

Scale posture: the store holds 8 rows x 32-byte sig per KEPT doc (tiny
vs the corpus); both joins are equi on (band, sig); the store read is
partition-pruned by band if the store is written partitioned.  Exactly
the shape a 1000-executor curation stream runs.

Replay safety: both sinks are keyed by ``epoch=<batch_id>`` directories
written with overwrite, and the store read sees only epochs STRICTLY
BELOW the current one — so a checkpoint replay of a half-committed
batch (a) never matches a doc against its own partially-written
signatures and (b) rewrites exactly the same two directories, making
dedup decisions a deterministic function of (prior epochs, batch).

Pair semantics: the >= `min_bands` threshold applies per (probe,
partner) PAIR — standard LSH — not to bands pooled across all
partners, so a doc sharing 2 bands with one stored doc and 2 different
bands with another is NOT suppressed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from go_pulsar_elasticsearch_spark.streaming.store import read_store_or_empty

from go_pulsar_elasticsearch_spark.llm.dedup import minhash_band_sigs

_MIN_BANDS = 4  # of 8: ~Jaccard >= 0.5 expected agreement


def _store(spark: SparkSession, path: str) -> DataFrame:
    return read_store_or_empty(
        spark, path, "doc_id long, band int, sig string, epoch long"
    )


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    out_path: str,
    min_bands: int = _MIN_BANDS,
    epoch_id: int = 0,
) -> None:
    """foreachBatch body: suppress docs near-duplicating the store or a
    lower-id batch mate; write survivors (rows + signatures) under
    epoch-keyed directories (idempotent under checkpoint replay)."""
    sigs = minhash_band_sigs(batch_df)  # slot-cached by the builder
    # strictly-prior epochs only: a replayed batch must not see its own
    # (possibly partial) writes from the failed attempt
    store = _store(spark, store_path).filter(F.col("epoch") < F.lit(epoch_id))
    p, s = sigs.alias("p"), store.alias("s")
    vs_store = (
        p.join(s, ["band", "sig"])
        .groupBy(F.col("p.doc_id").alias("doc_id"), F.col("s.doc_id").alias("partner"))
        .agg(F.countDistinct("band").alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
        .select("doc_id")
        .distinct()
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    vs_batch = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("partner"))
        .agg(F.countDistinct("a.band").alias("n_bands"))
        .filter(F.col("n_bands") >= min_bands)
        .select("doc_id")
        .distinct()
    )
    dupes = vs_store.union(vs_batch).distinct()
    survivors = batch_df.join(dupes, "doc_id", "left_anti")
    # overwrite of the epoch dir, not append to the root: replaying the
    # same epoch rewrites the same files instead of duplicating them
    sigs.join(dupes, "doc_id", "left_anti").write.mode("overwrite").parquet(
        f"{store_path}/epoch={epoch_id}"
    )
    survivors.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")


def run_incremental_near_dedup(
    source: DataFrame, store_path: str, out_path: str, checkpoint: str
):
    """Wire a streaming docs source (doc_id, text) through the
    incremental near-dedup; returns the started query."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(
            batch_df.sparkSession, batch_df, store_path, out_path,
            epoch_id=epoch_id,
        )

    return (
        source.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
