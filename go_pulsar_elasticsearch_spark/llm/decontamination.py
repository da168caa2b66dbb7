"""Decontamination + content-hygiene operators for LLM training data.

  decontam_ngram_overlap — benchmark-leakage detector: eval-split docs
                           sharing any word-5-gram with the train split,
                           with the overlapping-gram count per doc
  doc_repetition_ratio   — intra-document repetition (dup word + dup
                           bigram fractions), the signal behind
                           "repetitive junk" quality filters
  pii_scrub              — pattern-based redaction with an audit count
                           and an md5 of the scrubbed text (the synthetic
                           corpus has no real PII, so a stand-in marker
                           vocabulary plays the role of the sensitive
                           pattern; the plumbing — replace-all regex,
                           per-doc audit counts, certified output hash —
                           is the production shape)

All three certified vs DuckDB.  Scale notes: the overlap join is the
only shuffle in the module, and it joins on the *distinct* gram sets
(train grams dedup to vocabulary size, far below corpus size); at
100 TB the gram strings should be md5-prefixed to fixed-width bigints
before the exchange (same trick as dedup.py's band signatures).  The
other two ops are narrow per-row expressions inside one
WholeStageCodegen span.

Reference parity: the reference has no corpus hygiene at all (ingest
connector only, SURVEY §2A); these extend the north-star training-data
pipeline alongside llm/curation.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.llm.corpus import _MD5_BUCKET_SQL, _md5_bucket, _TRAIN_LT
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

# --------------------------------------------------------------------------
# decontam_ngram_overlap
# --------------------------------------------------------------------------

_GRAM = 5  # word n-gram width; benchmarks typically use 8-13, the tiny
# synthetic vocabulary needs 5 to keep overlap rates realistic

_DECONTAM_ORACLE = f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         {_MD5_BUCKET_SQL('doc_id')} < {_TRAIN_LT} AS is_train
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_train,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM (SELECT doc_id, is_train, w,
               unnest(range(1, len(w) - {_GRAM - 2})) AS i
        FROM split)
),
train_grams AS (
  SELECT DISTINCT gram FROM grams WHERE is_train
)
SELECT g.doc_id, COUNT(*) AS n_leaked_grams
FROM grams g
JOIN train_grams tg ON tg.gram = g.gram
WHERE NOT g.is_train
GROUP BY g.doc_id
"""


@register("decontam_ngram_overlap", _DECONTAM_ORACLE)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split documents that leak train-split word-5-grams, with the
    count of distinct leaked grams per document — the standard
    benchmark-decontamination pass run before any eval is trusted.

    Plan: one narrow gram-explode per side of the deterministic md5
    split, distinct per side, then a single equi-join on the gram
    string.  The train side collapses to the distinct gram vocabulary
    (bounded by vocab^5 observed combinations, not corpus rows), so at
    scale Catalyst/AQE picks a broadcast or a well-balanced shuffle;
    eval is typically ~5% of the corpus.  No window, no self-join on
    the full corpus."""
    tune(spark)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("w"),
        (_md5_bucket("doc_id") < _TRAIN_LT).alias("is_train"),
    )
    grams = docs.select(
        "doc_id",
        "is_train",
        F.explode(
            # guard: sequence(1, 0) yields [1, 0] (step defaults to -1
            # when start > stop), and slice(w, 0, k) THROWS — a <5-word
            # doc must produce an EMPTY gram array, not a crash
            F.expr(
                f"CASE WHEN size(w) >= {_GRAM} THEN"
                f" transform(sequence(1, size(w) - {_GRAM - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {_GRAM})))"
                f" ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("gram"),
    ).distinct()
    train_grams = grams.filter("is_train").select("gram").distinct()
    return (
        grams.filter(~F.col("is_train"))
        .join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_leaked_grams"))
    )


# --------------------------------------------------------------------------
# doc_repetition_ratio
# --------------------------------------------------------------------------

_REP_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bi AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
  FROM split
)
SELECT
  doc_id,
  CAST(len(w) AS BIGINT) AS n_words,
  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_ratio,
  1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_ratio
FROM bi
WHERE len(w) > 1
"""


@register("doc_repetition_ratio", _REP_ORACLE)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the fraction of duplicate words and
    duplicate bigrams per document.  High bigram repetition is the
    classic boilerplate/spam signature quality filters cut on.

    Entirely expression-level (split / transform / array_distinct):
    zero shuffle, pipelined with the scan — the 100 TB cost is one
    pass over the text bytes."""
    tune(spark)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bg = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    return (
        docs.filter(F.size("w") > 1)
        .withColumn("bg", bg)
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_words"),
            (
                1.0
                - F.size(F.array_distinct("w")).cast("double") / F.size("w")
            ).alias("dup_word_ratio"),
            (
                1.0
                - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
            ).alias("dup_bigram_ratio"),
        )
    )


# --------------------------------------------------------------------------
# pii_scrub
# --------------------------------------------------------------------------

# Stand-in sensitive pattern: the synthetic corpus carries no emails /
# phones / IPs, so a marker vocabulary plays the role.  In production
# swap _PII_RE for the usual email/phone/IP alternation — the plan is
# identical (replace-all regex + extract-all count, both RE2-safe).
_PII_RE = r"\b(customer|value)\b"
_MASK = "[REDACTED]"

_PII_ORACLE = f"""
SELECT
  doc_id,
  CAST(len(regexp_extract_all(text, '{_PII_RE}')) AS BIGINT) AS n_redactions,
  md5(regexp_replace(text, '{_PII_RE}', '{_MASK}', 'g')) AS scrubbed_md5,
  CAST(length(regexp_replace(text, '{_PII_RE}', '{_MASK}', 'g'))
       AS BIGINT) AS scrubbed_len
FROM documents
"""


@register("pii_scrub", _PII_ORACLE)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact every sensitive-pattern match, emitting the per-document
    audit count plus an md5 of the scrubbed text so the certification
    covers the exact replacement output, not just the count.  Narrow
    per-row regex work — no shuffle; the audit trail is what a
    compliance pass needs to prove the scrub ran everywhere."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", _PII_RE, _MASK)
    return docs.select(
        "doc_id",
        # NB: Spark SQL string literals process backslash escapes, so the
        # regex's \b must be doubled inside expr() (the DataFrame-API
        # regexp_replace above takes the pattern verbatim)
        F.size(
            F.expr(
                "regexp_extract_all(text, '"
                + _PII_RE.replace("\\", "\\\\")
                + "', 0)"
            )
        )
        .cast("bigint")
        .alias("n_redactions"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    )


# --------------------------------------------------------------------------
# contam_exact_substring
# --------------------------------------------------------------------------

_SUB_PROBE_WORDS = 3

_SUBSTR_ORACLE = f"""
WITH ev AS (
  SELECT doc_id AS eval_id,
         array_to_string(string_split(text, ' ')[1:{_SUB_PROBE_WORDS}], ' ')
           AS probe
  FROM documents WHERE doc_id % 50 = 0
)
SELECT eval_id, d.doc_id AS train_id, probe,
       CAST(strpos(d.text, probe) AS BIGINT) AS pos
FROM ev JOIN documents d
  ON d.doc_id <> ev.eval_id AND strpos(d.text, ev.probe) > 0
"""


@register("contam_exact_substring", _SUBSTR_ORACLE)
def contam_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (the complement of the word-5-gram
    pass): each eval doc's leading 3-word phrase is searched VERBATIM in
    every train doc; hits report where.  This is the cheap high-precision
    screen run before n-gram overlap at corpus scale.

    Shape: the probe table is eval-benchmark-sized -> broadcast; the
    scan side is one narrow contains() pass over the corpus with NO
    shuffle at all (the only exchange in the plan belongs to nothing —
    probes are built driver-free from the same table)."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.concat_ws(
            " ", F.slice(F.split("text", " "), 1, _SUB_PROBE_WORDS)
        ).alias("probe"),
    )
    return (
        F.broadcast(probes)
        .join(
            docs,
            (F.col("doc_id") != F.col("eval_id"))
            & (F.instr(F.col("text"), F.col("probe")) > 0),
        )
        .select(
            "eval_id",
            F.col("doc_id").alias("train_id"),
            "probe",
            F.instr(F.col("text"), F.col("probe")).cast("bigint").alias("pos"),
        )
    )


# --------------------------------------------------------------------------
# decontam_bloom_prefilter  (Bloom-screened exact decontamination — the
# 100 TB execution shape of decontam_ngram_overlap)
# --------------------------------------------------------------------------

# At corpus scale the naive overlap join shuffles the full train-gram
# vocabulary against the eval grams.  The production pattern (Dolma,
# RefinedWeb) screens first: fold the train grams into a fixed-size
# Bloom filter, broadcast it (megabytes regardless of corpus size),
# drop every eval gram the filter rejects LOCALLY, and only the
# surviving candidates — true overlaps plus a bounded false-positive
# trickle — enter the exact verification join.  Because the verify
# stage is exact, the final answer is IDENTICAL to the plain overlap
# op, so this is certified by the SAME chained oracle: the fast path
# provably computes the same result.
#
# Engineering split: gram hashing stays JVM-side (two independent
# xxhash64 streams per gram); Python only does vectorized numpy bit
# math over Arrow batches (set bits on build, gather bits on probe) —
# never per-row work.  Partial blooms are OR-merged executor-side down
# to ONE row; the driver holds just the final bitmap (m/8 bytes).

_BLOOM_M = 1 << 23  # bits (1 MiB bitmap): ~1.6e-4 FP at 250k grams, k=4
_BLOOM_K = 4

_BLOOM_BUILD_PARTS = 8  # partial-bloom fan-in for the executor-side OR


def _bloom_positions(h1, h2):
    """k probe positions from two 64-bit hashes via double hashing
    (Kirsch–Mitzenmacher): pos_i = (h1 + i*h2) mod m, numpy uint64."""
    a = h1.to_numpy(dtype="int64").astype(np.uint64)
    b = h2.to_numpy(dtype="int64").astype(np.uint64)
    return [
        ((a + np.uint64(i) * b) % np.uint64(_BLOOM_M)).astype(np.int64)
        for i in range(_BLOOM_K)
    ]


def _set_bits(bloom, pos) -> None:
    """Set the bloom bits at numpy position array ``pos`` IN PLACE —
    via bitwise_or.at, NOT ``bloom[idx] |= bits``: the buffered
    fancy-index form applies ONE write per duplicate byte index and
    silently drops the other bits — a false NEGATIVE, which breaks the
    Bloom contract."""
    np.bitwise_or.at(bloom, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def gram_hashes(docs: DataFrame, split: bool = True) -> DataFrame:
    """(doc_id[, is_train], gram, h1, h2): the distinct word-5-grams of
    a documents-shaped frame with the two xxhash64 streams the Bloom
    uses — hashing stays JVM-side, Python only ever sees integers."""
    cols = ["doc_id"] + (["is_train"] if split else [])
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        *(
            [(_md5_bucket("doc_id") < _TRAIN_LT).alias("is_train")]
            if split
            else []
        ),
    )
    grams = base.select(
        *cols,
        F.explode(
            # guard: sequence(1, 0) yields [1, 0] (step defaults to -1
            # when start > stop), and slice(w, 0, k) THROWS — a <5-word
            # doc must produce an EMPTY gram array, not a crash
            F.expr(
                f"CASE WHEN size(w) >= {_GRAM} THEN"
                f" transform(sequence(1, size(w) - {_GRAM - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {_GRAM})))"
                f" ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("gram"),
    ).distinct()
    return grams.withColumn("h1", F.xxhash64("gram")).withColumn(
        "h2", F.xxhash64("gram", F.lit("bloom-salt-2"))
    )


def build_bloom_df(hashes: DataFrame) -> DataFrame:
    """ONE-row 'bloom binary' frame folding every (h1, h2) into the
    fixed-size bitmap: per-partition partial blooms, OR-merged
    executor-side.  OR is associative, commutative, and idempotent, so
    ANY partitioning (and any micro-batch split of the same hashes)
    yields byte-identical output."""

    def _build(batches):
        bloom = np.zeros(_BLOOM_M // 8, dtype=np.uint8)
        for pdf in batches:
            for pos in _bloom_positions(pdf["h1"], pdf["h2"]):
                _set_bits(bloom, pos)
        yield pd.DataFrame({"bloom": [bloom.tobytes()]})

    partials = (
        hashes.select("h1", "h2")
        .repartition(_BLOOM_BUILD_PARTS)
        .mapInPandas(_build, "bloom binary")
    )
    return or_merge_blooms(partials)


def or_merge_blooms(blooms: DataFrame) -> DataFrame:
    """Fold a 'bloom binary' frame (any number of rows) into one row."""

    def _merge(batches):
        bloom = np.zeros(_BLOOM_M // 8, dtype=np.uint8)
        for pdf in batches:
            for buf in pdf["bloom"]:
                bloom |= np.frombuffer(buf, dtype=np.uint8)
        yield pd.DataFrame({"bloom": [bloom.tobytes()]})

    return blooms.repartition(1).mapInPandas(_merge, "bloom binary")


def might_contain_udf(spark: SparkSession, bloom_bytes: bytes):
    """Arrow-vectorized membership probe bound to a broadcast bitmap."""
    from pyspark.sql.functions import pandas_udf

    bloom_bc = spark.sparkContext.broadcast(bytes(bloom_bytes))

    @pandas_udf("boolean")
    def _might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if h1.empty:
            return pd.Series([], dtype=bool)
        bloom = np.frombuffer(bloom_bc.value, dtype=np.uint8)
        hit = np.ones(len(h1), dtype=bool)
        for pos in _bloom_positions(h1, h2):
            hit &= (bloom[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
        return pd.Series(hit)

    return _might_contain


@register("decontam_bloom_prefilter", _DECONTAM_ORACLE)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact decontamination: train grams fold into a
    broadcast 1 MiB Bloom filter; eval grams probe it locally and only
    the candidates reach the exact verify join.  Output == the plain
    ``decontam_ngram_overlap`` (the verify join removes every false
    positive), certified by the same oracle.

    Scale: the train side is touched ONCE by a narrow hash+fold pass —
    the gram strings never shuffle; the only exchange on the eval path
    carries candidates, already Bloom-thinned to true-overlap volume.
    Driver state is the single fixed-size bitmap (index-metadata sized,
    like the IVF centroid table)."""
    tune(spark)
    from go_pulsar_elasticsearch_spark.functions.caching import cache_slot

    # three consumers (bloom build, probe, verify join) share one
    # materialization of the hashed gram set instead of re-exploding
    # the corpus per branch
    hashed = cache_slot(
        "decontam_bloom_grams",
        gram_hashes(t(spark, sf_dir, "documents")),
    )

    merged = build_bloom_df(hashed.filter("is_train"))
    bloom_bytes = merged.collect()[0]["bloom"]  # bounded: m/8 bytes, once

    candidates = (
        hashed.filter(~F.col("is_train"))
        .filter(might_contain_udf(spark, bloom_bytes)("h1", "h2"))
        .select("doc_id", "gram")
    )

    # ---- verify: exact join on the Bloom-thinned candidate set ----
    train_grams = hashed.filter("is_train").select("gram").distinct()
    return (
        candidates.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_leaked_grams"))
    )


# --------------------------------------------------------------------------
# decontam_bloom_stream — the Bloom screen driven as a LIVE stream, then
# certified by the SAME oracle as the batch ops (the crawl_corpus_stream
# pattern: stream accumulates state, finalize reruns the shared
# downstream, the closed-form oracle hash-checks the result)
# --------------------------------------------------------------------------

def _drive_bloom_stream(spark: SparkSession, sf_dir: str) -> str:
    """Drain the TRAIN split through the streaming Bloom monitor once
    per (process, sf_dir) via the shared fixture (streaming/drain.py);
    later invocations reuse the store."""
    import os

    from go_pulsar_elasticsearch_spark.streaming.bloom_monitor import (
        write_epoch,
    )
    from go_pulsar_elasticsearch_spark.streaming.drain import (
        drain_file_stream,
        drained,
    )

    def build() -> str:
        train = (
            t(spark, sf_dir, "documents")
            .filter(_md5_bucket("doc_id") < _TRAIN_LT)
            .select("doc_id", "text")
        )

        def factory(base: str):
            store = os.path.join(base, "store")
            return lambda df, eid: write_epoch(df, store, epoch_id=eid)

        # three uneven micro-batches; epoch boundaries cut through gram
        # space so the merged bitmap genuinely composes across epochs
        base = drain_file_stream(
            spark,
            train,
            "doc_id long, text string",
            [F.col("doc_id") % 3 == m for m in range(3)],
            factory,
            "gpe-bloomstream-",
        )
        return os.path.join(base, "store")

    return drained(("bloom_stream", sf_dir), build)


@register("decontam_bloom_stream", _DECONTAM_ORACLE)
def decontam_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination screen with its Bloom state built by a LIVE
    StreamingQuery (per-epoch partial bitmaps under foreachBatch, an
    idempotent-OR merge on read) instead of a batch fold — then the
    same probe + exact-verify downstream as `decontam_bloom_prefilter`.
    Certified by the SAME oracle as the batch op: the streamed state
    provably converges to the batch answer, the engine-native analog of
    crawl_corpus_stream vs crawl_corpus_pipeline."""
    tune(spark)
    from go_pulsar_elasticsearch_spark.streaming import bloom_monitor as bm

    store = _drive_bloom_stream(spark, sf_dir)
    bloom_bytes = bm.merged_bloom_bytes(spark, store)

    from go_pulsar_elasticsearch_spark.functions.caching import cache_slot

    # probe + verify share one materialization of the hashed gram set,
    # so the corpus is exploded once
    hashed = cache_slot(
        "decontam_bloom_grams", gram_hashes(t(spark, sf_dir, "documents"))
    )
    candidates = (
        hashed.filter(~F.col("is_train"))
        .filter(might_contain_udf(spark, bloom_bytes)("h1", "h2"))
        .select("doc_id", "gram")
    )
    train_grams = hashed.filter("is_train").select("gram").distinct()
    return (
        candidates.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_leaked_grams"))
    )
