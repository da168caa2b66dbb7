"""UDF surface: Arrow-batched pandas UDFs (scalar, grouped-map,
cogrouped-map, mapInArrow, UDTF).

The rule at scale: row-at-a-time Python UDFs are banned from hot paths
(~10-100x slower than Arrow-batched); everything Python goes through
pandas_udf / applyInPandas / mapInPandas / mapInArrow.  Every operator
here is deterministic and certified against a SQL twin — proving the
UDF path computes exactly what the declarative path would.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

# --------------------------------------------------------------------------
# scalar pandas UDF
# --------------------------------------------------------------------------


@pandas_udf(LongType())
def pd_word_count(texts: pd.Series) -> pd.Series:
    """Vectorized word count over an Arrow batch."""
    return texts.str.split(" ").str.len().astype("int64")


_SCALAR_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS pd_words,
       CAST(len(string_split(text, ' ')) AS BIGINT) * 2 AS pd_words_x2
FROM documents
"""


@register("udf_scalar_pandas", _SCALAR_ORACLE)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow batches) certified against the equivalent
    SQL expression — same answer, Python path."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        pd_word_count("text").alias("pd_words"),
        (pd_word_count("text") * 2).alias("pd_words_x2"),
    )


# --------------------------------------------------------------------------
# grouped-map (applyInPandas) — UDAF/UDTF-shaped
# --------------------------------------------------------------------------

_GROUPED_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("n_docs", LongType()),
        StructField("total_chars", LongType()),
        StructField("avg_chars", DoubleType()),
    ]
)


def _lang_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    total = int(pdf["n_chars"].sum())
    return pd.DataFrame(
        {
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [n],
            "total_chars": [total],
            # float64 division == SQL double division, bit-exact
            "avg_chars": [total / n],
        }
    )


_GROUPED_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY lang
"""


@register("udf_grouped_map", _GROUPED_ORACLE)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-language aggregate computed in
    pandas, certified against the SQL GROUP BY.  Shuffles once on the
    group key like any aggregate; each group must fit in executor memory
    (fine for bounded key domains like language codes — for unbounded
    keys use a two-level pre-aggregation)."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    return docs.select("lang", "n_chars").groupBy("lang").applyInPandas(
        _lang_stats, schema=_GROUPED_SCHEMA
    )


# --------------------------------------------------------------------------
# Python UDTF (table function) — the third UDF shape
# --------------------------------------------------------------------------

_CHUNK_WORDS = 10

_UDTF_ORACLE = f"""
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       array_to_string(w[(i * {_CHUNK_WORDS} + 1):((i + 1) * {_CHUNK_WORDS})], ' ')
         AS chunk
FROM (
  SELECT doc_id, w,
         unnest(range(0, CAST(ceil(len(w) / {_CHUNK_WORDS}.0) AS BIGINT))) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
"""


@register("udtf_chunk_docs", _UDTF_ORACLE)
def udtf_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (lateral table function): split each doc into
    non-overlapping 10-word chunks, one output row per chunk — the
    API-surface proof for pyspark's third UDF shape (scalar pandas and
    grouped-map live above; see doc_chunk_overlap for the pure-SQL
    overlapping-window equivalent that the hot path should use).

    The UDTF runs per-row in a lateral join — no shuffle; Python cost
    is the usual serialize boundary, which is why the certified SQL
    twin exists: identical semantics, JVM-only plan."""
    from pyspark.sql.functions import udtf

    tune(spark)

    @udtf(returnType="doc_id: bigint, chunk_idx: int, chunk: string",
          useArrow=True)
    class ChunkDoc:
        def eval(self, doc_id, text):
            words = text.split(" ")
            for i in range(0, len(words), _CHUNK_WORDS):
                yield doc_id, i // _CHUNK_WORDS, " ".join(
                    words[i : i + _CHUNK_WORDS]
                )

    spark.udtf.register("gpe_chunk_doc", ChunkDoc)
    t(spark, sf_dir, "documents").createOrReplaceTempView("gpe_udtf_docs")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.chunk "
        "FROM gpe_udtf_docs, LATERAL gpe_chunk_doc(doc_id, text) c"
    )


# --------------------------------------------------------------------------
# udtf_ngrams_analyze  (polymorphic UDTF: output schema from analyze())
# --------------------------------------------------------------------------

_NGRAM_ANALYZE_ORACLE = """
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS w0, w[i + 1] AS w1
FROM (
  SELECT doc_id, w, unnest(range(1, len(w))) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 2
)
"""


@register("udtf_ngrams_analyze", _NGRAM_ANALYZE_ORACLE)
def udtf_ngrams_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 `analyze()`): the n-gram width
    is a literal ARGUMENT, and the output schema — one `w{i}` column
    per gram position — is computed at PLAN time from it, so the same
    function serves bigram/trigram/any-gram call sites with typed
    columns instead of an array.  Certified here at n=2 against the
    SQL bigram expansion; eval itself is width-generic.

    Same lateral-join shape as udtf_chunk_docs: per-row, no shuffle."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeResult

    tune(spark)

    @udtf(useArrow=True)
    class NgramExplode:
        @staticmethod
        def analyze(doc_id, text, n):
            if not isinstance(n.value, int):
                raise ValueError(
                    "gpe_ngrams: n must be a constant integer (the "
                    "output schema is computed from it at plan time)"
                )
            width = int(n.value)
            fields = [
                StructField("doc_id", LongType()),
                StructField("pos", IntegerType()),
            ] + [StructField(f"w{i}", StringType()) for i in range(width)]
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, doc_id, text, n):
            words = (text or "").split(" ")
            for i in range(len(words) - n + 1):
                yield (doc_id, i, *words[i : i + n])

    spark.udtf.register("gpe_ngrams", NgramExplode)
    t(spark, sf_dir, "documents").createOrReplaceTempView("gpe_ngram_docs")
    return spark.sql(
        "SELECT g.doc_id, g.pos, g.w0, g.w1 "
        "FROM gpe_ngram_docs d, LATERAL gpe_ngrams(d.doc_id, d.text, 2) g"
    )


# --------------------------------------------------------------------------
# udf_cogrouped_asof  (cogroup().applyInPandas — the fourth UDF shape)
# --------------------------------------------------------------------------

_COGROUP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_id", LongType()),
        StructField("purchase_ms", LongType()),
        StructField("asof_view_ms", LongType()),
        StructField("ms_since_view", LongType()),
    ]
)


def _to_epoch_ms(ts: pd.Series) -> pd.Series:
    """Arrow hands Spark timestamps to pandas as datetime64[us] (or [ns]
    depending on version); normalize to ns before the epoch division so
    both shapes produce identical int64 milliseconds."""
    return ts.astype("datetime64[ns]").astype("int64") // 1_000_000


def _asof_merge(purchases: pd.DataFrame, views: pd.DataFrame) -> pd.DataFrame:
    """Bucket-level as-of merge, fully vectorized: each purchase takes
    the latest view STRICTLY preceding it in (ts, event_id) order within
    the same user — the exact rule of events_asof_join's window.

    ONE np.lexsort over the concatenated (view, purchase) key arrays
    orders both sides at once; a cumulative count of views along that
    order gives, per purchase, how many view keys sort strictly below
    its own (user_id, ts, event_id).  A side key below event_id sorts a
    purchase before a view with the same full key, so a tied view is
    never counted as "strictly preceding" even if event_ids collide
    across the two sides.
    The latest preceding view for the SAME user is then view k-1
    whenever that view's user matches.  No per-purchase Python loop:
    an earlier version refined each purchase with two tiny
    searchsorteds on its user's slice and spent ~70% of its time in
    that 300-iteration loop (guide §4.2 — hand whole batches to
    vectorized native code); this form is one sort plus O(n) gathers,
    measured 3.6x faster on sf0.1's 64 buckets with bit-identical
    output.  Output is assembled once per bucket with a single masked
    IntegerArray conversion, no per-row Python objects."""
    empty = pd.DataFrame(
        {
            "user_id": pd.array([], dtype="Int64"),
            "purchase_id": pd.array([], dtype="Int64"),
            "purchase_ms": pd.array([], dtype="Int64"),
            "asof_view_ms": pd.array([], dtype="Int64"),
            "ms_since_view": pd.array([], dtype="Int64"),
        }
    )
    if purchases.empty:
        return empty
    pu = purchases["user_id"].to_numpy()
    pm = _to_epoch_ms(purchases["ts"]).to_numpy()
    pi = purchases["event_id"].to_numpy()
    if views.empty:
        order = np.lexsort((pi, pm, pu))
        p_user, p_ms, p_id = pu[order], pm[order], pi[order]
        asof = np.full(len(p_user), -1, dtype="int64")  # -1 == no view
    else:
        vu = views["user_id"].to_numpy()
        vm = _to_epoch_ms(views["ts"]).to_numpy()
        vi = views["event_id"].to_numpy()
        nv = len(vu)
        order = np.lexsort(
            (
                np.concatenate([np.ones(nv, "int8"), np.zeros(len(pu), "int8")]),
                np.concatenate([vi, pi]),
                np.concatenate([vm, pm]),
                np.concatenate([vu, pu]),
            )
        )
        is_view = order < nv
        cum = np.cumsum(is_view)
        p_sel = ~is_view
        k = cum[p_sel]  # views with key strictly below this purchase's
        po = order[p_sel] - nv  # purchases in (user_id, ts, event_id) order
        p_user, p_ms, p_id = pu[po], pm[po], pi[po]
        vo = order[is_view]  # views in the same global key order
        v_user_s, v_ms_s = vu[vo], vm[vo]
        asof = np.full(len(p_user), -1, dtype="int64")  # -1 == no view
        has = (k > 0) & (v_user_s[np.maximum(k - 1, 0)] == p_user)
        asof[has] = v_ms_s[k[has] - 1]
    miss = asof < 0
    asof_arr = pd.arrays.IntegerArray(asof, mask=miss)
    since_arr = pd.arrays.IntegerArray(p_ms - asof, mask=miss)
    return pd.DataFrame(
        {
            "user_id": p_user,
            "purchase_id": p_id,
            "purchase_ms": p_ms,
            "asof_view_ms": asof_arr,
            "ms_since_view": since_arr,
        }
    )


# Shared truth: the cogroup form must hash-match the window form's oracle.
from go_pulsar_elasticsearch_spark.operators.rangejoin import (  # noqa: E402
    _ASOF_ORACLE as _COGROUP_ORACLE,
)


# Cogroup key granularity: buckets, not users.  One Spark cogroup
# carries a fixed per-group cost (Arrow slicing + a Python pandas call,
# ~5-10 ms); with per-user keys and small histories that constant
# dominates and the op scales with GROUP COUNT, not data (measured
# 14.9x at the 10x replica).  Hashing users into buckets amortizes it:
# the Python-side groupby iterates users at ~50 µs each.  At cluster
# scale, size the bucket count to executors*cores (here: shuffle
# partitions' worth); per-task memory is bucket-sized — uniform user
# hashing keeps that corpus/buckets, same bound as any keyed shuffle.
_COGROUP_BUCKETS = 64


@register("udf_cogrouped_asof", _COGROUP_ORACLE)
def udf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map UDF (``groupBy().cogroup().applyInPandas``): the
    two-table as-of join expressed as a per-key pandas merge — purchases
    and views shuffle once each on a shared bucket key, land in the same
    task, and the Python function sees both frames, iterating the users
    inside the bucket.  Certified against the SAME oracle as
    events_asof_join (the window form): two plans, one truth.

    Scale posture: one exchange per side (same shuffle shape as the
    window form), per-group cost amortized over the bucket (see
    _COGROUP_BUCKETS note).  Prefer the window form on hot paths
    (JVM-only); cogroup is the escape hatch for merge logic SQL can't
    express (model-scoring joins, custom tolerance laddering)."""
    tune(spark)

    # Two INDEPENDENT scans, not two filters of one frame: when both
    # cogroup children share a lineage, Spark's self-join attribute
    # dedup + column pruning can strip the right child down to the
    # grouping key (observed at sf0.001: views arrived with only
    # ['bucket']).  Separate reads give each side its own attribute
    # ids, so pruning sees two real consumers.
    def _side(event_type: str):
        bucket = F.pmod(F.col("user_id"), F.lit(_COGROUP_BUCKETS)).alias(
            "bucket"
        )
        return (
            t(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", "event_type")
            .filter(F.col("event_type") == event_type)
            .drop("event_type")
            .withColumn("bucket", bucket)
        )

    purchases = _side("purchase")
    views = _side("view")
    out = (
        purchases.groupBy("bucket")
        .cogroup(views.groupBy("bucket"))
        .applyInPandas(_asof_merge, schema=_COGROUP_SCHEMA)
    )
    return out


# --------------------------------------------------------------------------
# udf_map_in_arrow  (mapInArrow — zero-copy Arrow batches, no pandas)
# --------------------------------------------------------------------------

_ARROW_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
FROM documents
"""


def _arrow_text_stats(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        n_bytes = pc.cast(pc.binary_length(pc.cast(text, pa.binary())),
                          pa.int64())
        # len(split(t, ' ')) == count(' ') + 1: split keeps empty tokens.
        n_words = pc.cast(
            pc.add(pc.count_substring(text, pattern=" "), 1), pa.int64()
        )
        yield pa.RecordBatch.from_arrays(
            [b.column(b.schema.get_field_index("doc_id")), n_bytes, n_words],
            names=["doc_id", "n_bytes", "n_words"],
        )


@register("udf_map_in_arrow", _ARROW_ORACLE)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the lowest-overhead Python surface — the function
    receives raw Arrow RecordBatches (no pandas materialization at all)
    and computes with pyarrow.compute kernels, which are C++ vectorized.
    Certified against the SQL byte/word-count twin.

    Use over mapInPandas when the logic is expressible in Arrow kernels
    (no per-row Python objects, no pandas conversion cost); the batch
    size knob is spark.sql.execution.arrow.maxRecordsPerBatch, same as
    the pandas path."""
    tune(spark)
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _arrow_text_stats, schema="doc_id bigint, n_bytes bigint, n_words bigint"
    )
