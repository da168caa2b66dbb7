"""ES Query-DSL compiler: a JSON query (the dialect the reference's
consumers use against the ES index, mapping.json:11-56) compiled into a
Catalyst predicate Column.

Supported leaves (filter context):
  term     {"term": {"field": value}}           exact match (keyword)
  terms    {"terms": {"field": [v1, v2]}}       IN list
  range    {"range": {"field": {"gte"/"gt"/"lte"/"lt": v}}}
  exists   {"exists": {"field": "f"}}           IS NOT NULL
  prefix   {"prefix": {"field": "p"}}           startswith
  wildcard {"wildcard": {"field": "a*b?c"}}     * / ? translated to LIKE
  match    {"match": {"field": "w1 w2"}}        analyzed: ALL tokens
                                                appear as whole words
  regexp   {"regexp": {"field": "pat"}}         ANCHORED whole-term match
                                                (Lucene regexp semantics)
  ids      {"ids": {"values": [..]}}            primary-key membership
                                                (_id -> doc_id by default)
Compound:
  bool with must / filter / must_not / should — ES filter-context
  semantics: should is optional when must/filter exist, otherwise at
  least one should-clause must match; an EXPLICIT
  minimum_should_match counts satisfied should clauses and is
  enforced even when must/filter are present.

Everything compiles to built-in Column expressions (zero UDFs), so a
compiled query is indistinguishable from a hand-written filter to
Catalyst: predicate pushdown, partition pruning, and codegen all apply.
At 100 TB that is the whole point — the DSL front-end costs nothing at
execution time.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

_RANGE_OPS = {
    "gte": lambda c, v: c >= v,
    "gt": lambda c, v: c > v,
    "lte": lambda c, v: c <= v,
    "lt": lambda c, v: c < v,
}


def _like_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


def _match_tokens(field: str, text: str) -> Column:
    """Analyzed match: every whitespace token occurs as a whole word
    (the standard-analyzer approximation on our space-tokenized docs)."""
    conds = [
        F.array_contains(F.split(F.col(field), " "), tok)
        for tok in text.split()
        if tok
    ]
    if not conds:
        # ES: a match query that analyzes to zero tokens matches nothing
        return F.lit(False)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def compile_query(q: dict[str, Any]) -> Column:
    """Compile one ES query clause to a boolean Column."""
    if len(q) != 1:
        raise ValueError(f"expected a single-clause query, got {sorted(q)}")
    (kind, body), = q.items()
    if kind == "bool":
        return _compile_bool(body)
    if kind == "term":
        (field, value), = body.items()
        return F.col(field) == F.lit(value)
    if kind == "terms":
        (field, values), = body.items()
        return F.col(field).isin(list(values))
    if kind == "range":
        (field, ops), = body.items()
        conds = [_RANGE_OPS[op](F.col(field), F.lit(v)) for op, v in ops.items()]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    if kind == "exists":
        return F.col(body["field"]).isNotNull()
    if kind == "prefix":
        (field, p), = body.items()
        return F.col(field).startswith(p)
    if kind == "wildcard":
        (field, pat), = body.items()
        like = _like_escape(pat).replace("*", "%").replace("?", "_")
        return F.col(field).like(like)
    if kind == "match":
        (field, text), = body.items()
        return _match_tokens(field, text)
    if kind == "regexp":
        (field, pat), = body.items()
        # ES regexp queries are ANCHORED (Lucene regexp semantics: the
        # pattern must match the ENTIRE term), unlike rlike's substring
        # search — the non-capturing wrap preserves alternations
        return F.col(field).rlike(f"^(?:{pat})$")
    if kind == "ids":
        # ES `ids` addresses the _id metadata field; on a DataFrame the
        # primary-key column stands in (default doc_id, the documents
        # table's key — callers on other frames name theirs via `field`)
        return F.col(body.get("field", "doc_id")).isin(list(body["values"]))
    raise ValueError(f"unsupported query kind: {kind!r}")


def _compile_bool(body: dict[str, Any]) -> Column:
    def clauses(key: str) -> list[Column]:
        items = body.get(key, [])
        if isinstance(items, dict):
            items = [items]
        return [compile_query(c) for c in items]

    out = F.lit(True)
    for c in clauses("must") + clauses("filter"):
        out = out & c
    for c in clauses("must_not"):
        out = out & ~F.coalesce(c, F.lit(False))
    should = clauses("should")
    msm = body.get("minimum_should_match")
    if should:
        if msm is not None:
            # explicit minimum_should_match is ALWAYS enforced, even
            # with must/filter present (ES semantics): count satisfied
            # should clauses as exact ints (null -> unsatisfied)
            n_sat = F.when(should[0], 1).otherwise(0)
            for c in should[1:]:
                n_sat = n_sat + F.when(c, 1).otherwise(0)
            out = out & (n_sat >= F.lit(int(msm)))
        elif body.get("must") or body.get("filter"):
            # filter-context ES: should is optional when must/filter
            # exist (it only affects scoring, which filter context drops)
            pass
        else:
            any_should = should[0]
            for c in should[1:]:
                any_should = any_should | c
            out = out & any_should
    return out


def search(df: DataFrame, query: dict[str, Any]) -> DataFrame:
    """ES `query` -> filtered DataFrame (filter context, no scoring)."""
    return df.filter(compile_query(query))


# --------------------------------------------------------------------------
# certified example: a representative bool query over `documents`
# --------------------------------------------------------------------------

_DSL = {
    "bool": {
        "must": [
            {"match": {"text": "spark table"}},
            {"range": {"n_chars": {"gte": 200, "lt": 900}}},
        ],
        "must_not": [{"term": {"lang": "de"}}],
        "filter": [{"terms": {"source": ["src1", "src3", "src5", "src7"]}}],
    }
}

_DSL_ORACLE = """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE list_contains(string_split(text, ' '), 'spark')
  AND list_contains(string_split(text, ' '), 'table')
  AND n_chars >= 200 AND n_chars < 900
  AND NOT COALESCE(lang = 'de', FALSE)
  AND source IN ('src1', 'src3', 'src5', 'src7')
"""


@register("query_dsl_compile", _DSL_ORACLE)
def query_dsl_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A representative ES bool query (match + range + must_not term +
    terms filter) compiled by query_dsl.compile_query and certified
    against its hand-written SQL twin.  The compiled predicate is plain
    Column algebra — the n_chars range and source IN list reach the
    parquet scan as pushed filters."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    return search(docs, _DSL).select("doc_id", "source", "lang", "n_chars")


# --------------------------------------------------------------------------
# Aggregations: the `aggs` half of the ES search API
# --------------------------------------------------------------------------

_METRICS = {"avg", "sum", "min", "max", "value_count", "cardinality"}
_BUCKETS = {"terms", "date_histogram"}

_CAL_INTERVALS = {"day": "day", "hour": "hour", "week": "week",
                  "month": "month", "year": "year"}


def _bucket_col(kind: str, body: dict[str, Any]) -> Column:
    field = body["field"]
    if kind == "terms":
        return F.col(field)
    if kind == "date_histogram":
        return F.date_trunc(_CAL_INTERVALS[body["calendar_interval"]], field)
    raise ValueError(f"unsupported bucket kind: {kind!r}")


def _metric_col(kind: str, body: dict[str, Any]) -> Column:
    from go_pulsar_elasticsearch_spark.functions.exact import dsum

    field = body["field"]
    if kind == "avg":
        # exact decimal sum / count — bit-portable, unlike SUM(double)
        return dsum(field, scale=2) / F.count(field)
    if kind == "sum":
        return dsum(field, scale=2)
    if kind == "min":
        return F.min(field)
    if kind == "max":
        return F.max(field)
    if kind == "value_count":
        return F.count(field)
    if kind == "cardinality":
        # ES cardinality is an HLL estimate; certified pipelines want the
        # exact count — swap in approx_count_distinct at scale if the
        # estimate semantics are desired
        return F.countDistinct(field)
    raise ValueError(f"unsupported metric kind: {kind!r}")


def compile_aggs(df: DataFrame, aggs: dict[str, Any]) -> DataFrame:
    """Compile an ES `aggs` tree: nested bucket aggs become composite
    groupBy keys (named after the agg), metric aggs become aggregate
    columns.  One groupBy -> ONE shuffle regardless of nesting depth,
    with map-side partial aggregation — the ES coordinating-node
    reduce, done by the engine."""
    keys: list[Column] = []
    metrics: list[Column] = []

    def walk(tree: dict[str, Any]) -> None:
        for name, spec in tree.items():
            kinds = [k for k in spec if k in _BUCKETS | _METRICS]
            if len(kinds) != 1:
                raise ValueError(f"agg {name!r}: expected one agg kind")
            kind = kinds[0]
            if kind in _BUCKETS:
                keys.append(_bucket_col(kind, spec[kind]).alias(name))
                if "aggs" in spec:
                    walk(spec["aggs"])
            else:
                metrics.append(_metric_col(kind, spec[kind]).alias(name))

    walk(aggs)
    if not metrics:
        metrics = [F.count("*").alias("doc_count")]
    if not keys:
        return df.agg(*metrics)
    return df.groupBy(*keys).agg(*metrics)


def es_search(df: DataFrame, body: dict[str, Any]) -> DataFrame:
    """The full ES _search request shape: optional `query` (filter
    context) + optional `aggs`."""
    out = df
    if "query" in body:
        out = out.filter(compile_query(body["query"]))
    if "aggs" in body:
        out = compile_aggs(out, body["aggs"])
    return out


# certified example: query + nested bucket aggs + metrics in one request
_SEARCH_BODY = {
    "query": {"bool": {"must_not": [{"term": {"event_type": "error"}}]}},
    "aggs": {
        "by_type": {
            "terms": {"field": "event_type"},
            "aggs": {
                "by_day": {
                    "date_histogram": {
                        "field": "ts", "calendar_interval": "day",
                    },
                    "aggs": {
                        "avg_value": {"avg": {"field": "value"}},
                        "n": {"value_count": {"field": "event_id"}},
                        "users": {"cardinality": {"field": "user_id"}},
                    },
                }
            },
        }
    },
}

from go_pulsar_elasticsearch_spark.functions.exact import AVGD

_AGGS_ORACLE = f"""
SELECT event_type AS by_type,
       date_trunc('day', ts) AS by_day,
       {AVGD('value', 2)} AS avg_value,
       CAST(COUNT(event_id) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM events
WHERE NOT COALESCE(event_type = 'error', FALSE)
GROUP BY 1, 2
"""


@register("query_dsl_aggs", _AGGS_ORACLE)
def query_dsl_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full ES _search request (query + terms -> date_histogram ->
    metrics) compiled to one filter + one groupBy — single shuffle,
    partial-agg combined, certified against the hand-written twin."""
    tune(spark)
    ev = t(spark, sf_dir, "events")
    return es_search(ev, _SEARCH_BODY)


# --------------------------------------------------------------------------
# certified example 3: regexp + ids + explicit minimum_should_match
# --------------------------------------------------------------------------

_DSL_MSM = {
    "bool": {
        "filter": [{"regexp": {"source": "src[0-4]"}}],
        "must_not": [{"ids": {"values": [0, 1, 2]}}],
        "should": [
            {"match": {"text": "spark"}},
            {"match": {"text": "window"}},
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 500}}},
        ],
        "minimum_should_match": 2,
    }
}

_DSL_MSM_ORACLE = """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE regexp_full_match(source, 'src[0-4]')
  AND NOT COALESCE(doc_id IN (0, 1, 2), FALSE)
  AND (CASE WHEN list_contains(string_split(text, ' '), 'spark')
            THEN 1 ELSE 0 END
     + CASE WHEN list_contains(string_split(text, ' '), 'window')
            THEN 1 ELSE 0 END
     + CASE WHEN lang = 'en' THEN 1 ELSE 0 END
     + CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) >= 2
"""


@register("query_dsl_minimum_should", _DSL_MSM_ORACLE)
def query_dsl_minimum_should(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three term-level clauses that completed the compiler —
    ``regexp`` (ANCHORED, Lucene's whole-term match, not rlike's
    substring search), ``ids`` (primary-key membership, the _id
    metadata query), and explicit ``minimum_should_match`` (satisfied-
    clause COUNTING, enforced even in filter context where the default
    should rule is scoring-only) — exercised together through
    compile_query and certified against the hand-written twin.

    Plan shape: one narrow scan-fused predicate; the regexp and the key
    IN-list are pushable, the should-counter is a codegen int sum —
    zero shuffles, zero Python."""
    tune(spark)
    docs = t(spark, sf_dir, "documents")
    return search(docs, _DSL_MSM).select("doc_id", "source", "lang", "n_chars")


# --------------------------------------------------------------------------
# msearch_fused  (ES _msearch: N request bodies, ONE shared base pass)
# --------------------------------------------------------------------------

# ES `_msearch` bundles N request bodies into one HTTP call but still
# executes N independent searches over the index.  The engine can do
# better: both requests below consume ONE slot-cached columnar
# projection of the corpus — scan once, run N bucket aggregates over
# the cached frame — which is the N-dashboards-one-scan pattern that
# matters at 100 TB (on a cluster the slot is a shared cached
# projection / materialized view; the second request's marginal cost is
# its aggregate, never a second scan).
_MSEARCH_BODIES = {
    "r1": {
        "query": {"term": {"lang": "en"}},
        "bucket": "source",
    },
    "r2": {
        "query": {"range": {"n_chars": {"gte": 500}}},
        "bucket": "lang",
    },
}

_MSEARCH_ORACLE = """
WITH base AS (
  SELECT doc_id, source, lang, n_chars FROM documents
)
SELECT 'r1' AS request, source AS key,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM base WHERE lang = 'en' GROUP BY source
UNION ALL
SELECT 'r2', lang,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
FROM base WHERE n_chars >= 500 GROUP BY lang
"""


@register("msearch_fused", _MSEARCH_ORACLE)
def msearch_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_msearch``: two tagged request bodies (different filters,
    different bucket keys) answered as ONE plan over ONE shared base
    pass — the slot-cached (doc_id, source, lang, n_chars) projection
    is materialized once and both requests' filter + aggregate branches
    read it, so the corpus is scanned once however many requests the
    batch carries.  Filters compile through the certified Query-DSL
    compiler; each section is a map-side-combined aggregate whose
    output is bucket-count-sized, and the union is row-count-bounded by
    the two bucket vocabularies."""
    from go_pulsar_elasticsearch_spark.functions.caching import cache_slot

    tune(spark)
    docs = t(spark, sf_dir, "documents")
    base = cache_slot(
        "msearch_base",
        docs.select("doc_id", "source", "lang", "n_chars"),
    )
    sections = []
    for tag, body in _MSEARCH_BODIES.items():
        key = body["bucket"]
        sections.append(
            search(base, body["query"])
            .groupBy(F.col(key).alias("key"))
            .agg(
                F.count("*").alias("doc_count"),
                (F.sum("n_chars").cast("double") / F.count("*")).alias(
                    "avg_chars"
                ),
            )
            .select(
                F.lit(tag).alias("request"), "key", "doc_count", "avg_chars"
            )
        )
    out = sections[0]
    for s in sections[1:]:
        out = out.unionAll(s)
    return out
