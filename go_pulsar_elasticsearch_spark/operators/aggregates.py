"""Aggregation operators (SURVEY.md §2B).

All grouped aggregates rely on Catalyst's partial (map-side) aggregation:
HashAggregate(partial) -> shuffle on group keys -> HashAggregate(final),
so the shuffle carries one row per (partition × group), not per input
row — the property that makes these queries viable at 100 TB.

Certification numerics: double sums go through the exact-decimal trick
(functions/exact.py) so Spark and DuckDB agree bit-for-bit; stddev/var/
corr are computed from exact decimal moments with an identical final
double formula on both sides (engine-native Welford paths would differ in
the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import register_views, t
from go_pulsar_elasticsearch_spark.functions.caching import cache_slot
from go_pulsar_elasticsearch_spark.functions.exact import AVGD, SUMD, davg, dsum
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

# --------------------------------------------------------------------------
# agg_global
# --------------------------------------------------------------------------

_GLOBAL_ORACLE = f"""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
  {SUMD('l_quantity', 1)} AS sum_qty,
  {SUMD('l_extendedprice')} AS sum_price,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  {AVGD('l_extendedprice')} AS avg_price
FROM lineitem
"""


@register("agg_global", _GLOBAL_ORACLE)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate over lineitem."""
    tune(spark)
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_quantity", 1).alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice").alias("avg_price"),
    )


# --------------------------------------------------------------------------
# agg_grouped  (TPC-H Q1 shape)
# --------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {SUMD('l_quantity', 1)} AS sum_qty,
  {SUMD('l_extendedprice')} AS sum_base_price,
  {SUMD('l_extendedprice * (1 - l_discount)', 6, 18)} AS sum_disc_price,
  {SUMD('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 8, 18)} AS sum_charge,
  {AVGD('l_quantity', 1)} AS avg_qty,
  {AVGD('l_extendedprice')} AS avg_price,
  {AVGD('l_discount', 2, 18)} AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_grouped", _Q1_ORACLE)
def agg_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical partial-agg workload
    (reference has nothing comparable; this is §2B's agg centerpiece)."""
    tune(spark)
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # averages derive from the exact sums post-aggregation (same doubles
    # as davg, one decimal sum each instead of two)
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 1).alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price, 6, 18).alias("sum_disc_price"),
        dsum(charge, 8, 18).alias("sum_charge"),
        dsum("l_discount", 2, 18).alias("sum_disc_tmp"),
        F.count("*").alias("count_order"),
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / n).alias("avg_qty"),
        (F.col("sum_base_price") / n).alias("avg_price"),
        (F.col("sum_disc_tmp") / n).alias("avg_disc"),
        "count_order",
    )


# --------------------------------------------------------------------------
# agg_distinct
# --------------------------------------------------------------------------

_DISTINCT_ORACLE = f"""
SELECT
  o_orderstatus,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_price
FROM orders
GROUP BY o_orderstatus
"""


@register("agg_distinct", _DISTINCT_ORACLE)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT)/SUM(DISTINCT) — Catalyst expands to a two-phase
    aggregate (Expand + two HashAggregates), still fully distributed."""
    tune(spark)
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.sum_distinct(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_distinct_price"),
    )


# --------------------------------------------------------------------------
# agg_having
# --------------------------------------------------------------------------

_HAVING_ORACLE = f"""
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders, {SUMD('o_totalprice')} AS spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 12
"""


@register("agg_having", _HAVING_ORACLE)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    tune(spark)
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spent"))
        .filter(F.col("n_orders") > 12)
    )


# --------------------------------------------------------------------------
# agg_rollup / cube
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT
  CAST(year(o_orderdate) AS INTEGER) AS o_year,
  o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {SUMD('o_totalprice')} AS revenue,
  CAST(GROUPING(o_orderstatus) AS INTEGER) AS is_status_total
FROM orders
GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
"""


@register("agg_rollup", _ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy year -> status -> grand total; GROUPING() flags
    distinguish NULL-as-subtotal from NULL data."""
    tune(spark)
    o = t(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    return o.rollup("o_year", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        F.grouping("o_orderstatus").cast("int").alias("is_status_total"),
    )


_CUBE_ORACLE = f"""
SELECT
  n.n_name AS nation,
  c.c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  {SUMD('c.c_acctbal')} AS total_balance
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY CUBE (n.n_name, c.c_mktsegment)
"""


@register("agg_cube", _CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over nation×segment after a broadcast dim join."""
    tune(spark)
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .cube(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


# --------------------------------------------------------------------------
# agg_stats  (exact moments; engine-native Welford would not hash-match)
# --------------------------------------------------------------------------

_STATS_ORACLE = f"""
WITH m AS (
  SELECT
    l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n,
    {SUMD('l_extendedprice')} AS s1,
    {SUMD('l_extendedprice * l_extendedprice', 4, 18, 0)} AS s2,
    {SUMD('l_quantity', 1)} AS q1,
    {SUMD('l_quantity * l_quantity', 1, 18)} AS q2,
    {SUMD('l_extendedprice * l_quantity', 2, 18)} AS pq,
    CAST(MEDIAN(l_quantity) AS DOUBLE) AS median_qty
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  n,
  (s2 - s1 * s1 / n) / (n - 1) AS var_price,
  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_price,
  (pq - s1 * q1 / n) / sqrt((s2 - s1 * s1 / n) * (q2 - q1 * q1 / n)) AS corr_price_qty,
  median_qty
FROM m
"""


@register("agg_stats", _STATS_ORACLE)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev/corr from exact decimal moments, plus exact
    median (l_quantity is integral so interpolation is exact).  The final
    double formula is written identically on both engines -> bit-exact."""
    tune(spark)
    li = t(spark, sf_dir, "lineitem")
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(price).alias("s1"),
        # wide=True: SUM(price^2)*10^4 is ~2.2e19 at sf0.1 — past the
        # long fast path's 2^63 ceiling — so keep the decimal accumulator
        dsum(price * price, 4, 18, 0, wide=True).alias("s2"),
        dsum(qty, 1).alias("q1"),
        dsum(qty * qty, 1, 18).alias("q2"),
        dsum(price * qty, 2, 18).alias("pq"),
        F.median(qty).cast("double").alias("median_qty"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    q1, q2, pq = F.col("q1"), F.col("q2"), F.col("pq")
    var_price = (s2 - s1 * s1 / n) / (n - 1)
    return m.select(
        "l_returnflag",
        "n",
        var_price.alias("var_price"),
        F.sqrt(var_price).alias("stddev_price"),
        ((pq - s1 * q1 / n) / F.sqrt((s2 - s1 * s1 / n) * (q2 - q1 * q1 / n))).alias(
            "corr_price_qty"
        ),
        "median_qty",
    )


# --------------------------------------------------------------------------
# agg_approx  (HLL — approximate, rows-only check by design)
# --------------------------------------------------------------------------


@register("agg_approx")  # no oracle: approximate result, hash can't match
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) + approx percentile.  At 100 TB
    these are the only viable forms of distinct-count / percentile: fixed
    sketch memory per group, single shuffle, no sort."""
    tune(spark)
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# composite_agg_page  (ES composite aggregation: keyset pagination)
# --------------------------------------------------------------------------

_PAGE_SIZE = 20
_AFTER_TYPE = "error"
_AFTER_DAY = "2024-01-10 00:00:00"

_COMPOSITE_ORACLE = f"""
SELECT event_type, day, CAST(n AS BIGINT) AS n
FROM (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
WHERE event_type > '{_AFTER_TYPE}'
   OR (event_type = '{_AFTER_TYPE}' AND day > TIMESTAMP '{_AFTER_DAY}')
ORDER BY event_type, day
LIMIT {_PAGE_SIZE}
"""


@register("composite_agg_page", _COMPOSITE_ORACLE)
def composite_agg_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `composite` aggregation page: buckets keyed (event_type, day),
    resumed from an `after_key` by keyset predicate, one page of 20.
    The after-key filter sits ABOVE the agg but Catalyst still prunes via
    partial agg + TakeOrderedAndProject — pagination never re-scans
    already-served buckets' raw rows at the sort stage, and the keyset
    (unlike OFFSET) costs the same for page 1 and page 1000."""
    tune(spark)
    ev = t(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    after = (F.col("event_type") > _AFTER_TYPE) | (
        (F.col("event_type") == _AFTER_TYPE)
        & (F.col("day") > F.lit(_AFTER_DAY).cast("timestamp"))
    )
    return (
        buckets.filter(after)
        .orderBy("event_type", "day")
        .limit(_PAGE_SIZE)
    )


# --------------------------------------------------------------------------
# rfm_segmentation  (recency/frequency/monetary quartile bands)
# --------------------------------------------------------------------------

_RFM_ASOF = "1998-08-01 00:00:00"

_RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey AS custkey,
    date_diff('day', CAST(max(o_orderdate) AS DATE),
              CAST(TIMESTAMP '{_RFM_ASOF}' AS DATE)) AS recency_days,
    COUNT(*) AS frequency,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT CAST(custkey AS BIGINT) AS custkey,
  CAST(recency_days AS INTEGER) AS recency_days,
  CAST(frequency AS BIGINT) AS frequency,
  monetary,
  CAST(ntile(4) OVER (ORDER BY recency_days ASC, custkey) AS INTEGER) AS r_band,
  CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS INTEGER) AS f_band,
  CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INTEGER) AS m_band
FROM per_cust
"""


@register("rfm_segmentation", _RFM_ORACLE)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days before the
    as-of date), order frequency and exact monetary total, each cut into
    quartile bands (ntile with a deterministic custkey tie-break).  One
    customer-keyed aggregation; all three quartile cuts share ONE
    two-pass ranged ntile (functions/prefix.py global_ntile_multi —
    the measures melt into a single range shuffle on (measure, key),
    DESC measures negated) so no band requires a single-partition sort
    and the range machinery is paid once, not three times."""
    from go_pulsar_elasticsearch_spark.functions.exact import dsum
    from go_pulsar_elasticsearch_spark.functions.prefix import (
        global_ntile_multi,
    )

    tune(spark)
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_RFM_ASOF).cast("timestamp").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice", scale=2).alias("monetary"),
    )
    banded = global_ntile_multi(
        per_cust,
        "custkey",
        [
            ("r_band", F.col("recency_days")),
            ("f_band", -F.col("frequency")),
            ("m_band", -F.col("monetary")),
        ],
        4,
        "rfm_bands",
    )
    return banded.select(
        "custkey",
        F.col("recency_days").cast("int").alias("recency_days"),
        "frequency",
        "monetary",
        F.col("r_band").cast("int").alias("r_band"),
        F.col("f_band").cast("int").alias("f_band"),
        F.col("m_band").cast("int").alias("m_band"),
    )


# --------------------------------------------------------------------------
# agg_mode  (deterministic modal value per group)
# --------------------------------------------------------------------------

_MODE_ORACLE = """
WITH counted AS (
  SELECT lang, source, COUNT(*) AS n_docs
  FROM documents GROUP BY lang, source
), ranked AS (
  SELECT lang, source, n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY n_docs DESC, source ASC
         ) AS rk
  FROM counted
)
SELECT lang, source AS modal_source, n_docs AS modal_count
FROM ranked WHERE rk = 1
"""


@register("agg_mode", _MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (the most frequent source per language),
    spelled as count + rank rather than Spark's `mode()` aggregate:
    `mode()` leaves ties unspecified (either engine may pick a
    different winner), while count -> row_number with a (count DESC,
    value ASC) total order is deterministic and therefore certifiable.

    Scale shape: the groupBy collapses the corpus to |lang x source|
    rows map-side-combined; the rank window runs over that collapsed
    frame, partitioned by lang — never over raw rows."""
    tune(spark)
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    counted = docs.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"), F.asc("source"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "lang",
            F.col("source").alias("modal_source"),
            F.col("n_docs").alias("modal_count"),
        )
    )


# --------------------------------------------------------------------------
# sketch_union_hll  (mergeable HLL sketches: partial per group, union up)
# --------------------------------------------------------------------------


@register("sketch_union_hll")  # no oracle: sketch estimates (error-bound
# asserted vs exact distincts in tests/test_udf_surfaces_r4.py)
def sketch_union_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches (Datasketches HLL, Spark 4
    `hll_sketch_agg`/`hll_union_agg`): distinct users per event type as
    REUSABLE sketch values, then one union-merge for the corpus-wide
    distinct — without rescanning the data.  This is the 100 TB
    incremental-analytics shape: persist per-partition/per-day sketch
    columns once, answer any cross-slice distinct by merging KB-sized
    sketches instead of re-shuffling raw ids (approx_count_distinct
    gives one number; a stored sketch composes).

    Rows-only by design (estimates are sketch-seed-dependent, no DuckDB
    twin); the error bound vs exact distincts is pytest-asserted."""
    tune(spark)
    ev = t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_events"),
    )
    per_type = sk.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
        "n_events",
    )
    merged = (
        sk.agg(
            F.hll_union_agg("sk").alias("u"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            F.lit("ALL").alias("event_type"),
            F.hll_sketch_estimate("u").cast("long").alias("est_users"),
            "n_events",
        )
    )
    return per_type.unionByName(merged)


# --------------------------------------------------------------------------
# agg_bitmap_distinct  (bitmap aggregates: EXACT mergeable distinct)
# --------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""

_BITMAP_SPARK_SQL = """
SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_users
FROM (
  SELECT event_type,
         bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))
           AS cnt
  FROM events
  GROUP BY event_type, bitmap_bucket_number(user_id)
)
GROUP BY event_type
"""


@register("agg_bitmap_distinct", _BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5
    bitmap_construct_agg / bitmap_count): ids map to a (bucket, bit)
    position, each (group, bucket) builds a fixed-width bitmap, and the
    per-bucket popcounts sum to the exact distinct — certified against
    the plain COUNT(DISTINCT).

    This is the exact complement to sketch_union_hll: bitmaps are
    MERGEABLE like sketches (bitmap_or_agg composes stored partials
    across slices/days with zero rescan) but lossless, at the cost of
    memory proportional to the id range per bucket rather than a fixed
    sketch size.  At 100 TB: the classic two-level distinct — the
    (group, bucket) pre-aggregation shards the heavy groups across the
    cluster, so no single task materializes a whole group's id set,
    and the final shuffle carries one long per (group, bucket)."""
    tune(spark)
    register_views(spark, sf_dir)
    return spark.sql(_BITMAP_SPARK_SQL)


# --------------------------------------------------------------------------
# incremental_agg_merge  (stored daily partials merged without rescan)
# --------------------------------------------------------------------------

_INC_MERGE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
GROUP BY event_type
"""


@register("incremental_agg_merge", _INC_MERGE_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern (TimescaleDB hypertable rollups /
    Druid segments / ES rollup jobs): the raw stream is folded once into
    per-(day, type) PARTIAL states — count, exact scaled-long sum, min,
    max — and every later query MERGES stored partials instead of
    rescanning raw events.  Here the two-week answer is assembled purely
    from the daily partials (the window filter prunes on the partial's
    day column) and is hash-certified against the direct scan of the raw
    table, proving partial-fold + merge computes the identical answer.

    Exactness across the two-level fold: the per-row double is cast to
    DECIMAL(18,2) (the shared rounding rule, functions/exact.py) and
    carried as its unscaled LONG, so partial sums and their merge are
    associative integer adds — any day/partition split yields the same
    bits.  avg is one IEEE division of two exact values, identical in
    both engines.

    At 100 TB: partials are |days x types| rows — the merge query's cost
    is independent of raw volume, the map-side fold is the only pass
    over the data, and day-pruned merges answer any calendar window with
    zero rescan.  New days append new partials; `bitmap_or_agg` /
    `hll_union_agg` extend the same shape to distinct counts (see
    agg_bitmap_distinct / sketch_union_hll)."""
    tune(spark)
    from go_pulsar_elasticsearch_spark.functions.exact import scaled_long

    ev = t(spark, sf_dir, "events")
    scaled = scaled_long("value", scale=2)
    # stage 1: the stored rollup — one fold over raw, day granularity
    partials = (
        ev.groupBy(
            F.to_date("ts").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("p_cnt"),
            F.sum(scaled).alias("p_sum_scaled"),
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
        )
    )
    # stage 2: merge ONLY the pruned partials — never touches raw again
    merged = (
        partials.filter(
            (F.col("day") >= F.lit("2024-01-08").cast("date"))
            & (F.col("day") < F.lit("2024-01-22").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.sum("p_cnt").alias("n_events"),
            F.sum("p_sum_scaled").alias("m_sum_scaled"),
            F.min("p_min").alias("min_value"),
            F.max("p_max").alias("max_value"),
        )
    )
    total = F.col("m_sum_scaled").cast("double") / F.lit(100.0)
    return merged.select(
        "event_type",
        "n_events",
        total.alias("total_value"),
        "min_value",
        "max_value",
        (total / F.col("n_events")).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# histogram_quantile_merge  (mergeable approximate quantiles, certified)
# --------------------------------------------------------------------------

_HQM_BINS = 256

_HQM_ORACLE = f"""
WITH mm AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         (MAX(value) - MIN(value)) / {_HQM_BINS}.0 AS bw
  FROM events
), binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR((value - vmin) /
                          (CASE WHEN bw = 0 THEN 1.0 ELSE bw END))
                    AS BIGINT),
               {_HQM_BINS - 1}) AS bin
  FROM events, mm
), counts AS (
  SELECT event_type, bin, COUNT(*) AS cnt
  FROM binned GROUP BY event_type, bin
), cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum_cnt,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM counts
), picked AS (
  SELECT event_type,
         CAST(MAX(total) AS BIGINT) AS n_events,
         MIN(CASE WHEN cum_cnt >= 0.5 * total THEN bin END) AS bin50,
         MIN(CASE WHEN cum_cnt >= 0.9 * total THEN bin END) AS bin90
  FROM cum GROUP BY event_type
)
SELECT event_type, n_events,
       vmin + (bin50 + 0.5) * bw AS p50_est,
       vmin + (bin90 + 0.5) * bw AS p90_est
FROM picked, mm
"""


@register("histogram_quantile_merge", _HQM_ORACLE)
def histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles: per-(day, type) fixed-width
    256-bin histograms are the stored partial state; merging partials
    (integer adds per bin) and walking the cumulative distribution
    yields p50/p90 estimates with error <= one bin width — the
    deterministic, certifiable stand-in for percentile_approx, whose
    internal GK sketch is engine-private and cannot hash-match an
    oracle.  Completes the mergeable-state trio with
    agg_bitmap_distinct (exact distinct) and sketch_union_hll
    (approximate distinct).

    Cross-engine exactness: bin edges derive from the global min/max in
    ONE IEEE expression ((v - vmin) / bw, floor'd) both engines share;
    bin counts are integers; the estimate is one multiply-add on
    identical doubles — so even the *approximate* answer is bit-stable
    and hash-certified (the oracle merges day-less counts; integer adds
    are associative, so the day split cannot change any bin).

    At 100 TB: partial state is |days x types x 256| longs; the raw
    scan folds map-side into that state, min/max is a prior all-reduce
    over the same scan (or maintained partial), and quantile extraction
    runs over the bounded merged histogram — never a global sort, never
    percentile state proportional to data."""
    tune(spark)
    ev = t(spark, sf_dir, "events")
    mm = ev.agg(
        F.min("value").alias("vmin"),
        ((F.max("value") - F.min("value")) / F.lit(float(_HQM_BINS))).alias(
            "bw"
        ),
    )
    # bw == 0 (all values equal) would make the shared bin expression
    # divide 0.0/0.0: NULL in DuckDB, NaN->number through Spark's
    # floor/least — divide by 1 instead so BOTH engines bin to 0 and the
    # estimate degrades to exactly vmin
    bw_safe = F.when(F.col("bw") == 0, F.lit(1.0)).otherwise(F.col("bw"))
    binned = ev.crossJoin(F.broadcast(mm)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.least(
            F.floor((F.col("value") - F.col("vmin")) / bw_safe),
            F.lit(_HQM_BINS - 1),
        ).alias("bin"),
    )
    # stage 1: the stored partial — per-(day, type) histogram
    partials = binned.groupBy("day", "event_type", "bin").agg(
        F.count("*").alias("p_cnt")
    )
    # stage 2: merge partials across days (integer adds per bin)
    counts = partials.groupBy("event_type", "bin").agg(
        F.sum("p_cnt").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum_cnt"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    picked = cum.groupBy("event_type").agg(
        F.max("total").alias("n_events"),
        F.min(
            F.when(
                F.col("cum_cnt") >= F.lit(0.5) * F.col("total"), F.col("bin")
            )
        ).alias("bin50"),
        F.min(
            F.when(
                F.col("cum_cnt") >= F.lit(0.9) * F.col("total"), F.col("bin")
            )
        ).alias("bin90"),
    )
    return picked.crossJoin(F.broadcast(mm)).select(
        "event_type",
        "n_events",
        (F.col("vmin") + (F.col("bin50") + F.lit(0.5)) * F.col("bw")).alias(
            "p50_est"
        ),
        (F.col("vmin") + (F.col("bin90") + F.lit(0.5)) * F.col("bw")).alias(
            "p90_est"
        ),
    )


# --------------------------------------------------------------------------
# agg_count_min  (mergeable frequency sketch: JVM partials, Python merge)
# --------------------------------------------------------------------------

_CMS_EPS = 0.005
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_PROBE_IDS = (1, 7, 42)


@register("agg_count_min")  # rows-only: sketch estimates (merged-partials
# == single-pass sketch and eps bound asserted in tests/test_cms.py)
def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequency sketch — the point-lookup complement to the
    distinct trio: "how often does item X occur per group" without a
    per-item group-by.  Per-(day, type) partial sketches are built by
    the JVM aggregate ``count_min_sketch`` (whole-stage, map-side
    combined); the per-type merge then happens in executor-side Python
    (functions/cms.py — the serialized form carries its own hash
    coefficients, so merging is element-wise table addition), and the
    merged sketch is probed for fixed ids.  Deterministic end to end:
    same (eps, confidence, seed) literals at every site -> identical
    hashA -> the merged estimate equals the single-pass JVM sketch
    bit-for-bit (asserted in tests/test_cms.py, alongside the classic
    ``exact <= est <= exact + eps*total`` CMS guarantee).

    At 100 TB: the raw scan folds once into |days x types| sketches of
    fixed size (depth 7 x width 400 longs at these literals — ~22 KB
    each, independent of data volume); the merge stage moves and adds
    only that state, and any later day-windowed frequency question is
    answered from stored partials with zero rescan — exactly the
    incremental_agg_merge shape with a sketch as the partial."""
    import pandas as pd

    from go_pulsar_elasticsearch_spark.functions import cms

    tune(spark)
    ev = t(spark, sf_dir, "events")
    partials = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count_min_sketch(
            "user_id",
            F.lit(_CMS_EPS),
            F.lit(_CMS_CONF),
            F.lit(_CMS_SEED),
        ).alias("sk")
    )
    probe_ids = list(_CMS_PROBE_IDS)

    def merge_probe(pdf: "pd.DataFrame") -> "pd.DataFrame":
        merged = cms.merge([cms.parse(bytes(x)) for x in pdf["sk"]])
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "user_id": probe_ids,
                "est_count": [
                    cms.estimate_long(merged, pid) for pid in probe_ids
                ],
                "n_events": merged.total,
            }
        )

    return partials.groupBy("event_type").applyInPandas(
        merge_probe,
        "event_type string, user_id bigint, est_count bigint, "
        "n_events bigint",
    )


# --------------------------------------------------------------------------
# basket_lift  (market-basket affinity: brand-pair co-occurrence within
# orders, support + lift — the classic retail association query, run
# here over the largest fixture table)
# --------------------------------------------------------------------------

_BASKET_MIN_CO = 3

_BASKET_ORACLE = f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
  SELECT COUNT(DISTINCT ok) AS n_orders FROM ob
), bc AS (
  SELECT b, COUNT(*) AS cnt FROM ob GROUP BY b
), pairs AS (
  SELECT a.b AS brand1, c.b AS brand2, COUNT(*) AS co
  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
  GROUP BY 1, 2
)
SELECT p.brand1, p.brand2,
       CAST(p.co AS BIGINT) AS co_orders,
       round(CAST(p.co * n.n_orders AS DOUBLE)
             / CAST(b1.cnt * b2.cnt AS DOUBLE), 6) AS lift
FROM pairs p
JOIN bc b1 ON b1.b = p.brand1
JOIN bc b2 ON b2.b = p.brand2
CROSS JOIN n
WHERE p.co >= {_BASKET_MIN_CO}
"""


@register("basket_lift", _BASKET_ORACLE)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand pairs bought together more than chance predicts: lift =
    P(b1,b2) / (P(b1)·P(b2)) over distinct (order, brand) incidence.

    100 TB shape: the incidence frame is ONE distinct shuffle on
    (orderkey, brand); the pair join is orderkey-co-partitioned with
    fan-out bounded by basket width (≤ 7 lineitems per order in this
    schema, so ≤ C(7,2) pairs each — never quadratic in the table);
    brand marginals are a broadcast-sized dim joined back.  lift is a
    single IEEE division of exact int64 products (both < 2^53), so the
    double hash-matches DuckDB bit-for-bit; round-6 per house rule."""
    tune(spark)
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    # NOT checkpointed (r8 opt, measured): the n_orders count below
    # already forces the persist to materialize; downstream consumers
    # (bc, baskets) read the cache.
    ob = cache_slot("basket_ob", ob)
    n_orders = ob.select("ok").distinct().count()  # one scalar, driver-safe
    bc = ob.groupBy("b").agg(F.count("*").alias("cnt"))
    # r9 (VERDICT item 7): the pair SELF-JOIN on ok is gone.  Collect
    # each order's distinct brands into ONE sorted array (basket width
    # is bounded by the schema, <= 7 lineitems, so the array is tiny)
    # and expand the i<j pairs map-side — sorted ascending makes
    # (bs[i], bs[j]) with i<j exactly the a.b < c.b pairs of the join
    # form.  This removes the join whose strategy flip-flopped on the
    # persist's size estimate (the r8 revert note): one exchange on ok
    # replaces two join inputs + the broadcast-or-SMJ decision, and the
    # shape is scale-safe — at 100 TB the incidence frame is data-sized
    # and was never legally broadcastable anyway (guide §2.4/§3.1).
    baskets = ob.groupBy("ok").agg(F.sort_array(F.collect_set("b")).alias("bs"))
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(bs, (x, i) ->"
                        " transform(slice(bs, i + 2, size(bs) - i - 1),"
                        " y -> struct(x AS brand1, y AS brand2)))"
                    )
                )
            ).alias("p")
        )
        .select("p.brand1", "p.brand2")
        .groupBy("brand1", "brand2")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= _BASKET_MIN_CO)
    )
    b1 = bc.select(F.col("b").alias("brand1"), F.col("cnt").alias("c1"))
    b2 = bc.select(F.col("b").alias("brand2"), F.col("cnt").alias("c2"))
    lift = F.round(
        (F.col("co") * F.lit(n_orders)).cast("double")
        / (F.col("c1") * F.col("c2")).cast("double"),
        6,
    )
    return (
        pairs.join(F.broadcast(b1), "brand1")
        .join(F.broadcast(b2), "brand2")
        .select("brand1", "brand2", F.col("co").alias("co_orders"),
                lift.alias("lift"))
    )
