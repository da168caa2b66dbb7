"""Two-pass global prefix computations — the scale-correct replacement
for `Window.orderBy(...)` with no partition (which Spark executes as
Exchange SinglePartition + one-task global sort: the one construct that
cannot scale past a single executor core).

Shape (identical for sum / max / ntile):
  pass 1: `repartitionByRange` on the order columns.  RangePartitioner
          guarantees partition i holds strictly lower keys than i+1 and
          never splits equal keys across partitions, so a per-partition
          window (sort WITHIN partitions, fully parallel) computes the
          local prefix.
  pass 2: one row per partition (subtotal / max / count) becomes the
          exclusive prefix offset — the only ordered window runs over
          n_partitions rows, data-size-independent — broadcast back and
          combined (+ for sums/counts, greatest for max).

Callers MUST include a unique tie-break in `order_exprs` when exact
row order matters (row_number/ntile) — every certified query here does
(the oracles carry the same tie-break).

The input and the ranged frame are lazily persisted under
`slot_key + "_src"` and `slot_key` (`cache_slot`, functions/caching.py):
the range sampling and the shuffle both read the input, and both passes
read the ranged frame, so each is computed once — inside the caller's
own action, so building a prefix frame launches no Spark job.  Pass
distinct keys per call site.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.functions.caching import cache_slot

_N_PARTS = 16


def _ranged(df: DataFrame, order_exprs: list[Column], slot_key: str,
            n_parts: int) -> DataFrame:
    # cache the input too: repartitionByRange EXECUTES its child twice
    # (once to sample range boundaries, once to shuffle), and chained
    # prefix calls would otherwise re-run the whole upstream lineage
    # for every sampling pass
    src = cache_slot(slot_key + "_src", df)
    return cache_slot(
        slot_key,
        src.repartitionByRange(n_parts, *order_exprs).withColumn(
            "_pid", F.spark_partition_id()
        ),
    )


def _offsets(ranged: DataFrame, agg: Column, combine_from_zero) -> DataFrame:
    """(_pid, _off): exclusive prefix over per-partition aggregates.
    The ordered window here spans n_parts rows — bounded by design."""
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return (
        ranged.groupBy("_pid").agg(agg.alias("_pagg"))
        .withColumn("_off", combine_from_zero(off_w))
        .select("_pid", "_off")
    )


def global_running_sum(df: DataFrame, order_exprs: list[Column],
                       value_col: str, out_col: str, slot_key: str,
                       n_parts: int = _N_PARTS) -> DataFrame:
    """out = SUM(value) OVER (ORDER BY order_exprs ROWS UNBOUNDED
    PRECEDING) with no global sort anywhere in the plan."""
    ranged = _ranged(df, order_exprs, slot_key, n_parts)
    local_w = (
        Window.partitionBy("_pid").orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offsets = _offsets(
        ranged, F.sum(value_col),
        lambda w: F.coalesce(F.sum("_pagg").over(w), F.lit(0)),
    )
    return (
        ranged.withColumn("_loc", F.sum(value_col).over(local_w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_loc"))
        .drop("_pid", "_loc", "_off")
    )


def global_running_max(df: DataFrame, order_exprs: list[Column],
                       value_col: str, out_col: str, slot_key: str,
                       n_parts: int = _N_PARTS) -> DataFrame:
    """out = MAX(value) OVER (ORDER BY order_exprs ROWS UNBOUNDED
    PRECEDING) — prefix high-water mark (watermark diagnostics)."""
    ranged = _ranged(df, order_exprs, slot_key, n_parts)
    local_w = (
        Window.partitionBy("_pid").orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offsets = _offsets(
        ranged, F.max(value_col), lambda w: F.max("_pagg").over(w)
    )
    running = F.when(
        F.col("_off").isNull(), F.col("_loc")
    ).otherwise(F.greatest("_off", "_loc"))
    return (
        ranged.withColumn("_loc", F.max(value_col).over(local_w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, running)
        .drop("_pid", "_loc", "_off")
    )


def global_ntile_multi(df: DataFrame, id_col: str,
                       cuts: list[tuple[str, Column]], n: int,
                       slot_key: str,
                       n_parts: int = _N_PARTS) -> DataFrame:
    """K independent NTILE(n) cuts over the SAME frame in ONE ranged
    pass (round-4 VERDICT #4 — rfm_segmentation chained three
    global_ntile calls and paid the range-sample + shuffle + offsets
    machinery three times, 13 exchanges total).

    ``cuts`` is ``[(out_col, asc_key)]``: each cut is
    ``NTILE(n) OVER (ORDER BY asc_key ASC, id_col ASC)`` — express a
    DESC measure by negating it.  Keys are cast to double for the
    shared melt, so they must be numeric and order-preserving under
    that cast (exact for |ints| < 2^53 and for finite doubles).
    ``id_col`` must be unique (it is the tie-break AND the join-back
    key).

    Shape: melt to (id, measure, key) — K×rows but ONE
    repartitionByRange on (measure, key, id), so measure boundaries
    align with range boundaries and every cut gets correct local row
    numbers from a single shuffle; one (measure, pid)-sized offsets
    frame (≤ K·n_parts rows) broadcasts back; tiles pivot to one row
    per id and hash-join back onto the source (both sides already
    hash-partitioned by id from their groupBys)."""
    src = cache_slot(slot_key + "_src", df)
    arr = F.array(*[
        F.struct(F.lit(i).alias("_m"), k.cast("double").alias("_k"))
        for i, (_, k) in enumerate(cuts)
    ])
    melted = src.select(F.col(id_col), F.explode(arr).alias("_mk")).select(
        id_col, F.col("_mk._m").alias("_m"), F.col("_mk._k").alias("_k")
    )
    ranged = cache_slot(
        slot_key,
        melted.repartitionByRange(
            n_parts * len(cuts), "_m", "_k", id_col
        ).withColumn("_pid", F.spark_partition_id()),
    )
    local_w = Window.partitionBy("_m", "_pid").orderBy("_k", id_col)
    off_w = (
        Window.partitionBy("_m").orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_w = Window.partitionBy("_m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        ranged.groupBy("_m", "_pid").agg(F.count(F.lit(1)).alias("_pagg"))
        .withColumn("_off", F.coalesce(F.sum("_pagg").over(off_w), F.lit(0)))
        .withColumn("_N", F.sum("_pagg").over(tot_w))
        .select("_m", "_pid", "_off", "_N")
    )
    rn = F.col("_off") + F.col("_loc")
    q = F.floor(F.col("_N") / n)
    r = F.col("_N") % n
    big = q + 1
    tile = F.when(
        rn <= r * big, F.floor((rn - 1) / big) + 1
    ).otherwise(r + F.floor((rn - r * big - 1) / q) + 1)
    tiled = (
        ranged.withColumn("_loc", F.row_number().over(local_w))
        .join(F.broadcast(offsets), ["_m", "_pid"])
        .select(id_col, "_m", tile.alias("_tile"))
    )
    bands = tiled.groupBy(id_col).agg(*[
        F.max(F.when(F.col("_m") == i, F.col("_tile"))).alias(out)
        for i, (out, _) in enumerate(cuts)
    ])
    return src.join(bands, id_col)


def global_ntile(df: DataFrame, order_exprs: list[Column], n: int,
                 out_col: str, slot_key: str,
                 n_parts: int = _N_PARTS) -> DataFrame:
    """out = NTILE(n) OVER (ORDER BY order_exprs), via the two-pass row
    number + SQL-standard tile arithmetic: with N rows, the first N%n
    tiles hold ceil(N/n) rows, the rest floor(N/n) — exactly Spark's and
    DuckDB's ntile.  The total N comes from the same n_partitions-row
    offsets frame as the row numbers (no extra full pass over df)."""
    ranged = _ranged(df, order_exprs, slot_key, n_parts)
    local_w = Window.partitionBy("_pid").orderBy(*order_exprs)
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pagg"))
        .withColumn(
            "_off", F.coalesce(F.sum("_pagg").over(off_w), F.lit(0))
        )
        .withColumn(
            "_N",
            F.sum("_pagg").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select("_pid", "_off", "_N")
    )
    rn = F.col("_off") + F.col("_loc")
    q = F.floor(F.col("_N") / n)
    r = F.col("_N") % n
    big = q + 1  # tile size for the first r tiles
    tile = F.when(
        rn <= r * big, F.floor((rn - 1) / big) + 1
    ).otherwise(r + F.floor((rn - r * big - 1) / q) + 1)
    return (
        ranged.withColumn("_loc", F.row_number().over(local_w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, tile)
        .drop("_pid", "_loc", "_off", "_N")
    )
