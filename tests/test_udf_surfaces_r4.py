"""Round-4 continuation surfaces: cogrouped applyInPandas, mapInArrow,
the manual runtime prefilter join, and the LISTAGG/GROUP BY ALL SQL
forms.  Each already has a hash-certified DuckDB oracle; these tests pin
the semantics the oracle can't see — plan shape (pushdown, Arrow nodes)
and edge cases absent from the fixture data.
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark import load_all
from go_pulsar_elasticsearch_spark.registry import QUERIES

load_all()


def _formatted(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# --------------------------------------------------------------------------
# udf_cogrouped_asof
# --------------------------------------------------------------------------


def test_cogrouped_asof_equals_window_form(spark, sf_dir):
    """The cogroup plan and the window plan are two implementations of
    one operator: identical rows, identical nulls."""
    cg = QUERIES["udf_cogrouped_asof"](spark, sf_dir).toPandas()
    win = QUERIES["events_asof_join"](spark, sf_dir).toPandas()
    key = ["user_id", "purchase_id"]
    cg = cg.sort_values(key).reset_index(drop=True).astype("object")
    win = win.sort_values(key).reset_index(drop=True).astype("object")
    assert len(cg) == len(win) > 0
    for col in ("purchase_ms", "asof_view_ms", "ms_since_view"):
        left = [None if v != v or v is None else int(v) for v in cg[col]]
        right = [None if v != v or v is None else int(v) for v in win[col]]
        assert left == right, col


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (
                eid,
                datetime.datetime(2024, 1, 1, 0, 0, ms // 1000, (ms % 1000) * 1000),
                uid,
                etype,
            )
            for (eid, ms, uid, etype) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_cogrouped_asof_edge_cases(spark, tmp_path, monkeypatch):
    """Purchases with no views at all -> NULL match; view at the SAME ts
    counts only when its event_id is smaller (the strict (ts, event_id)
    order); views-only users emit nothing."""
    from go_pulsar_elasticsearch_spark.llm import udfs as m

    ev = _mk_events(
        spark,
        [
            # user 1: view at t=1000, purchase at t=5000 -> matches
            (10, 1000, 1, "view"),
            (11, 5000, 1, "purchase"),
            # user 2: purchase only -> NULL
            (20, 3000, 2, "purchase"),
            # user 3: tie on ts — view id 31 > purchase id 30: NOT preceding
            (31, 4000, 3, "view"),
            (30, 4000, 3, "purchase"),
            # user 4: tie on ts — view id 40 < purchase id 41: preceding
            (40, 6000, 4, "view"),
            (41, 6000, 4, "purchase"),
            # user 5: views only -> no output row
            (50, 7000, 5, "view"),
        ],
    )
    monkeypatch.setattr(
        m, "t", lambda _spark, _sf, _name: ev, raising=True
    )
    out = {
        r["purchase_id"]: r.asDict()
        for r in m.udf_cogrouped_asof(spark, "unused").collect()
    }
    base = 1704067200000  # 2024-01-01T00:00:00Z
    assert set(out) == {11, 20, 30, 41}
    assert out[11]["asof_view_ms"] == base + 1000
    assert out[11]["ms_since_view"] == 4000
    assert out[20]["asof_view_ms"] is None
    assert out[20]["ms_since_view"] is None
    assert out[30]["asof_view_ms"] is None  # same-ts later id loses
    assert out[41]["asof_view_ms"] == base + 6000  # same-ts smaller id wins


def test_asof_merge_matches_bruteforce():
    """The single-lexsort _asof_merge (r9 vectorization) against a
    per-purchase brute-force scan on randomized data: same users, heavy
    ts collisions (so the strict (ts, event_id) tie rule is exercised),
    users with views only / purchases only / neither."""
    import numpy as np
    import pandas as pd

    from go_pulsar_elasticsearch_spark.llm.udfs import _asof_merge

    rng = np.random.default_rng(42)
    n_p, n_v = 400, 500
    base = datetime.datetime(2024, 1, 1)

    def mk(n, id0):
        return pd.DataFrame(
            {
                "user_id": rng.integers(0, 40, n),
                "event_id": np.arange(id0, id0 + n, dtype="int64"),
                # coarse ms grid -> plenty of exact-ts ties
                "ts": pd.Series(
                    [
                        base + datetime.timedelta(milliseconds=int(m))
                        for m in rng.integers(0, 50, n) * 1000
                    ],
                    dtype="datetime64[us]",
                ),
            }
        )

    purchases, views = mk(n_p, 1_000), mk(n_v, 100_000)
    out = _asof_merge(purchases, views).set_index("purchase_id")
    assert len(out) == n_p
    v_ms = (
        views["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
    ).to_numpy()
    p_ms_all = (
        purchases["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
    ).to_numpy()
    for i in range(n_p):
        u, pid, pms = (
            int(purchases["user_id"].iloc[i]),
            int(purchases["event_id"].iloc[i]),
            int(p_ms_all[i]),
        )
        best = None
        for j in range(n_v):
            if int(views["user_id"].iloc[j]) != u:
                continue
            key = (int(v_ms[j]), int(views["event_id"].iloc[j]))
            if key < (pms, pid) and (best is None or key > best):
                best = key
        row = out.loc[pid]
        assert int(row["purchase_ms"]) == pms
        if best is None:
            assert row["asof_view_ms"] is pd.NA
            assert row["ms_since_view"] is pd.NA
        else:
            assert int(row["asof_view_ms"]) == best[0]
            assert int(row["ms_since_view"]) == pms - best[0]


def test_asof_merge_full_key_tie_is_not_preceding():
    """A view whose (user_id, ts, event_id) equals the purchase's is not
    strictly preceding it: the purchase keeps the earlier view."""
    import pandas as pd

    from go_pulsar_elasticsearch_spark.llm.udfs import _asof_merge

    def frame(rows):
        return pd.DataFrame(
            {
                "user_id": [u for u, _, _ in rows],
                "event_id": [e for _, e, _ in rows],
                "ts": pd.Series(
                    [datetime.datetime(2024, 1, 1, 0, 0, s) for _, _, s in rows],
                    dtype="datetime64[us]",
                ),
            }
        )

    base = 1704067200000  # 2024-01-01T00:00:00Z
    out = _asof_merge(
        frame([(1, 5, 10)]), frame([(1, 3, 2), (1, 5, 10)])
    ).set_index("purchase_id")
    assert int(out.loc[5, "asof_view_ms"]) == base + 2000
    assert int(out.loc[5, "ms_since_view"]) == 8000


def test_cogrouped_asof_plan_is_cogroup(spark, sf_dir):
    plan = _formatted(spark, QUERIES["udf_cogrouped_asof"](spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# udf_map_in_arrow
# --------------------------------------------------------------------------


def test_map_in_arrow_matches_sql_twin(spark, sf_dir):
    out = QUERIES["udf_map_in_arrow"](spark, sf_dir)
    twin = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.size(F.split("text", " ", -1)).cast("long").alias("n_words"),
        )
    )
    assert out.exceptAll(twin).count() == 0
    assert twin.exceptAll(out).count() == 0


def test_map_in_arrow_plan_node(spark, sf_dir):
    plan = _formatted(spark, QUERIES["udf_map_in_arrow"](spark, sf_dir))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# join_runtime_prefilter
# --------------------------------------------------------------------------


def test_runtime_prefilter_pushes_in_list(spark, sf_dir):
    """The collected dim keys must reach the fact parquet scan as a
    pushed In() filter — through the scan-parallelism repair's
    repartition (predicates push through RepartitionByExpression)."""
    plan = _formatted(spark, QUERIES["join_runtime_prefilter"](spark, sf_dir))
    assert "In(l_partkey, [" in plan


def test_runtime_prefilter_minmax_fallback(spark, sf_dir, monkeypatch):
    """Beyond the key cap the op degrades to [min,max] bounds — still
    pushed, still result-identical."""
    from go_pulsar_elasticsearch_spark.operators import joins as m

    baseline = {
        tuple(r)
        for r in m.join_runtime_prefilter(spark, sf_dir).collect()
    }
    monkeypatch.setattr(m, "_PREFILTER_MAX_KEYS", 1, raising=True)
    df = m.join_runtime_prefilter(spark, sf_dir)
    plan = _formatted(spark, df)
    assert "In(l_partkey, [" not in plan
    assert "GreaterThanOrEqual(l_partkey" in plan
    assert "LessThanOrEqual(l_partkey" in plan
    assert {tuple(r) for r in df.collect()} == baseline


def test_runtime_prefilter_empty_dim(spark, sf_dir, monkeypatch):
    """An empty dim side must yield an empty result, not a full scan."""
    from go_pulsar_elasticsearch_spark.operators import joins as m

    orig_t = m.t

    def fake_t(s, d, name):
        df = orig_t(s, d, name)
        if name == "part":
            return df.filter(F.lit(False))
        return df

    monkeypatch.setattr(m, "t", fake_t, raising=True)
    assert m.join_runtime_prefilter(spark, sf_dir).count() == 0


# --------------------------------------------------------------------------
# agg_listagg / sql_surface_group_by_all
# --------------------------------------------------------------------------


def test_listagg_is_sorted_and_distinct(spark, sf_dir):
    rows = QUERIES["agg_listagg"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        parts = r["segments"].split(",")
        assert parts == sorted(parts)
        assert len(parts) == len(set(parts))


def test_group_by_all_matches_explicit(spark, sf_dir):
    implicit = QUERIES["sql_surface_group_by_all"](spark, sf_dir)
    explicit = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    assert implicit.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(implicit).count() == 0


# --------------------------------------------------------------------------
# sketch_union_hll
# --------------------------------------------------------------------------


def test_sketch_union_hll_error_bound(spark, sf_dir):
    """HLL estimates (per-type and union-merged) within 5% of exact
    distinct counts; the merged row must estimate the distinct of the
    UNION of users, not the sum of per-type distincts."""
    rows = {
        r["event_type"]: r["est_users"]
        for r in QUERIES["sketch_union_hll"](spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact_all = ev.select("user_id").distinct().count()
    exact_per = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert abs(rows["ALL"] - exact_all) <= max(2, 0.05 * exact_all)
    for etype, exact in exact_per.items():
        assert abs(rows[etype] - exact) <= max(2, 0.05 * exact), etype
    # users overlap across types: union-distinct must be far below the sum
    assert rows["ALL"] < sum(v for k, v in rows.items() if k != "ALL")
