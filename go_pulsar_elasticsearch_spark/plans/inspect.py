"""Plan inspection: assert the physical properties every operator is
designed for (SURVEY.md §4) instead of eyeballing .explain output.

Used by tests/test_plans.py and tools/explain_all.py:
- filters/projections reach the parquet scan (PushedFilters/ReadSchema)
- small dims broadcast (BroadcastHashJoin), big joins shuffle (SMJ/SHJ)
- aggregates are two-phase (partial HashAggregate before the exchange)
- top-k compiles to TakeOrderedAndProject, never a global Sort
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters mentions `fragment`."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols += [c.split(":")[0].strip() for c in inner.split(",") if ":" in c]
    return cols


def join_kinds(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    kinds = []
    for marker in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ):
        if marker in plan:
            kinds.append(marker)
    return kinds


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Two-phase agg: a HashAggregate below the exchange (map-side
    combine), recognizable by partial_ function prefixes."""
    return "partial_" in formatted_plan(df)


_REPAIR_ARGS_RE = re.compile(
    r"hashpartitioning\((?:o_orderkey|l_orderkey|user_id|doc_id|vec_id)"
    r"#\d+L?, \d+\), REPARTITION_BY_NUM",
    re.IGNORECASE,
)


def layout_repair_exchange_ids(plan: str) -> set[str]:
    """Node ids of catalog._repair_scan_parallelism's Exchange nodes in
    a formatted plan dump.  The repair is the engine's only explicit
    repartition-by-number (REPARTITION_BY_NUM shuffle origin — every
    algorithmic shuffle is ENSURE_REQUIREMENTS, and prefix.py's range
    repartition plans as RangePartitioning), always hashed on a fact
    table's natural key, so that pair of markers on the detail
    section's Arguments line identifies it."""
    lines = plan.splitlines()
    rr_ids: set[str] = set()
    for i, line in enumerate(lines):
        m = re.match(r"^\((\d+)\) Exchange\b", line)
        if not m:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if nxt.startswith("Arguments:"):
                if (
                    _REPAIR_ARGS_RE.search(nxt)
                    or "roundrobinpartitioning" in nxt.lower()
                ):
                    rr_ids.add(m.group(1))
                break
    return rr_ids


# backwards-compatible alias (pre-hash-repair name)
roundrobin_exchange_ids = layout_repair_exchange_ids


def exchange_count(df: DataFrame, include_layout_repair: bool = False) -> int:
    """Number of shuffle exchanges in the physical plan — the metric to
    minimize at 100 TB.

    By default the scan-parallelism repair (catalog._repair_scan_
    parallelism: the engine's only round-robin repartition, inserted
    solely when a single-row-group fixture file would pin every narrow
    chain to one core) is excluded: it is a property of the INPUT
    LAYOUT, vanishes on production multi-file datasets, and counting it
    would charge every operator one phantom shuffle.  Pass
    include_layout_repair=True for the raw count."""
    plan = formatted_plan(df)
    lines = plan.splitlines()
    # The formatted dump shows each node twice (tree + detail section);
    # the historical count keeps that 2x convention — thresholds in
    # tests are calibrated to it.
    rr_ids = layout_repair_exchange_ids(plan)
    return sum(
        1
        for line in lines
        if "Exchange" in line
        and "Reused" not in line
        and "BroadcastExchange" not in line
        and (
            include_layout_repair
            or not any(f"({i})" in line for i in rr_ids)
        )
    )
