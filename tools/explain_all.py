"""Dump a physical-plan audit for every registered query -> PLANS.md.

Per query: shuffle-exchange count, join strategies, whether the scan has
pushed filters, whether aggregation is two-phase, and red flags
(CartesianProduct, row-at-a-time Python eval).  Run at the bench SF so
AQE/stats decisions match what bench.py measures.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import go_pulsar_elasticsearch_spark as gpe
from go_pulsar_elasticsearch_spark.plans.inspect import (
    formatted_plan,
    join_kinds,
    roundrobin_exchange_ids,
)
from go_pulsar_elasticsearch_spark.registry import QUERIES
from go_pulsar_elasticsearch_spark.session import get_spark

gpe.load_all()

SKIP = {"stream_ingest_e2e"}  # starts a real streaming job


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# Physical-plan audit (generated by tools/explain_all.py)",
        "",
        f"Scale: `{sf_dir}`.  Exchanges = shuffle exchanges in the plan",
        "(broadcast exchanges excluded, as is the round-robin",
        "scan-parallelism repair — an input-layout artifact, see",
        "catalog._repair_scan_parallelism).  Flags worth fixing: CARTESIAN,",
        "PYTHON-ROW (row-at-a-time UDF eval).  ArrowEval/mapInPandas are",
        "the intended Python path.",
        "",
        "Counting caveat: explain inlines a slot-cached builder frame's",
        "full lineage at EVERY reference, so multi-layer compositions",
        "(the graph QA pair's adjacency layer, referenced 3x; the crawl",
        "pipelines) over-count runtime exchanges — at execution each",
        "cached subtree's shuffles run once per query.  Runtime truth",
        "lives in the cold scale-gate timings (SCALE.md).",
        "",
        "| query | exchanges | joins | flags |",
        "|---|---|---|---|",
    ]
    for name, fn in sorted(QUERIES.items()):
        if name in SKIP:
            lines.append(f"| {name} | - | - | skipped (streaming job) |")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as e:
            lines.append(f"| {name} | ? | ? | ERROR {type(e).__name__} |")
            continue
        rr_ids = roundrobin_exchange_ids(plan)
        n_ex = sum(
            1
            for ln in plan.splitlines()
            if ln.strip().startswith("(")
            and " Exchange" in ln
            and "Broadcast" not in ln
            and not any(f"({i})" in ln for i in rr_ids)
        )
        joins = ",".join(sorted(set(join_kinds(df)))) or "-"
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            flags.append("PYTHON-ROW")
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan
                or "FlatMapGroupsInPandas" in plan
                or "FlatMapCoGroupsInPandas" in plan or "MapInArrow" in plan):
            flags.append("arrow-python")
        lines.append(f"| {name} | {n_ex} | {joins} | {', '.join(flags) or '-'} |")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
