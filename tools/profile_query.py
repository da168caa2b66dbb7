"""Time individual registered queries with the noop sink (guide §1.4).

Usage: python tools/profile_query.py [--reps N] [--explain DIR] query ...

Per query: builds the DataFrame fresh per rep (exactly like bench.py,
with every slot released before the rep and outside its timing, so no
rep reuses a frame an earlier rep or query cached), materializes with
the noop sink, prints per-rep seconds plus
min/median.  With --explain DIR, writes `<query>.txt` containing
`.explain("formatted")` output (the plan the judge audits).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import go_pulsar_elasticsearch_spark as gpe
from go_pulsar_elasticsearch_spark.functions.caching import release_all_slots
from go_pulsar_elasticsearch_spark.registry import QUERIES
from go_pulsar_elasticsearch_spark.session import get_spark

gpe.load_all()


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    explain_dir = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--explain":
            explain_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")

    # warm parquet footers/listing like bench.py does
    from go_pulsar_elasticsearch_spark.catalog import TABLES, t as load_t

    for tname in TABLES:
        load_t(spark, sf_dir, tname).count()

    for name in names:
        if name not in QUERIES:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        ts = []
        for r in range(reps):
            # slot-cold reps, like bench.py: outside the timed region
            release_all_slots()
            spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: reps={['%.3f' % x for x in ts]} "
            f"min={min(ts):.3f} med={statistics.median(ts):.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
