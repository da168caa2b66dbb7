"""Interactive profiling helpers (imported from the tmux REPL)."""
import time

SF = "/root/testdata/sf0.1"


def setup():
    import go_pulsar_elasticsearch_spark as gpe
    from go_pulsar_elasticsearch_spark.catalog import TABLES, t as load_t
    from go_pulsar_elasticsearch_spark.session import get_spark

    gpe.load_all()
    spark = get_spark("prof")
    spark.sparkContext.setLogLevel("ERROR")
    for tn in TABLES:
        load_t(spark, SF, tn).count()
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def rep(fn, n=4, label=""):
    """Time ``n`` slot-cold reps of ``fn``: every slot is released
    before each rep, outside the timed region (like bench.py)."""
    from go_pulsar_elasticsearch_spark.functions.caching import (
        release_all_slots,
    )

    ts = []
    for _ in range(n):
        release_all_slots()
        t0 = time.time()
        noop(fn())
        ts.append(round(time.time() - t0, 3))
    print(label, ts, "min", min(ts), flush=True)
    return min(ts)


def repq(spark, name, n=4):
    from go_pulsar_elasticsearch_spark.registry import QUERIES

    return rep(lambda: QUERIES[name](spark, SF), n, label=name)
