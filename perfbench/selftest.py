"""Self-tests of the benchmark's own checks and input generation.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Each test must see its check fire:

- dropping one document from the ES stand-in makes the ingest check
  count a failed message;
- altering one row of a curation job's output makes the curation check
  count a failed job;
- one seed gives byte-identical inputs twice, and another seed gives
  different inputs.

Prints one line per test and exits non-zero if any test fails.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def test_seeded_inputs(work: str) -> None:
    import inputs

    a = inputs.encode(inputs.ingest_records(7, 2000))
    b = inputs.encode(inputs.ingest_records(7, 2000))
    c = inputs.encode(inputs.ingest_records(8, 2000))
    assert a == b, "same seed gave different ingest payloads"
    assert a != c, "different seeds gave the same ingest payloads"
    files = []
    for k, seed in enumerate((7, 7, 8)):
        d = os.path.join(work, f"corpus-{k}")
        inputs.write_corpus(inputs.corpus(seed, 500), d)
        with open(os.path.join(d, "documents.parquet"), "rb") as fh:
            files.append(fh.read())
    assert files[0] == files[1], "same seed gave different corpus files"
    assert files[0] != files[2], "different seeds gave the same corpus"


def test_dropped_doc_fails(spark, work: str) -> None:
    import ingest
    import inputs

    recs = inputs.ingest_records(3, 300)
    rig = ingest.Rig(spark, work, inputs.rejected(recs, ingest.REJECT_ONE_IN))
    try:
        rig.start()
        mids = rig.publish(inputs.encode(recs))
        assert rig.wait_resolved(mids, time.perf_counter() + 120)
        assert ingest.check(rig, recs, mids) == 0, "clean run failed"
        victim = next(r["uuid"] for r in recs
                      if r["uuid"] not in rig.es.fail_ids)
        with rig.es.lock:
            del rig.es.docs[victim]
        assert ingest.check(rig, recs, mids) == 1, "dropped doc not caught"
    finally:
        rig.close()


def test_altered_row_fails(spark, work: str) -> None:
    import curation
    import inputs

    sf_dir = os.path.join(work, "corpus")
    inputs.write_corpus(inputs.corpus(5, 400), sf_dir)
    expected = curation.oracle_rows(sf_dir)
    jobs = curation._Jobs(spark, sf_dir)
    clean = curation._measure(jobs, 0, expected, traced=False)
    assert clean["failed"] == 0, "clean curation run failed"
    honest = curation.output_rows

    def altered(df):
        rows = honest(df)
        doc_id, n_tokens, running = rows[0]
        return [(doc_id, n_tokens + 1, running)] + rows[1:]

    curation.output_rows = altered
    try:
        bad = curation._measure(jobs, 0, expected, traced=False)
    finally:
        curation.output_rows = honest
    assert bad["failed"] >= 1, "altered output row not caught"


def main() -> int:
    work = harness.isolate()
    failures = 0
    spark = None
    try:
        tests = [("seeded_inputs", lambda: test_seeded_inputs(work))]
        spark, _ = harness.start_spark()
        tests += [
            ("dropped_doc_fails", lambda: test_dropped_doc_fails(spark, work)),
            ("altered_row_fails", lambda: test_altered_row_fails(spark, work)),
        ]
        for name, fn in tests:
            try:
                fn()
                print(f"PASS {name}")
            except Exception as e:  # report every test, then fail
                failures += 1
                print(f"FAIL {name}: {e!r}")
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.cleanup(work)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
