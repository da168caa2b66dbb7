"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with the noop sink (full execution, no
driver-side collect — the 100 TB-honest way to time a distributed plan).
Also measures the streaming ingest path's throughput (rows/s) against
the reference's configured ~4,800 rec/s fleet ceiling (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import go_pulsar_elasticsearch_spark as gpe
from go_pulsar_elasticsearch_spark.registry import QUERIES
from go_pulsar_elasticsearch_spark.session import get_spark

gpe.load_all()

# Headline set: one per operator family, weighted toward shuffle-heavy
# and scale-critical paths.
HEADLINE = [
    "join_multiway_star",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "curation_pipeline",
    "agg_grouped",
    "agg_rollup",
    "join_left_outer",
    "win_ranking",
    "win_frame_agg",
    "stream_tumbling_window_agg",
    "stream_session_window",
    "idempotent_upsert_by_key",
    "exact_dedup",
    "near_dedup_minhash",
    "text_stats",
    "token_count",
    "similarity_topk",
    "ann_lsh_bucketed",
    "limit_topk",
    "bm25_search",
    "semantic_dedup",
    "hard_negative_mining",
    "events_sessionize",
    "anomaly_zscore",
    "boilerplate_ngrams",
    # round 2 additions
    "segment_dedup",
    "interp_linear",
    "knn_filtered",
    "percolate_match",
    "zorder_layout",
    "rolling_p90",
    # round 3 additions
    "decode_avro",
    "near_dedup_simhash_banded",
    "ann_pq",
    "minhash_verify_jaccard",
    "tfidf_doc_similarity",
    "dup_span_fraction",
    "pagerank_transitions",
    "cdc_merge_apply",
    "function_score",
    "seeded_shuffle_shards",
    # round 4 additions (second half): LM scoring + tokenizer + containment
    "lm_perplexity_bucket",
    "lm_bigram_perplexity",
    "bpe_encode",
    "ngram_containment",
    # perceptual near-dup through real codec bytes
    "image_ahash_neardup",
    "audio_fingerprint_neardup",
    # round 4 additions (third half): crawl intake + new UDF/join surfaces
    "warc_ingest",
    "udf_cogrouped_asof",
    "join_runtime_prefilter",
    # round 4 additions (fourth half): mergeable-state aggregates
    "agg_bitmap_distinct",
    "incremental_agg_merge",
    "histogram_quantile_merge",
    # round 5 additions: schema evolution, single-pass RFM quartiles,
    # star-contracted components
    "avro_schema_evolution",
    "rfm_segmentation",
    "dedup_components",
    # round 6 flagships: stored-index probe, canonical-URL dedup,
    # span-level duplicate removal
    "ann_ivf_stored",
    "url_canonical_dedup",
    "dup_span_remove",
    # round 7 flagships: the composed crawl->corpus pipeline, the
    # degree-oriented graph QA plan, append-only PQ maintenance
    "crawl_corpus_pipeline",
    "graph_clustering_coeff",
    "ann_pq_append",
    # round 8 flagships: real PNG decode, maximal-substring dedup,
    # manifest-pinned time travel
    "multimodal_decode_png",
    "dup_span_remove_maximal",
    "time_travel_read",
    # round 8 flagships (cont.): parent-child join field, MLM objective
    # prep, and the render->compile->execute template chain
    "has_child_query",
    "mlm_masking_prep",
    "search_template",
]

# Host-speed canaries (round-6 VERDICT #6): tpch_q5/q6/q18 have been
# code-identical since round 1, so their ratio to these PINNED baseline
# timings (median of the round 5-6 committed bench runs at sf0.1 on
# this host class) measures THIS run's host speed.  Every query time is
# also reported divided by the canary-median ratio, so a ±30% host
# drift between rounds stops masquerading as per-query regressions.
CANARY_BASELINE_S = {"tpch_q5": 1.40, "tpch_q6": 0.38, "tpch_q18": 0.98}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_stream_ingest(spark, sf_dir: str) -> float:
    """Rows/s through the full ingest pipeline (decode -> derive -> dedup
    -> dated sink) with an availableNow drain over events-as-json."""
    from pyspark.sql import functions as F

    from go_pulsar_elasticsearch_spark.catalog import t
    from go_pulsar_elasticsearch_spark.streaming.stream import (
        INGESTION_SCHEMA,
        decode_json_payload,
        file_stream,
        run_ingest_pipeline,
    )

    tmp = tempfile.mkdtemp(prefix="gpe_bench_stream_")
    try:
        src_dir = os.path.join(tmp, "src")
        ev = t(spark, sf_dir, "events")
        n = ev.count()
        payload = ev.select(
            F.to_json(
                F.struct(
                    F.concat(F.lit("id-"), F.col("event_id")).alias("identifier"),
                    F.col("event_type").alias("name"),
                    F.concat(F.lit("uuid-"), F.col("event_id")).alias("uuid"),
                    F.col("event_type").alias("type"),
                    F.unix_millis("ts").alias("ingestion_time"),
                )
            ).alias("value")
        )
        payload.write.mode("overwrite").format("parquet").save(src_dir)
        raw = file_stream(
            spark, src_dir,
            schema=payload.schema, max_files=32,
        )
        decoded = decode_json_payload(raw)
        t0 = time.time()
        q = run_ingest_pipeline(
            spark,
            decoded,
            sink_dir=os.path.join(tmp, "sink"),
            dlq_dir=os.path.join(tmp, "dlq"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination()
        dt = time.time() - t0
        return n / dt if dt > 0 else 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("gpe-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # warm the JVM + parquet footers/listings once (steady-state timing;
    # a cluster's metastore and footer caches play this role in prod)
    t_warm = time.time()
    from go_pulsar_elasticsearch_spark.catalog import TABLES, t as load_t

    for name in TABLES:
        load_t(spark, sf_dir, name).count()
    QUERIES["limit_topk"](spark, sf_dir).collect()
    warmup_s = round(time.time() - t_warm, 3)
    # Per query: first run pays whole-stage-codegen compilation (~1-2 s
    # of Janino per distinct plan — a fixed driver-side cost with zero
    # dependence on data volume); later runs are the steady state a
    # cluster actually sustains.  MEDIAN-of-3 (round-7 VERDICT #1):
    # this host's CPU is shared/noisy — the same query fluctuates
    # ±50% run-to-run and single readings of heavy queries have
    # diverged up to 5x between back-to-back bench runs (span_near
    # 4 s vs 21 s on identical code).  The median is robust to one
    # contended rep in either direction; min/median/max per query is
    # recorded in `stats` so nothing is hidden.
    import statistics

    from go_pulsar_elasticsearch_spark.functions.caching import (
        release_all_slots,
    )

    stats: dict[str, list[float]] = {}

    def run_reps(name: str, n_reps: int, first: float | None = None) -> float:
        # SLOT-COLD REPS (round-8 VERDICT "what's wrong" #1): every
        # timed rep starts with no live slot.  Each slot call turns its
        # key over, so no rep reuses a frame an earlier rep or query
        # built under that key; the release also drops frames cached
        # under other keys, which Spark's CacheManager could otherwise
        # substitute into this rep's plan, so the median includes every
        # shared-frame build.  The release runs OUTSIDE the timed
        # region.
        reps = [] if first is None else [first]
        while len(reps) < n_reps:
            release_all_slots()
            t0 = time.time()
            materialize(QUERIES[name](spark, sf_dir))
            reps.append(time.time() - t0)
        stats[name] = [round(min(reps), 3),
                       round(statistics.median(reps), 3),
                       round(max(reps), 3)]
        return stats[name][1]

    # Mid-run contention probes (round-8 two-run agreement study, part
    # 2): the A/B comparison showed the disagreeing queries were
    # ALPHABETICALLY CONTIGUOUS — a multi-minute host-contention window
    # slows whatever queries happen to run inside it, so median-of-3
    # cannot save a query whose three reps all sit in the window
    # (minhash_recall_eval: [10.7, 12.1, 13.2] in run A vs [1.6, 1.8,
    # 2.8] in run B, while every sibling m* query drifted the same way).
    # Fix: re-time the cheapest pinned canary (tpch_q6, scan-bound)
    # every PROBE_EVERY queries, building a time-indexed host-speed
    # trace; each query is then ALSO reported divided by the ratio
    # interpolated at its own completion time.  Compare
    # `full_queries_local_norm` across runs — a genuine regression
    # moves it, a contention window does not.
    PROBE_EVERY = 25
    run_start = time.time()
    probes: list[tuple[float, float]] = []  # (wall_time, host ratio)

    def contention_probe() -> None:
        reps = []
        for _ in range(2):
            t0 = time.time()
            materialize(QUERIES["tpch_q6"](spark, sf_dir))
            reps.append(time.time() - t0)
        probes.append(
            (time.time(), min(reps) / CANARY_BASELINE_S["tpch_q6"])
        )

    done_ts: dict[str, float] = {}
    n_since_probe = 0

    def maybe_probe() -> None:
        nonlocal n_since_probe
        n_since_probe += 1
        if n_since_probe >= PROBE_EVERY:
            n_since_probe = 0
            contention_probe()

    contention_probe()  # anchor the trace at run start
    cold_total = 0.0
    for name in HEADLINE:
        print(f"BENCH headline {name}", file=sys.stderr)
        t0 = time.time()
        materialize(QUERIES[name](spark, sf_dir))
        first = time.time() - t0
        cold_total += first
        timings[name] = run_reps(name, 3, first)
        done_ts[name] = time.time()
        maybe_probe()

    # Full registered set: one run each for cheap queries (cold,
    # includes codegen — the regression tripwire the headline set
    # can't be), but any query whose first reading exceeds 2 s is
    # escalated to median-of-3 (round-7 VERDICT #1: single readings of
    # the heavy tail have swung 5x between runs of identical code —
    # span_near_query 4 s vs 21 s — purely from host contention; the
    # median makes the heavy tail reproducible within ~1.5x while
    # sub-second queries stay single-run, where absolute noise is
    # small.  Threshold lowered 2.0 -> 1.0 after the round-8 two-run
    # agreement check: the 1-2 s single-run band still jittered past
    # 1.5x run-to-run, the >= median-of-3 band did not).
    HEAVY_S = 1.0
    full: dict[str, float] = {}
    skip = {"stream_ingest_e2e"}  # starts a real streaming job; measured
    # separately as stream_ingest_rows_per_s
    for name in sorted(QUERIES):
        if name in skip:
            continue
        if name in timings:
            full[name] = timings[name]
            continue
        print(f"BENCH full {name}", file=sys.stderr)
        t0 = time.time()
        try:
            materialize(QUERIES[name](spark, sf_dir))
            first = time.time() - t0
            if first > HEAVY_S:
                full[name] = run_reps(name, 3, first)
            else:
                full[name] = round(first, 3)
            done_ts[name] = time.time()
        except Exception as exc:  # never let one op sink the whole bench
            full[name] = -1.0
            print(f"BENCH ERROR {name}: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
        maybe_probe()

    # SUSPECT RETRY pass (round-8 final-run postmortem): a contention
    # window poisoned all 3 reps of an alphabetically contiguous block
    # (tpch_q21..trending_topk read 1.8-6.8x their committed values;
    # tpch_q8 8.6 s in-run vs 1.7 s standalone minutes later) while the
    # q6 probes straddling the window read ~1.0 — a scan-bound probe
    # every 25 queries can slip between bursts that crush a 7-way
    # broadcast join.  Median-of-3 cannot save a query whose whole
    # triple sits inside the window, but the END of the run is a
    # different time window: re-time every suspect there and keep the
    # FASTER triple.  A real regression is still slow on retry and
    # survives; a contention artifact does not.  Suspects: median
    # exceeds 1.5x its reading in the previously committed artifact
    # (same SF), or exceeds 2.5 s absolute when no reference exists.
    prev_ref: dict[str, float] = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_out.json")) as fh:
            _prev = json.load(fh)
        if str(_prev.get("sf")) == sf:
            prev_ref = {
                k: v for k, v in _prev.get("full_queries", {}).items()
                if isinstance(v, (int, float)) and v > 0
            }
    except (OSError, ValueError):
        pass
    # SYMMETRIC since round 9 (round-8 VERDICT "what's wrong" #2: the
    # slow-only rule was a downward ratchet against the committed
    # artifact).  Too-FAST readings are now suspects too — a warm-slot
    # or idle-window fluke reads fast mid-run and honest on retry —
    # and the acceptance rule mirrors: a slow suspect keeps the FASTER
    # of (mid-run, retry) because contention inflates, a fast suspect
    # keeps the SLOWER because measurement luck deflates.  A genuine
    # optimization survives (both readings are fast); a genuine
    # regression survives (both are slow).  Both triples are recorded
    # in `retry_pass` either way.
    retry_pass: dict[str, list[float]] = {}
    for name, v in sorted(full.items()):
        if not isinstance(v, (int, float)) or v <= 0:
            continue
        ref = prev_ref.get(name)
        if ref is not None:
            too_slow = v > max(1.5 * ref, ref + 0.5)
            too_fast = v < min(ref / 1.5, ref - 0.5)
        else:
            too_slow, too_fast = v > 2.5, False
        if not (too_slow or too_fast):
            continue
        print(
            f"BENCH retry-suspect {name} ({v}s, ref {ref},"
            f" {'slow' if too_slow else 'fast'})",
            file=sys.stderr,
        )
        reps = []
        for _ in range(3):
            release_all_slots()
            t0 = time.time()
            materialize(QUERIES[name](spark, sf_dir))
            reps.append(time.time() - t0)
        med = statistics.median(reps)
        retry_pass[name] = [round(v, 3), round(med, 3)]
        keep_retry = (med < v) if too_slow else (med > v)
        if keep_retry:
            full[name] = round(med, 3)
            stats[name] = [round(min(reps), 3), round(med, 3),
                           round(max(reps), 3)]
            done_ts[name] = time.time()
            if name in timings:
                timings[name] = round(med, 3)

    # END-of-run canary re-timing (round-8 two-run agreement study):
    # consecutive full-tier runs on identical code disagreed up to 2.3x
    # on single queries while the canary ratio itself swung 0.94 ->
    # 1.38 BETWEEN runs — the host drifts DURING a 15-minute run, so
    # one begin-of-run ratio cannot normalize the tail.  Timing the
    # canaries again at the end bounds the intra-run drift explicitly:
    # when begin and end ratios disagree, per-query deltas between
    # runs are host noise until proven otherwise.
    end_reps: dict[str, float] = {}
    for c in CANARY_BASELINE_S:
        reps = []
        for _ in range(3):
            t0 = time.time()
            materialize(QUERIES[c](spark, sf_dir))
            reps.append(time.time() - t0)
        end_reps[c] = min(reps)
    # the end-of-run q6 re-timing closes the contention trace
    probes.append(
        (time.time(), end_reps["tpch_q6"] / CANARY_BASELINE_S["tpch_q6"])
    )

    def local_ratio(ts: float) -> float:
        """Host-speed ratio at wall-time ts, linearly interpolated
        between the bracketing contention probes (clamped to >= 0.25 so
        a probe hitting an idle microsecond cannot inflate anything
        past 4x)."""
        before = [p for p in probes if p[0] <= ts]
        after = [p for p in probes if p[0] > ts]
        if not before and not after:
            return 1.0
        if not before:
            r = after[0][1]
        elif not after:
            r = before[-1][1]
        else:
            (t0_, r0), (t1_, r1) = before[-1], after[0]
            f = (ts - t0_) / (t1_ - t0_) if t1_ > t0_ else 0.0
            r = r0 + f * (r1 - r0)
        return max(r, 0.25)

    stream_rps = bench_stream_ingest(spark, sf_dir)

    # canary normalization: this run's host-speed ratio is the MEDIAN
    # of the canaries' ratios to their pinned baselines (median, not
    # mean: one canary catching a noise spike must not skew the factor).
    # The baselines are sf0.1 timings — at any other SF the ratio would
    # measure data volume, not host speed, so normalization is only
    # applied at the pinned scale (ratio 1.0 elsewhere, flagged).
    # The pinned baselines were min-of-3 readings (rounds 5-6), so the
    # ratio uses each canary's MIN rep (stats[c][0]) — primary per-query
    # numbers switched to median in round 8, but mixing median readings
    # against min baselines would bake a systematic ~1.1x into the
    # normalization.
    ratios = sorted(
        stats[c][0] / CANARY_BASELINE_S[c]
        for c in CANARY_BASELINE_S
        if c in stats
    )
    at_pinned_sf = sf == "0.1"
    canary_ratio = (
        statistics.median(ratios) if ratios and at_pinned_sf else 1.0
    )
    norm = lambda v: round(v / canary_ratio, 3) if v > 0 else v  # noqa: E731

    out = {
        "metric": "headline query latency @ sf" + sf,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stream_ingest_rows_per_s": round(stream_rps, 1),
        "warmup_s": warmup_s,
        "cold_first_run_total_s": round(cold_total, 3),
        # per-query [min, median, max] over 3 reps for every headline
        # query and every full-set query whose first reading was >2 s
        # (round-7 VERDICT #1); the primary number reported in
        # `queries`/`full_queries` is the MEDIAN for these
        "stats_min_med_max": stats,
        "heavy_rep_threshold_s": HEAVY_S,
        "full_queries": full,
        "full_total_s": round(sum(v for v in full.values() if v > 0), 3),
        # Host speed swings ±40% between sessions.  tpch_q5/q6/q18 have
        # been code-identical since round 1: read them as the host-speed
        # canary before attributing any cross-round per-query delta to a
        # code change (README "Current bench" note).
        "canaries": {k: timings[k] for k in ("tpch_q5", "tpch_q6", "tpch_q18") if k in timings},
        # canary-normalized view (round-6 VERDICT #6): every time
        # divided by this run's canary-median host-speed ratio — compare
        # THESE across rounds; raw seconds stay above for transparency
        "canary_ratio": round(canary_ratio, 4),
        # the same three canaries re-timed AFTER the full tier: the
        # begin/end pair bounds intra-run host drift (see comment at
        # the end-of-run timing block)
        "canary_ratio_end": round(
            statistics.median(
                sorted(
                    end_reps[c] / CANARY_BASELINE_S[c]
                    for c in CANARY_BASELINE_S
                )
            ),
            4,
        ) if at_pinned_sf else 1.0,
        "canaries_end_s": {k: round(v, 3) for k, v in end_reps.items()},
        "canary_normalization_applied": at_pinned_sf,
        # suspect-retry audit trail: {query: [mid-run median, end-of-run
        # retry median]} for every query re-timed by the retry pass
        # (symmetric since r9: slow suspects keep the faster reading,
        # fast suspects the slower — see the retry-pass comment)
        "retry_pass": retry_pass,
        # r9 methodology markers: reps are slot-cold (run_reps releases
        # every builder slot before each timed rep) and the retry pass
        # examines both directions — see OPTIMIZATION_r09.md
        "slot_cold_reps": True,
        "retry_pass_symmetric": True,
        "canary_baseline_s": CANARY_BASELINE_S,
        "value_normalized": norm(sum(timings.values())),
        "queries_normalized": {k: norm(v) for k, v in timings.items()},
        "full_queries_normalized": {k: norm(v) for k, v in full.items()},
        "full_total_normalized_s": norm(
            sum(v for v in full.values() if v > 0)
        ),
        # time-indexed host-speed trace: [seconds-into-run, ratio] per
        # probe (tpch_q6 min-of-2 vs its pinned baseline, every
        # PROBE_EVERY queries) — reveals contention WINDOWS inside the
        # run that begin/end canaries straddle silently
        "contention_probes": [
            [round(ts - run_start, 1), round(r, 4)] for ts, r in probes
        ],
        # each query divided by the host ratio interpolated at its own
        # completion time: the number to compare run-to-run (a real
        # regression moves it; a contention window does not).  Only
        # meaningful at the pinned SF, like the global normalization.
        "full_queries_local_norm": {
            k: (
                round(v / local_ratio(done_ts[k]), 3)
                if v > 0 and k in done_ts and at_pinned_sf
                else v
            )
            for k, v in full.items()
        },
    }
    # The driver's BENCH_r{N}.json artifact keeps only a 2000-char tail
    # of stdout, which truncates the headline dict — persist the full
    # output as a committed repo artifact so tools/bench_diff.py can
    # compare rounds against complete data (round-4 VERDICT #8).
    # Off-SF runs (smoke tests at sf0.001 etc.) write a suffixed file so
    # they can never clobber the committed pinned-SF artifact (a
    # round-8 smoke run at sf0.001 silently rode an add -A into HEAD).
    artifact = (
        "bench_out.json" if at_pinned_sf else f"bench_out_sf{sf}.json"
    )
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               artifact), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"BENCH WARN could not write {artifact}: {exc}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
