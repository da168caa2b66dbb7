"""Bounded DataFrame caching for shared builder frames.

Several operators persist an intermediate frame that multiple branches
of the SAME query consume (MinHash band signatures, shingle posting
lists, tf-idf weights).  A bare ``df.persist()`` at the builder leaks:
registry queries hand their DataFrames to the driver, so no consumer
can pair an ``unpersist()`` with materialization, and every invocation
strands another cached frame for the session lifetime (observed across
the 175-query correctness sweep).

Both slot functions keep AT MOST ONE live frame per key and turn the
slot over on every call: the previous occupant is evicted before the
new frame is materialized.  There is no lineage-keyed reuse — a frame
rebuilt over a path that was rewritten in place has the same
semantics as the old one, so reuse would hand back stale rows.  For
lazy slots Spark's CacheManager already substitutes a persisted frame
into any plan with the same result, so nothing is lost — and for the
same reason the eviction must come BEFORE the new persist: over a path
rewritten in place (outside Spark's own writer, which drops cached
frames over the paths it writes), a still-registered occupant would be
substituted into the new frame's plan and serve the old rows
(tests/test_properties.py::test_slot_builders_see_in_place_rewrite).
Evicting a frame a still-referenced plan uses is safe — Spark just
recomputes it — so the turnover can never corrupt an earlier query,
only uncache it.
Frames persist MEMORY_AND_DISK so an oversized frame spills instead of
evicting executor memory.

Lifecycle caveat for the CHECKPOINT slots: ``DataFrame.unpersist``
only talks to the CacheManager, and a ``localCheckpoint`` frame was
never registered there — the eviction unpersist is a no-op for
checkpointed occupants.  Their blocks are RDD-level persisted storage,
freed by the ContextCleaner once the JVM RDD becomes unreachable;
dropping the slot's reference here (plus the py4j proxy GC) is what
makes that happen.  This is the SAFE direction: eagerly force-freeing
the blocks would break any still-unexecuted plan referencing the
evicted LogicalRDD (a truncated lineage cannot be recomputed), which
would violate the invariant above.  The cost is that reclamation is
deferred to GC — bounded in practice because each key holds at most
one frame and turnover drops the old reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_slots: dict[str, DataFrame] = {}


def _evict(key: str) -> None:
    old = _slots.pop(key, None)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session torn down / frame already gone


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """Lazily persist ``df`` under ``key``, evicting the key's previous
    frame."""
    _evict(key)
    _slots[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _slots[key]


def checkpoint_slot(key: str, df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and keep at most one live
    checkpointed frame per key (same slot discipline as cache_slot).

    Use instead of cache_slot when the frame feeds MANY consumers in
    one plan (self-joins, band joins, re-expansion joins): a persisted
    frame still inlines its FULL logical lineage at every reference, so
    Catalyst re-analyzes/re-optimizes the subtree once per consumer —
    measured at 1.5-2.5 s of pure driver time on the banded-dedup
    family (optimization guide §3.3: "Materialising an intermediate
    result ... or localCheckpoint truncates the plan").  The eager
    checkpoint runs the subtree ONCE at build time and every consumer
    references a LogicalRDD leaf.

    The cost: the build is eager — each slot runs its subtree as a
    separate job, one after another, before Spark sees the whole plan —
    the blocks are non-replicated executor state with no lineage (a lost
    executor restarts the query; SCALE.md), and the frame cannot fuse
    with downstream projections.  Block reclamation is GC-deferred
    (module-header lifecycle note).  So a site stays eager only where a
    measurement keeps it:

    | slot key(s) | consumer | measurement |
    |---|---|---|
    | crawl_canon, crawl_corpus1 | crawl_corpus_pipeline | r8: 6.6 -> 3.4-4.4 s warm, 28 -> 13 s cold; canon is the Python WARC source scan |
    | cc_edges_raw, cc_reps, cc_edges | connected_components | r8: dedup_components 2.35 -> 2.17 s |
    | simhash_hashes, simhash_reps, simhash_members | _banded_hamming_pairs | r8: near_dedup_simhash_banded 5.26 -> 2.0-2.4 s (with the fused fingerprint) |
    | minhash_ml_tf | near_dedup_minhash_ml | r9: 2.25 -> 1.24 s median |
    | tfidf_weights | tfidf_doc_similarity | r8: 1.38 -> ~1.33 s, 4 consumers |
    | lm2_cb | lm_bigram_perplexity | r8: counts only; checkpointing the bigram rows measured slower |
    | kn_big, kn_cb | lm_kn_perplexity | r8: 1.96 -> 1.55 s |
    | kl_source_word | kl_domain_divergence | r8: ~0.9 -> ~0.8 s |
    | kmeans_base | lloyd_iterations | r8: kmeans_train 3.18 -> 2.16 s |
    | ahash_words, afp_words, ahash_thumbs, phash_words | image/audio near-dup family | r8: image_ahash_neardup 1.31 -> ~1.0 s, audio_fingerprint_neardup 1.24 -> ~1.0 s; one Python decode pass per self-join |
    | joint_dedup_edges | multimodal_dedup_keepbest | r8: 5.35 -> 3.56 s |
    | pq_unit | pq_unit_vectors (ANN family) | r8: ann_pq 3.23 -> 1.68 s; r9 interleaved: ann_pq_stored 1.7-2.0 vs 2.4-2.5 s lazy |
    | bbq_codes | ann_binary_hamming | r8: neutral (~1.2 s); one Python pass instead of two |
    | matrix_stats_moments | matrix_stats_agg | r8: 1.66 -> ~1.35 s |
    | runtime_prefilter_dim | join_runtime_prefilter | r8: 1.53 -> ~1.2 s |
    | curation_kept; functions/prefix.py's ``_src`` and ranged slots | curation_pipeline, pack_sequences, late_data_profile, rfm_segmentation, crawl_corpus_pipeline | FLIPPED to cache_slot: perfbench batch-curation p50 3101 -> 2670 ms (10/10 pairs; 3506 -> 2314 with the gates moved above the dedup rank), traced build 2958 -> 480 ms and 14 -> 1 build jobs; pack_sequences 0.66 -> 0.74 s (IQR 0.15), late_data_profile 0.86 -> 0.83, rfm_segmentation 1.39 -> 1.36, crawl_corpus_pipeline 3.80 -> 3.60 |
    | minhash_band_sigs | near-dup, graph and components family, crawl and curation pipelines, streaming near_dedup | FLIPPED to cache_slot; no consumer slower than eager by more than the eager IQR: near_dedup_minhash 1.49 -> 1.32 s, minhash_verify_jaccard 3.36 -> 2.79, minhash_recall_eval 2.96 -> 2.88, near_dedup_minhash_append 1.18 -> 1.22 (IQR 0.22), dedup_components 1.76 -> 1.88 (IQR 0.34), split_leakage_safe 1.78 -> 1.85 (IQR 0.17), graph_triangle_count 1.63 -> 1.65, graph_clustering_coeff 1.69 -> 1.75 (IQR 0.67), crawl_corpus_stream 2.77 -> 2.67 |

    The r8/r9 figures are warm-rep medians on local[32] against the
    former lineage-reuse lazy slot, not slot-cold re-measurements.  The
    FLIPPED rows are eager -> lazy, measured on 4 cores: perfbench
    medians over interleaved seeds, and slot-cold
    ``tools/profile_query.py`` medians at sf0.1 (4 interleaved blocks
    per side, warm reps 2-4; IQR of the eager side where the lazy side
    reads slower)."""
    _evict(key)
    _slots[key] = df.localCheckpoint(eager=True)
    return _slots[key]


def release_all_slots() -> None:
    """Drop every live slot.  Bench rep hygiene: calling this between
    timed reps makes every rep rebuild its shared frames, so reported
    times include the build cost.  For checkpointed occupants dropping
    the reference is the release (module-header lifecycle note)."""
    for key in list(_slots):
        _evict(key)
