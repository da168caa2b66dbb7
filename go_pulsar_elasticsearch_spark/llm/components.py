"""Near-duplicate cluster resolution: connected components over the
MinHash candidate-pair graph, by iterative min-label propagation.

Dedup at corpus scale isn't done pair-by-pair: candidate pairs form a
graph whose connected components are duplicate clusters; one canonical
doc (min doc_id) survives per cluster.  This is the engine's iterative-
algorithm pattern — a driver-side loop of distributed joins with a
convergence check (the shape GraphX/Pregel formalizes), each iteration
one shuffle.  Converges in O(graph diameter) iterations; duplicate
clusters are near-cliques, so 2-3 in practice.

Still fully oracled: DuckDB expresses min-reachable-id with a recursive
CTE — the rare case where "iterative" has an exact SQL twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.functions.caching import (
    cache_slot,
    checkpoint_slot,
)
from go_pulsar_elasticsearch_spark.llm.dedup import minhash_band_sigs
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 20) -> DataFrame:
    """Min-label propagation with a star-contraction pre-step: every
    node ends labeled with the smallest node id in its component.
    Returns (node, component).

    Star contraction (the large-star/small-star family, Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): every node maps to
    ``rep(u) = min(N(u) ∪ {u})`` and the edge list is rewritten onto
    representatives.  A k-clique — the duplicate-cluster worst case,
    where every propagation iteration used to drag k² edges through the
    join — collapses to a SINGLE node in this one round (all members
    share the clique minimum), so the propagation loop runs on the
    contracted graph, which is clique-free and usually tiny.
    Correctness: rep(u) is u's neighbor (or u), so contraction preserves
    connectivity; the global minimum g of a component satisfies
    rep(g) = g, so the contracted component keeps the same minimum and
    the pulled-back labels are IDENTICAL to plain propagation (same
    oracle hash).

    Iteration hygiene: the contracted bidirectional edge list is
    slot-cached ONCE — without it every iteration re-executes the whole
    upstream candidate generation (the LSH band join) — and the
    convergence signal is a `_ch` flag computed in the SAME pass as the
    new labels, so the change check is a filter over the
    just-checkpointed frame instead of a per-iteration labels⋈labels
    join."""
    bi_raw = checkpoint_slot(
        "cc_edges_raw",
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        ),
    )
    # rep(u) = min over N(u) ∪ {u}; every node of `edges` appears as an
    # `a` because bi_raw carries both directions
    reps = checkpoint_slot(
        "cc_reps",
        bi_raw.groupBy("a").agg(F.min("b").alias("_mn")).select(
            F.col("a").alias("node"), F.least("a", "_mn").alias("rep")
        ),
    )
    ra = reps.select(F.col("node").alias("a"), F.col("rep").alias("_ra"))
    rb = reps.select(F.col("node").alias("b"), F.col("rep").alias("_rb"))
    bi = checkpoint_slot(
        "cc_edges",
        bi_raw.join(ra, "a").join(rb, "b")
        .filter(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("a"), F.col("_rb").alias("b"))
        .distinct(),
    )
    nodes = reps.select(F.col("rep").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component"))
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            bi.join(labels, bi.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_comp = F.least(
            F.col("component"),
            F.coalesce(F.col("nbr_component"), F.col("component")),
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                new_comp.alias("component"),
                (new_comp < F.col("component")).alias("_ch"),
            )
            # checkpoint BEFORE the change check so the propagation join
            # runs once per iteration, not once for the count and again
            # for the checkpoint
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_ch")).limit(1).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds max_iter) — labels would "
            "be wrong; raise max_iter"
        )
    # pull the contracted labels back to the original nodes: comp(u) =
    # comp(rep(u)); a rep with no contracted edge (its whole component
    # collapsed in the contraction round) labels itself
    lab = labels.select(F.col("node").alias("rep"), "component")
    return reps.join(lab, "rep", "left").select(
        "node", F.coalesce("component", "rep").alias("component")
    )


_COMPONENTS_ORACLE = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words)
), sigs AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM (SELECT doc_id, shingle, unnest(range(0, 8)) AS band FROM shingles)
  GROUP BY doc_id, band
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                          AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 4
), bi AS (
  SELECT src AS a, dst AS b FROM pairs
  UNION ALL SELECT dst, src FROM pairs
), reach AS (
  SELECT a AS node, a AS reached FROM (SELECT DISTINCT a FROM bi)
  UNION
  SELECT r.node, bi.b FROM reach r JOIN bi ON bi.a = r.reached
)
SELECT node AS doc_id, CAST(MIN(reached) AS BIGINT) AS component
FROM reach GROUP BY node
"""


@register("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: MinHash candidate pairs (>=4/8 bands) ->
    connected components -> (doc_id, component=min id in cluster).
    Docs with no near-dup edge are excluded (their cluster is trivially
    themselves).

    Duplicate-heavy safety: exact duplicates collapse before the band
    join AND before label propagation, so the edge list and the
    iterative joins track unique texts; members rejoin their
    representative's component at the end.  A copy group whose rep has
    no near-dup edge still forms its own cluster (every copy is an
    8/8-band duplicate of its rep), labeled by the rep id — identical
    to what the uncollapsed graph computes, since rep = min(group) and
    component ids are cluster-minimum doc_ids.  Output stays linear in
    corpus size (one row per clustered doc) at ANY copy count — unlike
    the pair-emitting ops, components has no quadratic contract."""
    from go_pulsar_elasticsearch_spark.llm.dedup import exact_text_groups

    tune(spark)
    docs = t(spark, sf_dir, "documents")
    members, rep_docs = exact_text_groups(docs, "components_groups")
    sigs = minhash_band_sigs(rep_docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count("*").alias("n_bands"))
        .filter(F.col("n_bands") >= 4)
        .select("src", "dst")
    )
    comps = connected_components(pairs)  # over representatives
    if members is None:  # no collapse applied: components are final
        return comps.select(F.col("node").alias("doc_id"), "component")
    # multi-copy groups whose rep has no edge are clusters of their own;
    # the group size rides on rep_docs (exact_text_groups), so no
    # members groupBy is needed to find them
    lonely_multi = (
        rep_docs.filter(F.col("cnt") >= 2)
        .join(comps, F.col("doc_id") == F.col("node"), "left_anti")
        .select(F.col("doc_id").alias("node"), F.col("doc_id").alias("component"))
    )
    rep_comp = comps.unionByName(lonely_multi)
    return members.join(
        rep_comp, members.rep == rep_comp.node
    ).select("doc_id", "component")


# --------------------------------------------------------------------------
# pagerank_transitions  (iterative message passing, certified: 3 unrolled
# power iterations over the event-type transition graph — the same
# join-agg-per-iteration shape PageRank/label-propagation run at scale,
# with kmeans_train-style exact-decimal certification)
# --------------------------------------------------------------------------

_PR_D = 0.85  # damping
_PR_ITERS = 3

_PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS cnt
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst,
         CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY src) AS w
  FROM pairs
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
r1 AS (
  SELECT nodes.node,
         0.15 / nn.n + {_PR_D} * COALESCE(i.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r0.r * e.w AS DECIMAL(18,12))) AS DOUBLE) AS s
    FROM edges e JOIN r0 ON r0.node = e.src GROUP BY e.dst
  ) i ON i.node = nodes.node
),
r2 AS (
  SELECT nodes.node,
         0.15 / nn.n + {_PR_D} * COALESCE(i.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r1.r * e.w AS DECIMAL(18,12))) AS DOUBLE) AS s
    FROM edges e JOIN r1 ON r1.node = e.src GROUP BY e.dst
  ) i ON i.node = nodes.node
),
r3 AS (
  SELECT nodes.node,
         0.15 / nn.n + {_PR_D} * COALESCE(i.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r2.r * e.w AS DECIMAL(18,12))) AS DOUBLE) AS s
    FROM edges e JOIN r2 ON r2.node = e.src GROUP BY e.dst
  ) i ON i.node = nodes.node
)
SELECT node, r AS pagerank FROM r3
"""


@register("pagerank_transitions", _PAGERANK_ORACLE)
def pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph, 3 power
    iterations unrolled into one plan.  Each iteration is the scale
    shape iterative graph algorithms run on clusters: join ranks to
    edges on src, per-dst aggregate of rank*weight contributions, then
    the damping update — never a driver-side adjacency structure.
    Per-edge contributions accumulate as DECIMAL(18,12) (exact,
    associative) so three chained float iterations still hash-match
    the oracle bit-for-bit.  Dangling-mass redistribution is omitted on
    both sides (documented simplification; ranks need not sum to 1)."""
    tune(spark)
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("cnt"))
    )
    out_total = F.sum("cnt").over(Window.partitionBy("src"))
    edges = cache_slot(
        "pagerank_edges",
        pairs.select(
            "src", "dst", (F.col("cnt").cast("double") / out_total).alias("w")
        ),
    )
    # the rank vector is VOCABULARY-sized (one row per event type,
    # data-size-independent), so both per-iteration joins broadcast it:
    # the edges side keeps its cached partitioning across all three
    # iterations (no re-exchange per iteration — the r3 plan carried 18
    # exchanges, one full set per unrolled iteration) and each iteration
    # costs exactly one shuffle, the per-dst contribution aggregation.
    nodes = cache_slot(
        "pagerank_nodes", ev.select(F.col("event_type").alias("node")).distinct()
    )
    # one-row frame consumed by r0 + every iteration: cached so the
    # SinglePartition count exchange runs once, not once per consumer
    nn = cache_slot("pagerank_nn", nodes.agg(F.count("*").alias("n")))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_PR_ITERS):
        inflow = (
            edges.join(
                F.broadcast(ranks.select(F.col("node").alias("src"), "r")), "src"
            )
            .select(
                "dst",
                (F.col("r") * F.col("w")).cast("decimal(18,12)").alias("term"),
            )
            .groupBy("dst")
            .agg(F.sum("term").cast("double").alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(F.broadcast(inflow), nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(_PR_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank"))


# --------------------------------------------------------------------------
# split_leakage_safe  (contamination-safe train/test split: a whole
# near-duplicate CLUSTER goes to one side, never straddles the split —
# the leak every naive random split introduces, since near-copies of a
# test doc in train inflate eval.  Composes dedup_components with a
# deterministic per-CLUSTER hash split.)
# --------------------------------------------------------------------------

_SPLIT_TRAIN_PCT = 80  # md5-u32(component) % 100 < 80 -> train

_SPLIT_ORACLE_TEMPLATE = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words)
), sigs AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM (SELECT doc_id, shingle, unnest(range(0, 8)) AS band FROM shingles)
  GROUP BY doc_id, band
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                          AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 4
), bi AS (
  SELECT src AS a, dst AS b FROM pairs
  UNION ALL SELECT dst, src FROM pairs
), reach AS (
  SELECT a AS node, a AS reached FROM (SELECT DISTINCT a FROM bi)
  UNION
  SELECT r.node, bi.b FROM reach r JOIN bi ON bi.a = r.reached
), comp AS (
  SELECT node AS doc_id, MIN(reached) AS component
  FROM reach GROUP BY node
)
SELECT d.doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
       CASE WHEN ({H}) % 100 < {PCT} THEN 'train' ELSE 'test'
            END AS split
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def _split_oracle() -> str:
    from go_pulsar_elasticsearch_spark.llm.lm_score import _md5_u32_sql

    return _SPLIT_ORACLE_TEMPLATE.format(
        H=_md5_u32_sql("COALESCE(c.component, d.doc_id)"),
        PCT=_SPLIT_TRAIN_PCT,
    )


@register("split_leakage_safe", _split_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component, split): every doc carries its near-dup
    cluster id (its own id when unclustered) and a train/test
    assignment hashed from the CLUSTER id, so near-duplicates can never
    land on opposite sides of the split.  The assignment is the
    engine-portable md5-u32 fold (conv(substring(md5,1,8))), bit-
    identical in DuckDB — the whole composition hash-certifies.

    100 TB: dedup_components' star-contracted propagation plus one
    broadcast-free left join on doc_id and a stateless hash — the split
    itself adds no shuffle beyond the join."""
    tune(spark)
    docs = t(spark, sf_dir, "documents").select("doc_id")
    comps = dedup_components(spark, sf_dir).withColumnRenamed(
        "component", "_comp"
    )
    comp = F.coalesce(F.col("_comp"), F.col("doc_id"))
    h = F.conv(
        F.substring(F.md5(comp.cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.join(comps, "doc_id", "left")
        .select(
            "doc_id",
            comp.alias("component"),
            F.when((h % 100) < _SPLIT_TRAIN_PCT, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


# --------------------------------------------------------------------------
# graph_triangle_count  (near-dup graph density: triangles measure how
# clique-like the duplicate neighborhoods are — high triangle density
# around a doc means a copy FAMILY, not chance collisions, the signal
# dedup QA uses to pick verify thresholds)
# --------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words)
), sigs AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM (SELECT doc_id, shingle, unnest(range(0, 8)) AS band FROM shingles)
  GROUP BY doc_id, band
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                          AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 4
), tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.src = e1.dst
  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
), per_node AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM per_node
"""


def _candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oriented (src < dst) MinHash candidate edge list both graph
    QA ops build on, slot-cached: the band self-join is the costliest
    stage of the graph build."""
    sigs = minhash_band_sigs(t(spark, sf_dir, "documents"))
    a, b = sigs.alias("a"), sigs.alias("b")
    return cache_slot(
        "tri_edges",
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count("*").alias("n_bands"))
        .filter(F.col("n_bands") >= 4)
        .select("src", "dst"),
    )


def _adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, d, outs): per-node degree plus the DEGREE-ORDERED
    out-neighbor list (round-6 VERDICT #3) — the ONE graph layer both
    QA ops consume, slot-cached.  Every edge is oriented at its
    higher-(degree, id) endpoint, so each triangle has exactly one
    vertex with two outgoing edges (its lowest-degree corner) and
    out-list length is bounded by O(sqrt(|E|)) even when a
    template-blowup hub has raw degree in the millions — id-ordering
    lets such a hub keep deg^2 wedge candidates; degree ordering
    provably cannot.

    Built join-free from the cached edges: explode each undirected edge
    into both directed halves, take both endpoint degrees as window
    counts (count over partitionBy(node) / partitionBy(other) — the
    half frame contains every incident pair in both directions, so each
    window IS that endpoint's degree), then one grouped collect of the
    outgoing side.  Nodes whose every edge points away (local degree
    maxima) keep a row with an empty out-list, so the degree projection
    of this frame covers ALL nodes — graph_clustering_coeff reads it
    directly instead of re-aggregating the edge list."""
    from pyspark.sql import Window

    edges = _candidate_edges(spark, sf_dir)
    half = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("node"), F.col("dst").alias("other")
                ),
                F.struct(
                    F.col("dst").alias("node"), F.col("src").alias("other")
                ),
            )
        ).alias("h")
    ).select("h.node", "h.other")
    hd = half.withColumn(
        "dn", F.count("*").over(Window.partitionBy("node"))
    ).withColumn("dq", F.count("*").over(Window.partitionBy("other")))
    is_out = (F.col("dn") < F.col("dq")) | (
        (F.col("dn") == F.col("dq")) & (F.col("node") < F.col("other"))
    )
    return cache_slot(
        "tri_adj",
        hd.groupBy("node").agg(
            F.first("dn").alias("d"),
            F.collect_list(F.when(is_out, F.col("other"))).alias("outs"),
        ),
    )


def _triangles_per_node(adj: DataFrame) -> DataFrame:
    """The per-NODE triangle aggregate over the _adjacency frame ``adj``
    that both graph QA ops consume, slot-cached (round-5 VERDICT #5),
    computed by the EDGE-ITERATOR
    with adjacency-list intersection instead of a wedge self-join
    (round-6 VERDICT #3): on this clique-rich near-dup graph a wedge
    join materializes sum(outdeg^2) ~ 80x|E| rows through a sort-merge
    join, while the edge iterator attaches each oriented edge (a, b)
    its endpoints' out-neighbor lists and takes
    ``array_intersect(out(a), out(b))`` — every member w closes the
    triangle a->b, a->w, b->w exactly once (the orientation makes the
    three corners' roles unique: a is the minimum-(degree,id) corner).
    Work is sum(deg) hash-set ops inside whole-stage codegen; the only
    triangle-volume row stream is the apex explode feeding a partially
    aggregated count.  The adjacency table is node-cardinality (one
    array row per node, sum |E| total entries) — AQE broadcasts it at
    small scale and falls back to a shuffle join at 100 TB, both
    strictly cheaper than sorting the wedge blowup.

    Shuffle accounting: the edge stream is the adjacency frame's own
    explode, so it inherits hash-partitioning on `a` — the first attach
    join is co-partitioned (zero new exchange); only the second (on
    `b`) repartitions the THIN (a, b) stream.  The out-list arrays ride
    the node-cardinality build sides, never a fan-out stream."""
    o = adj.select(F.col("node").alias("a"), F.explode("outs").alias("b"))
    e = (
        o.join(
            adj.select(F.col("node").alias("a"), F.col("outs").alias("oa")),
            "a",
        )
        .join(
            adj.select(F.col("node").alias("b"), F.col("outs").alias("ob")),
            "b",
        )
        .select(
            "a", "b", F.array_intersect("oa", "ob").alias("ws")
        )
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") > 0)
    )
    # each triangle {a, b, w} is found once, at its unique base edge
    # (a, b): a and b gain n triangles apiece, every w in the intersect
    # gains one.  All three corner roles ride ONE explode (a Union of
    # per-role branches would re-run the whole join subtree per branch
    # — broadcast joins leave no exchange for ReuseExchange to dedupe),
    # then one grouped sum with map-side partial aggregation.
    contrib = F.concat(
        F.array(
            F.struct(
                F.col("a").alias("node"),
                F.col("n").cast("long").alias("c"),
            ),
            F.struct(
                F.col("b").alias("node"),
                F.col("n").cast("long").alias("c"),
            ),
        ),
        F.expr("transform(ws, w -> struct(w AS node, CAST(1 AS BIGINT) AS c))"),
    )
    corners = e.select(F.explode(contrib).alias("k")).select("k.node", "k.c")
    return cache_slot(
        "tri_per_node",
        corners.groupBy("node").agg(F.sum("c").alias("n_tri")),
    )


@register("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts over the MinHash candidate graph.

    The classic distributed shape with the standard 100 TB refinement:
    DEGREE-ORDERED edge orientation (_adjacency) bounds out-list length
    at O(sqrt(|E|)) per node on skewed clique-rich graphs where
    id-ordering explodes quadratically at hub nodes.  Per-node counts
    are invariant to the counting order (every triangle is still found
    exactly once), so the id-ordered DuckDB oracle certifies the
    degree-ordered plan unchanged.  The per-node aggregate is
    slot-cached and built by the same helper as graph_clustering_coeff
    (_triangles_per_node)."""
    tune(spark)
    return _triangles_per_node(_adjacency(spark, sf_dir)).select(
        F.col("node").alias("doc_id"),
        F.col("n_tri").alias("n_triangles"),
    )


# --------------------------------------------------------------------------
# graph_clustering_coeff  (local clustering coefficient over the
# candidate graph: 2*triangles / deg*(deg-1) — the density score that
# separates organic near-dup neighborhoods from template blowups)
# --------------------------------------------------------------------------

_CLUSTERING_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), shingles AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words)
), sigs AS (
  SELECT doc_id, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) AS sig
  FROM (SELECT doc_id, shingle, unnest(range(0, 8)) AS band FROM shingles)
  GROUP BY doc_id, band
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                          AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 4
), tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.src = e1.dst
  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
), tri_per AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
), deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT src AS node FROM pairs
    UNION ALL SELECT dst FROM pairs
  ) GROUP BY node
)
SELECT CAST(d.node AS BIGINT) AS doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                 / (d.degree * (d.degree - 1))
            ELSE CAST(0.0 AS DOUBLE) END AS clustering_coeff
FROM deg d LEFT JOIN tri_per t ON t.node = d.node
"""


@register("graph_clustering_coeff", _CLUSTERING_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree + triangle count + local clustering coefficient per node
    of the near-dup candidate graph.  Builds on the same THREE
    slot-cached stages as graph_triangle_count: the candidate edge list
    (_candidate_edges), the adjacency layer (_adjacency — built once
    here, feeding the triangle count and projected directly for the
    degree, so the degree side re-aggregates nothing) AND the per-node
    triangle aggregate (_triangles_per_node, round-5 VERDICT #5).  Both final join inputs are hash-partitioned
    on `node` by construction, so the join itself adds no exchange.
    The coefficient is an IEEE-exact division of exact integers —
    hash-stable across engines."""
    tune(spark)
    adj = _adjacency(spark, sf_dir)
    tri_per = _triangles_per_node(adj)
    deg = adj.select("node", F.col("d").alias("degree"))
    coeff = F.when(
        F.col("degree") >= 2,
        (2 * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return deg.join(tri_per, "node", "left").select(
        F.col("node").alias("doc_id"),
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
        coeff.alias("clustering_coeff"),
    )
