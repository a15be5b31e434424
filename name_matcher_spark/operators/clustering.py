"""Transitive clustering: connected components over the match-pair graph.

The reference stops at best-match argmax; BASELINE.json's north rule
adds transitive closure into entity clusters. One entry point,
``connected_components``, with one contract: every node is labeled
with the smallest node id of its component (GraphFrames is not
available in this environment).

It runs in two phases:

* min-label propagation, one shuffle per round, for at most
  ``PROPAGATE_ROUNDS`` rounds. Linkage and dedup graphs are star-like
  around base records, so they converge in 1-3 rounds, and a round is
  the cheapest step there is.
* if labels are still changing after those rounds, the current labels
  are handed to large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) as star
  edges ``(node, label)`` next to the graph's edges. Each label lies in
  its node's component, so the components do not change, and the
  contraction needs O(log n) rounds whatever the diameter: long
  duplicate chains (serial re-crawls, chained aliases) where
  propagation alone would take hundreds of rounds.

Contraction alone was about 2x slower on the benchmark's graphs (at
least 2 rounds of ~5 shuffles each, against 1-3 one-shuffle
propagation rounds), which is why propagation goes first. Neither phase
exits quietly: contraction raises ``RuntimeError`` at its round cap.

Each round localCheckpoints so plans don't grow exponentially, and
releases the round before it once it has materialized; only the
returned labels stay persisted.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Propagation rounds before the handoff to contraction. The benchmark's
# graphs converge in 1-3; a chain of n nodes needs about n.
PROPAGATE_ROUNDS = 8
# Contraction needs O(log n) rounds, so reaching this cap means a bug.
CONTRACT_ROUNDS = 40


def release_checkpoints(df: DataFrame) -> None:
    """Unpersist the ``localCheckpoint`` blocks that ``df`` reads (the
    RDD leaves of its plan). Call it once nothing reads ``df`` again."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src: long, dst: long) -> (node: long, cluster_id: long)
    where cluster_id = min node id in the component. Isolated nodes
    (absent from edges) are the caller's concern; a self-loop makes a
    singleton component. Logs one record per call with the rounds each
    phase ran and whether propagation handed off."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Undirected: keep both directions once. Materialized by round 1.
    bidir = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Initial labels: min over the CLOSED 1-hop neighborhood, not the
    # node itself (r06). The node universe needs a groupBy on src
    # either way (bidir is symmetric, so every node appears as src);
    # folding min(dst) into that same aggregate performs round 1 of
    # min-label propagation for free. Same fixpoint, same labels.
    labels = (
        bidir.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("_mn"), F.col("node")).alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    rounds, changed = 0, True
    while changed and rounds < PROPAGATE_ROUNDS:
        rounds += 1
        # One aggregation computes both the new label and whether it
        # changed: self rows carry the old label flagged, neighbor rows
        # carry candidate labels; changed <=> min(all) < min(self).
        neighbor_labels = bidir.join(
            labels, bidir["dst"] == labels["node"], "inner"
        ).select(
            F.col("src").alias("node"),
            F.col("cluster_id"),
            F.lit(False).alias("is_self"),
        )
        merged = neighbor_labels.union(
            labels.select("node", "cluster_id", F.lit(True).alias("is_self"))
        )
        step = (
            merged.groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                (
                    F.min("cluster_id")
                    < F.min(F.when(F.col("is_self"), F.col("cluster_id")))
                ).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        # One job per round: this count scans EVERY partition (no
        # limit — a partial action must not materialize a lazy
        # checkpoint), so it materializes the round's checkpoint AND
        # returns the convergence signal in the same job.
        changed = step.filter(F.col("_changed")).count() > 0
        release_checkpoints(labels)
        labels = step.drop("_changed")

    contract_rounds = 0
    if changed:
        # Star edges (node, label) leave every component as it is: a
        # node's label is a node of its component. bidir holds each edge
        # twice; contraction needs it once.
        graph = bidir.filter(F.col("src") < F.col("dst")).unionByName(
            labels.select(F.col("node").alias("src"), F.col("cluster_id").alias("dst"))
        )
        propagated = labels
        labels, contract_rounds = _contract(graph.toDF("u", "v"))
        release_checkpoints(propagated)
    release_checkpoints(bidir)
    log.info(
        "connected_components: propagation_rounds=%d contraction_rounds=%d "
        "handoff=%s",
        rounds,
        contract_rounds,
        changed,
    )
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges -> for every node u: connect each LARGER neighbor to
    m(u) = min(N(u) ∪ {u}). Strictly decreases large neighbors' labels;
    never creates an edge between two nodes both larger than m."""
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        bidir.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct every edge large->small; for each node u connect all its
    smaller neighbors (and u itself) to m(u) = min of those."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = d.join(m, "u")
    emit1 = nbrs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    emit2 = m.select("u", F.col("m").alias("v"))
    return emit1.union(emit2).filter(F.col("u") != F.col("v")).distinct()


def connected_components_bigstar(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Large-star/small-star contraction from the start, with no
    propagation phase. Same contract as ``connected_components``; kept
    as a query of its own so the contraction is oracle-checked on a
    real graph, not only on the handoff."""
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    return _contract(raw)[0]


def _contract(raw: DataFrame) -> tuple[DataFrame, int]:
    """(u, v) edges -> ((node, cluster_id), rounds) by alternating
    large-star/small-star until the edge set fixpoints, detected via
    (count, sum(u), sum(v)) — label sums are monotone under both
    transforms, so the triple is stationary only at the fixpoint. The
    labels come back materialized, so every intermediate is released."""
    # Self-loop-only nodes are singleton components (same contract as
    # propagation), so collect the node universe BEFORE dropping loops.
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    try:
        for rounds in range(1, CONTRACT_ROUNDS + 1):
            # Lazy checkpoint materialized by the signature agg below —
            # one full-scan job per round (see connected_components).
            nxt = _small_star(_large_star(e)).localCheckpoint(eager=False)
            # Sums in decimal(38,0): encoded nodes legitimately reach
            # ~2^63 (encode_edges admits |id| < 2^62), so a long partial
            # sum of two such nodes already overflows —
            # ARITHMETIC_OVERFLOW under ANSI, a silently wrong (still
            # fixpoint-safe, but why risk it) signature without.
            sig = nxt.agg(
                F.count("*").alias("c"),
                F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
                F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            ).collect()[0]
            release_checkpoints(e)
            e = nxt
            sig = (sig["c"], sig["su"], sig["sv"])
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected components: contraction reached its "
                f"{CONTRACT_ROUNDS}-round cap without a fixpoint"
            )
        # Fixpoint is a star forest: every non-root points straight at
        # its component min. Roots appear only on the v side (or not at
        # all for singleton inputs, excluded upstream).
        labels = e.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
            F.col("u").alias("node"), "cluster_id"
        )
        roots = all_nodes.join(
            labels.select("node"), "node", "left_anti"
        ).withColumn("cluster_id", F.col("node"))
        return labels.unionByName(roots).localCheckpoint(eager=True), rounds
    finally:
        release_checkpoints(e)
        release_checkpoints(all_nodes)


def cluster_pairs(pairs: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Match pairs (id_1, id_2, confidence) -> (side, id, cluster_id).

    Node namespace: table-A ids map to 2*id, table-B ids to 2*id+1 so
    the two id spaces never collide; cluster_id is the min encoded node
    (stable, deterministic). Ids must be non-null and |id| < 2^62 (the
    doubling headroom) — violations fail the job loudly at encode time
    rather than landing a hash-range id in the wrong cluster. Decode is
    pure integer bit arithmetic (shiftright / & 1), NOT floor(node/2):
    long/long division goes through double in Spark SQL and silently
    loses precision beyond 2^53 — exactly the range of xxhash64-derived
    doc ids.
    """
    return decode_components(connected_components(encode_edges(pairs, threshold)))


def encode_edges(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_1, id_2, confidence) -> (src, dst) in the shared node
    namespace. Used by both the batch path above and the incremental
    label store (streaming/clustering.py), so the two can never drift."""
    id_cap = 1 << 62

    def enc(col: str, off: int):
        # Cast to long FIRST: shiftleft on an IntegerType column wraps
        # at 32 bits (silent wrong id — the exact failure this guard
        # exists to prevent). Range check via two comparisons, not
        # abs(): abs(Long.MIN_VALUE) itself overflows under ANSI and
        # wraps under non-ANSI (where MIN_VALUE would then encode to
        # node 0 and merge into id 0's cluster).
        v = F.col(col).cast("long")
        guarded = F.assert_true(
            v.isNotNull() & (v > F.lit(-id_cap)) & (v < F.lit(id_cap)),
            # coalesce: concat(lit, NULL) is NULL, which would erase
            # the whole error message exactly when the id is NULL
            F.concat(
                F.lit(f"cluster_pairs: {col} null or |id|>=2^62: "),
                F.coalesce(v.cast("string"), F.lit("NULL")),
            ),
        )
        # assert_true returns NULL on success; fold it in so it is not
        # pruned as an unused projection.
        return F.coalesce(guarded.cast("long"), F.shiftleft(v, 1) + F.lit(off))

    return pairs.filter(F.col("confidence") >= threshold).select(
        enc("id_1", 0).alias("src"), enc("id_2", 1).alias("dst")
    )


def decode_components(comp: DataFrame) -> DataFrame:
    """(node, cluster_id) -> (side, id, cluster_id), inverse of
    encode_edges over the full long range."""
    return comp.select(
        F.when(F.col("node").bitwiseAND(F.lit(1)) == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("side"),
        F.shiftright(F.col("node"), 1).alias("id"),
        F.col("cluster_id"),
    )
