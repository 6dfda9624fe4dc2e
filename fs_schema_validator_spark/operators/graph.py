"""Connected components over a pair list — the clustering step that turns
near-duplicate PAIRS (MinHash-LSH or SimHash output) into dedup CLUSTERS
with one keeper per cluster.

Iterative min-label propagation: every node starts labeled with itself;
each round a node adopts the minimum label in its closed neighborhood;
fixpoint = every node carries its component's minimum id. Convergence takes
O(component diameter) rounds — and this engine's pair generators are
diameter-friendly by construction: `bucket_pairs`' capped output is a
clique plus a star around the bucket minimum (diameter <= 2 per bucket, so
a handful of rounds even for chained clusters).

Spark shape per round: ONE shuffle (groupBy of the neighbor-label join) on
(node, label) int pairs — never the documents. Lineage is truncated with
localCheckpoint every round so the plan doesn't grow with the iteration
count (the standard pattern for iterative DataFrame algorithms), and the
per-round convergence check rides the same job via an Observation rather
than a second count action.

Two strategies:

- ``strategy="propagate"`` (default): the min-label fixpoint above —
  O(diameter) rounds, the right choice for this engine's own pair
  generators (`bucket_pairs` caps buckets as clique + star, diameter <= 2
  per bucket).
- ``strategy="star"``: alternating large-star / small-star contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) — O(log n) rounds regardless of diameter, the billion-edge
  scale path for adversarial pair sources (e.g. chained rolling-hash
  matches forming long paths). Each half-round is one groupBy(min) plus
  one join on (node, node) int pairs; the edge set monotonically bends
  toward the component minimum until every node points at it directly.

Both converge to the same labeling (component minimum), verified against
each other and the recursive-CTE oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    strategy: str = "propagate",
) -> DataFrame:
    """(node, cluster) for every node appearing in `edges`; `cluster` is
    the minimum node id of its connected component. Deterministic.

    strategy="propagate": O(diameter) min-label fixpoint (default — pair
    sources here have bounded diameter). strategy="star": O(log n)
    large-star/small-star contraction for long-path graphs.

    Raises RuntimeError if the fixpoint is not reached in `max_iter`
    rounds (propagate: a diameter-`max_iter` component — raise the bound
    or use strategy="star")."""
    if strategy == "star":
        return _star_components(edges, src, dst, max_iter)
    if strategy != "propagate":
        raise ValueError(f"unknown strategy {strategy!r}")
    a, b = F.col(src).alias("a"), F.col(dst).alias("b")
    und = (
        edges.select(a, b)
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        # materialize the edge list ONCE: it is consumed by every round's
        # neighbor join, and its lineage is typically the whole candidate
        # pipeline (LSH banding over the corpus) — without this each round
        # re-executes that pipeline. (localCheckpoint blocks are not
        # replicated: an executor loss mid-fixpoint fails the job instead
        # of recomputing — acceptable for a loop this short; use
        # reliable checkpointing for hour-long graph jobs.)
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        from pyspark.sql import Observation

        # min label over the closed neighborhood: own label + each
        # neighbor's current label, one groupBy
        neighbor = (
            und.join(labels, und["b"] == labels["node"])
            .select(F.col("a").alias("node"), "cluster")
        )
        proposed = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
        )
        obs = Observation()
        joined = (
            proposed.alias("n")
            .join(labels.alias("o"), "node")
            .observe(
                obs,
                F.sum(
                    (F.col("n.cluster") != F.col("o.cluster")).cast("long")
                ).alias("changed"),
            )
            .select("node", F.col("n.cluster").alias("cluster"))
        )
        labels = joined.localCheckpoint(eager=True)
        if int(obs.get["changed"] or 0) == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _star_components(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al. SoCC'14).

    large-star: every node u sends each LARGER neighbor to
    min(N(u) ∪ {u}); small-star: over larger→smaller directed edges,
    every node u re-points its smaller neighborhood (and itself) at that
    minimum. Each half is one groupBy(min) + one join, all on int pairs;
    the round signature (count, order-insensitive xxhash sum) rides the
    localCheckpoint materialization via an Observation, so convergence
    costs no extra action. Terminates in O(log n) rounds for any
    topology — the scale path the propagate loop documents."""
    from pyspark.sql import Observation

    # ONE materialization of the (typically expensive) upstream pair
    # pipeline: canonicalize with self-loops retained, checkpoint, then
    # derive both the node universe and the working edge list from the
    # checkpointed block — a separate nodes checkpoint would run the
    # whole LSH/banding lineage a second time (the double-execution the
    # propagate strategy's own comment warns against).
    canon = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .distinct()
    )
    # working edge list: larger -> smaller, self-loops dropped
    e = canon.where(F.col("a") != F.col("b"))
    prev_e = None
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iter):
        # --- large-star: consider each undirected edge from both ends ---
        und = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            und.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select("a", F.least(F.col("a"), F.col("_mb")).alias("m"))
        )
        large = (
            und.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # --- small-star: larger -> smaller edges re-point at the min ---
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select("a", F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
        )
        obs = Observation()
        observed = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # order-insensitive set signature; terms bounded to 2^32 so
            # the sum cannot overflow long under ANSI (needs 2^31 rows)
            F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(2**32))).alias("h"),
        )
        prev_e, e = e, observed.localCheckpoint(eager=True)
        sig = (int(obs.get["n"] or 0), int(obs.get["h"] or 0))
        if sig == prev_sig:
            # the signature is probabilistic (a colliding pair of edge
            # sets terminates early and returns wrong labels silently) —
            # confirm set equality EXACTLY with one anti-join over the
            # two checkpointed lists before declaring the fixpoint; this
            # runs once per signature match, not per round
            if (
                prev_e.join(e, ["a", "b"], "left_anti").limit(1).count()
                == 0
            ):
                break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    # fixpoint: every non-minimum node points directly at its component
    # minimum; minima label themselves
    labels = e.groupBy("a").agg(F.min("b").alias("cluster")).select(
        F.col("a").alias("node"), "cluster"
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("cluster", F.col("node")).alias("cluster")
    )


def dedup_cluster_summary(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(cluster, n_docs, keeper, dropped) per component: the actionable
    dedup verdict — keep the minimum id, drop the rest."""
    cc = connected_components(edges, src, dst)
    return (
        cc.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("node").alias("keeper"),
            F.sort_array(
                F.collect_list(F.when(F.col("node") != F.col("cluster"), F.col("node")))
            ).alias("dropped"),
        )
    )
