"""Graph operators: fixed-iteration PageRank, Spark-first.

Third iterative-algorithm showcase next to connected components
(dedup_text.py) and k-means (clustering.py). In a training-data
pipeline PageRank-style scores rank crawl/citation graphs for
quality-weighted sampling (the "document importance" signal).

Cross-engine determinism (repo-wide rules): ranks are scaled integers;
each round is `new = 0.15*SCALE + 0.85 * sum(rank // out_degree)` with
*floor* division on both steps, so every intermediate is exact int64
arithmetic — bit-identical on any partitioning or engine. Ranks are
therefore up to a constant the same ordering PageRank gives; the
deliberate floor truncation (< out_degree per edge) is documented, not
hidden in float noise.

Scale shape per iteration: one shuffle join (edges ⋈ ranks on src — the
degree is attached to the edge relation ONCE before the loop, so the
static edge side is hash-partitioned by src and reused every round) and
one hash aggregate on dst with map-side partial sums. Nothing iterates
on the driver; `iterations` is a small fixed constant. The edge relation
is localCheckpoint-ed to truncate lineage (swap for reliable
`checkpoint` on a real cluster). int64 headroom: total mass ~ n_nodes *
SCALE; 85 * mass must stay < 2^63, so SCALE=1e9 is safe to ~1e8 nodes —
beyond that lower SCALE or move the sum to decimal(38,0).

The returned plans read their (per-round) checkpoints, so no operator
here releases one: the code that runs the query does, when its
``session.checkpoint_scope`` exits.

Reference parity: the reference warehouse has no graph operator — this
is a labeled extension (SURVEY.md §2.11) for the 100 TB pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING_NUM = 85  # 0.85 as an integer percentage
SCALE = 10**9


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: both orientations,
    distinct. Guarantees every node has out-degree >= 1 (no dangling
    mass) so fixed-point iteration needs no dangling redistribution."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.union(rev).distinct()


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = SCALE,
) -> DataFrame:
    """Run ``iterations`` PageRank rounds over the symmetrized edge list
    and return (node_id, rank_scaled). Initial rank = ``scale`` per node
    (i.e. ranks are N-normalized up to the constant factor)."""
    sym = symmetrize(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # static per-iteration build side: edge list with out-degree attached,
    # partitioned by src once and reused by every round's join
    e = sym.join(deg, "src").localCheckpoint(eager=True)
    # initial ranks DERIVE FROM THE CHECKPOINT: the node set is e's
    # distinct src. Deriving it from `deg` instead re-executes the whole
    # edge derivation (base join + distinct + aggregate) in the final
    # job, because exchange reuse never crosses the checkpoint boundary
    # — the one iterative kernel here that had that flaw (bfs/bellman/
    # kcore all checkpoint their base relation first). Same rows: deg
    # has exactly one row per src.
    ranks = (
        e.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(scale).cast("bigint").alias("rank"))
    )
    base = (15 * scale) // 100
    for _ in range(iterations):
        contribs = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst"), F.expr("`rank` div `__deg`").alias("__c")
        )
        ranks = contribs.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(base) + F.expr(f"({DAMPING_NUM} * sum(__c)) div 100"))
            .cast("bigint")
            .alias("rank")
        )
    return ranks.select(F.col("node").alias("node_id"), F.col("rank").alias("rank_scaled"))


def bfs_min_dist(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Bounded-depth BFS over the symmetrized edge list: every node
    reachable from any seed within ``max_hops`` hops, with its EXACT
    minimum hop distance. Returns (node, dist); seeds carry dist 0 even
    when isolated. The batch analog of a bounded recursive CTE (the
    reference has no recursion either — labeled extension next to
    PageRank / connected components).

    Per hop: one shuffle join of the static (checkpointed) edge relation
    against the CURRENT frontier only — never the full visited set — a
    distinct on the new frontier, and an anti-join against visited, all
    hash-partitioned on node. Frontiers are eagerly checkpointed, so
    lineage stays O(1) per hop and each round's work is proportional to
    the frontier, the property that makes BFS tractable when the graph
    is 100 TB but the k-hop neighborhood is not. ``max_hops`` is a small
    fixed constant (a bounded recursion, not a fixpoint loop)."""
    sym = symmetrize(edges).localCheckpoint(eager=True)
    # the operator owns the distinct-seed invariant (ADVICE r7): a
    # duplicated seed id would ride into visited verbatim and emit
    # duplicate (node, dist) rows; the dedup runs once, pre-checkpoint
    visited = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            sym.join(frontier, sym["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("int"))
            # lazy: no action runs inside this bounded loop, so the
            # frontier materializes inside the consumer's job while the
            # checkpoint still truncates the per-hop plan at build time
            # — one job instead of one per hop
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def bellman_ford_min_cost(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Bounded Bellman-Ford: minimum path COST from any seed within
    ``max_hops`` edges, over the undirected weighted edge list
    ``edges(src, dst, w)`` (integer weights — costs stay exact int64,
    bit-identical on any partitioning or engine). Returns (node, cost);
    seeds carry cost 0. The weighted companion of ``bfs_min_dist``:
    hop-count BFS answers "how far", this answers "how cheap".

    DELTA relaxation, not full relaxation: each round expands only the
    nodes whose cost IMPROVED last round (classic Bellman-Ford queue
    optimization). A node improved at round j propagates at j+1, and
    every shortest <=k-edge path improves monotonically along its
    prefix rounds, so k delta rounds = k full relaxations — but each
    round's join is O(improved-frontier adjacency), never O(graph),
    the property that keeps bounded search tractable when the graph is
    100 TB and the k-hop neighborhood is not. Per round: one shuffle
    join of the checkpointed symmetric edge relation against the
    frontier, a min-aggregate on dst (map-side partials collapse
    parallel edges), a broadcast-free left join against current bests,
    and an anti-join merge — all hash-partitioned on node. Frontiers
    eagerly checkpointed: lineage O(1) per round.
    """
    fwd = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w").cast("long").alias("w")
    )
    # parallel edges collapse to their min weight once, before the loop
    sym = (
        fwd.union(rev).groupBy("src", "dst").agg(F.min("w").alias("w"))
    ).localCheckpoint(eager=True)
    # distinct-seed invariant owned here (ADVICE r7): a duplicated seed
    # would carry both copies through every anti-join merge (a seed's
    # cost-0 row never improves, so it is never deduped later)
    best = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = best
    for _ in range(max_hops):
        cand = (
            sym.join(frontier, sym["src"] == frontier["node"])
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        improved = (
            cand.join(best.select("node", F.col("cost").alias("old")), "node", "left")
            .filter(F.col("old").isNull() | (F.col("cost") < F.col("old")))
            .select("node", "cost")
            .localCheckpoint(eager=False)
        )
        best = (
            best.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            # lazy, same rationale as the frontier above
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return best


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` iterations of the standard
    peel (drop nodes with degree < k, take the induced subgraph,
    repeat) over the undirected view of ``edges(src, dst)``. Returns
    the surviving nodes with their post-peel degrees ``(node_id,
    degree)``. When the peel has converged within ``rounds`` the result
    IS the k-core; with fewer rounds it is the (well-defined)
    intermediate state of the cascade — callers pin ``rounds`` to the
    depth they can afford, exactly like the other bounded iterative
    operators here (PageRank, Bellman-Ford).

    Scale shape per round: one hash aggregate for degrees (map-side
    partials) and two shuffle joins restricting to surviving endpoints
    — all partitioned on node ids; the src-side join reuses the
    degree aggregate's partitioning. Nothing iterates on the driver;
    the edge relation is eagerly localCheckpoint-ed each round so
    lineage stays O(1) (swap for reliable ``checkpoint`` on a real
    cluster). The keep-set is joined, never collected or broadcast —
    it shrinks monotonically but starts at |nodes|.
    """
    alive = symmetrize(edges).localCheckpoint(eager=True)
    for _ in range(rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        alive = (
            alive.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            # lazy: the per-round plan still truncates at build time;
            # materialization folds into the final job
            .localCheckpoint(eager=False)
        )
    return (
        alive.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .select(F.col("src").alias("node_id"), "degree")
    )
