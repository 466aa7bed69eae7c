"""Connected components via iterative min-label propagation — the
cluster step of near-duplicate deduplication (LSH/Jaccard pairs →
duplicate groups → one canonical doc per group).

Algorithm: every node starts labeled with its own id; each round,
every node takes the min of its label and its neighbors' labels;
converged when no label changes. Rounds = graph diameter, which for
near-dup graphs is tiny (dup clusters are dense cliques-ish). Each
round is one join + one groupBy — all shuffles on the node key, no
driver-side graph state (only the convergence counter comes back).
This is the plain-DataFrame version of the map-reduce CC algorithms
(cf. Kiveris et al. '14 "Connected Components in MapReduce"); swap in
large-star/small-star if diameters ever grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 10
) -> DataFrame:
    """→ (node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair once is fine). Nodes are
    whatever appears in ``src``/``dst``.
    """
    # localCheckpoint (not persist): materializes the propagation
    # relation AND truncates its logical lineage, so every round's plan
    # is (LogicalRDD ⋈ labels) instead of re-analyzing the caller's full
    # edge-construction subtree — constraint derivation over deep
    # Generate/Window/Join lineages was both a per-round planning cost
    # and (round 11) the trigger of a Catalyst UnionBase.
    # rewriteConstraints "key not found" internal error under the new
    # bucket-generated pair plans. Same fault-tolerance note as the
    # in-loop checkpoints below.
    # eager=False does not defer the caller's work: under AQE,
    # localCheckpoint builds its RDD from the final adaptive plan, so
    # every upstream shuffle stage runs at this call — for a lazy edge
    # frame, the whole edge build (neardup benchmark, seed 101, 4 vCPU:
    # 27 jobs, 13.7 s here, against 0.3-0.4 s for the sizing count
    # below). eager=False only saves the separate job an eager
    # checkpoint spends filling its blocks; the count fills them.
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct().localCheckpoint(eager=False)
    # Size the ITERATION parallelism to the graph, not the session:
    # near-dup edge sets are typically orders of magnitude smaller than
    # the corpus that produced them, and every propagation round is a
    # join+agg over ONLY these relations — running each round as
    # 32-partition waves is pure scheduling overhead (round-6 profile:
    # ~10 sequential jobs of ~2k rows each dominated the CC share of
    # t_dedup_best_keep). One up-front count of the cached edge list
    # picks ~100k edges/partition; big graphs keep full parallelism.
    n_edges = both.count()
    parts = max(1, min(both.rdd.getNumPartitions(), n_edges // 100_000 + 1))
    if parts < both.rdd.getNumPartitions():
        # the repartition's shuffle runs at this call (AQE, as above);
        # the initial label-sum job below fills the checkpoint
        both = both.repartition(parts, "u").localCheckpoint(eager=False)
    labels = (
        both.select(F.col("u").alias("node")).distinct().withColumn("lab", F.col("node"))
    ).persist()

    # Convergence check (optimization round 11, guide §2.4): labels are
    # per-node monotone NON-INCREASING (new = min(own, neighbors) and
    # the pointer jump adopts y.lab <= x.lab), so Σlab is strictly
    # decreasing until the fixpoint and "Σlab unchanged" ⟺ "no label
    # changed". The previous per-round check joined new vs old labels
    # and counted diffs — a join + shuffle + count job per round; the
    # sum is ONE map-side-combinable aggregate over the just-
    # checkpointed labels (decimal sum: exact at any node-id magnitude
    # and n, so the equality test cannot be fooled by rounding).
    def _lab_sum(lbl: DataFrame):
        row = lbl.agg(F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")).collect()[0]
        return row["s"]

    prev_sum = _lab_sum(labels)
    converged = False
    for _ in range(max_iter):
        # neighbor-min messages, PRE-AGGREGATED before the merge
        # (map-side combinable min), then merged into the node labels
        # via a left join instead of the previous union+groupBy: the
        # same min(own ∪ neighbor labels) per node, without a Union
        # node (whose constraint rewrite is both per-round planning
        # cost and, under round-11's bucket-generated edge plans, the
        # trigger of a Catalyst rewriteConstraints internal error).
        msgs_min = (
            both.join(labels, both["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lab").alias("mlab"))
        )
        # localCheckpoint (not persist): TRUNCATES the lineage each round.
        # With persist alone, round N's plan nests rounds 1..N-1 as
        # InMemoryRelations and every downstream consumer re-analyzes a
        # several-hundred-node tree (observed ~5x wall-clock on the
        # leakage-split audits). Cost: lineage truncation means blocks
        # on a LOST executor are unrecoverable — the job fails and must
        # be restarted (strictly weaker fault tolerance than persist,
        # which keeps lineage for recompute). At cluster scale, set
        # spark.sparkContext.setCheckpointDir and use reliable
        # checkpoint() instead to survive executor loss.
        propagated = (
            labels.select("node", "lab")
            .join(msgs_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("mlab"), F.col("lab"))
                ).alias("lab"),
            )
        )
        # pointer jumping (path halving): also adopt the label OF my
        # label's node, so label distance halves every round and
        # convergence is O(log diameter) instead of O(diameter) —
        # plain neighbor-min propagation failed to converge in 10
        # rounds on sf0.1's chain-shaped near-dup components. y.lab
        # <= x.lab always (labels are monotone-decreasing node ids),
        # so the jump never regresses.
        # eager=False (§2.6 job fusion, round 12): the round's shuffle
        # stages still run at this call (AQE, as above), but the
        # label-sum collect right below fills the checkpoint, saving
        # the job an eager checkpoint would add per round.
        new_labels = (
            propagated.alias("x")
            .join(
                propagated.alias("y"),
                F.col("x.lab") == F.col("y.node"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("y.lab"), F.col("x.lab")).alias("lab"),
            )
        ).localCheckpoint(eager=False)
        new_sum = _lab_sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    both.unpersist()
    if not converged:
        # silent truncation would report one real cluster as several
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(label sum still decreasing) — raise max_iter (graph "
            f"diameter exceeds it) or switch to large-star/small-star"
        )
    return labels.select("node", F.col("lab").alias("component"))
