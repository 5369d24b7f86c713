"""Duplicate-cluster resolution over LSH candidate pairs.

The last mile of a training-data dedup: ``dedup_lsh_pairs`` emits candidate
*pairs* (docs sharing a MinHash band); an actual dedup must resolve those
pairs into connected components and pick one canonical document per
component, producing a ``doc_id -> (cluster_id, keep)`` table a downstream
job can anti-join against. (The reference's dedup surface stops at content
hashing — include/pdf_parser.h content_hash / the a6 axis — so this is part
of the beyond-reference training-data brief, not a port.)

Algorithm: iterative min-label propagation with pointer jumping.

- label(v) starts as v's own doc_id.
- Each round: label(v) <- min(label(v), min over neighbours' labels)
  (one equi-join edges->labels + one groupBy), then one pointer-jump step
  label(v) <- label(label(v)) (one equi-join labels->labels). Both joins
  are hash-partitioned equi-joins — never a cartesian — and shuffle only
  the (node, label) pairs, which are two BIGINTs per edge endpoint.
- Converged when sum(label) stops falling: labels are monotone
  non-increasing per node, so the global sum (taken as DECIMAL(38,0) — a
  BIGINT sum overflows at 10^12-document scale) is a strictly decreasing
  fixpoint detector costing one scalar aggregate per round.
- Pointer jumping makes convergence O(log diameter); near-duplicate
  clusters are near-cliques (diameter 2-3 in practice), so 2-3 rounds
  settle real corpora. ``max_iters`` bounds the loop; exhausting it
  without reaching the fixpoint raises (a partial clustering would
  silently under-deduplicate downstream).

Scale notes (100 TB / 10^12 docs):

- Each round references ``labels`` three times, so without a lineage cut
  the plan tree grows exponentially with the round count. Rounds are cut
  with ``util.checkpoint`` (the iterative-loop tier: localCheckpoint plus
  the persisted RDD's JVM handle, read off the checkpointed plan rather
  than by diffing the global persistent-RDD map, which races with
  concurrent jobs). The previous round's snapshot is released through
  that handle as soon as the new one is materialized. In-loop residency:
  edges + one label table; on return (or raise) edges are freed too —
  only the final label snapshot, which the returned DataFrame reads,
  stays resident. localCheckpoint blocks are not fault-tolerant; a
  reliable checkpoint directory would be the cluster-scale substitute.
  Non-iterative intermediates (e.g. the LSH member table behind the
  candidate pairs) use the other tier, ``util.materialize``: persisted
  with lineage, so they recompute after a loss, and freed by
  ``spark.catalog.clearCache()`` at the next query boundary.
- The label table is 16 bytes/node; the edge table is bounded by the LSH
  band caps upstream (mega-buckets are skipped at candidate generation,
  so no skewed join key survives to this stage). AQE handles residual
  skew on the dst-side join.
- The canonical pick is the component-minimum doc_id: deterministic,
  computable inside the same propagation (no second pass), and stable
  under re-runs — required for a resumable drop-list at scale. Swapping
  in a quality-ranked pick is a one-column change (propagate
  struct(quality_rank, doc_id) min instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_pdf_parser_spark.util import checkpoint


class ClusterConvergenceError(RuntimeError):
    """max_iters exhausted before the label fixpoint: the clustering is
    incomplete and must not be consumed (it would under-deduplicate)."""


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    edges = pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _initial_labels(edges: DataFrame) -> DataFrame:
    return (edges.select(F.col("src").alias("doc_id")).distinct()
            .withColumn("label", F.col("doc_id")))


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round + pointer jump — THE round shape; shared by
    resolve_clusters and the plan-pin test so the pin can't drift."""
    nbr = (edges.join(labels, edges["dst"] == labels["doc_id"])
           .groupBy("src").agg(F.min("label").alias("nbr_min")))
    stepped = (labels.alias("l")
               .join(nbr.alias("n"),
                     F.col("l.doc_id") == F.col("n.src"), "left")
               .select(F.col("l.doc_id").alias("doc_id"),
                       F.least(F.col("l.label"),
                               F.coalesce(F.col("n.nbr_min"),
                                          F.col("l.label")))
                       .alias("label")))
    # pointer jump: label <- label(label); every label IS a node id
    return (stepped.alias("x")
            .join(labels.alias("y"),
                  F.col("x.label") == F.col("y.doc_id"), "left")
            .select(F.col("x.doc_id").alias("doc_id"),
                    F.coalesce(F.col("y.label"), F.col("x.label"))
                    .alias("label")))


def resolve_clusters(pairs: DataFrame, docs: DataFrame,
                     max_iters: int = 20,
                     rank_col: str | None = None,
                     stats: dict | None = None) -> DataFrame:
    """Resolve candidate pairs into components; emit the keep/drop table.

    Parameters
    ----------
    pairs : DataFrame(doc_a BIGINT, doc_b BIGINT) — undirected candidate
        edges (e.g. ``dedup_lsh_pairs_df`` output).
    docs : DataFrame with a ``doc_id`` column — the full corpus; docs
        appearing in no pair become singleton clusters (keep=1).
    rank_col : optional column on ``docs``; when given, the canonical
        survivor per cluster is the member with the SMALLEST rank (ties →
        smallest doc_id) instead of the smallest id — what a real pipeline
        wants (keep the best-quality duplicate, not the oldest). The
        labels stay BIGINT doc_ids and the decimal-sum fixpoint detector
        is untouched: membership never depends on ranks, so the ranked
        pick is one hash-partitioned window over cluster_id AFTER
        convergence (rank + id are ~16 bytes/doc of shuffle), not a
        struct-label propagation that would need a lexicographic-monotone
        packing for the convergence proof.

    Returns
    -------
    DataFrame(doc_id BIGINT, cluster_id BIGINT, keep INT) where
    cluster_id = min doc_id of the connected component and
    keep = 1 iff doc_id is the canonical survivor (== cluster_id in the
    unranked form; the rank-minimal member with ``rank_col``).

    Raises
    ------
    ClusterConvergenceError if the labels are STILL CHANGING after
    max_iters rounds (the sum detector runs one extra confirming round on
    top, so a graph that settles on exactly the last permitted round
    succeeds; pointer jumping needs O(log diameter) rounds, so hitting
    this means a pathological chain or max_iters set too low).
    """
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    edges, edges_rdd = checkpoint(_symmetric_edges(pairs))
    labels_rdd = None
    try:
        labels, labels_rdd = checkpoint(_initial_labels(edges))

        prev = _label_sum(labels)
        converged = prev is None  # no candidate pairs at all
        changing_rounds = 0
        while not converged:
            new_labels, new_rdd = checkpoint(
                _propagation_round(edges, labels)
            )
            try:
                cur = _label_sum(new_labels)
            except BaseException:
                # the outer handler frees labels_rdd/edges_rdd; the
                # just-persisted snapshot is only ours to free here
                new_rdd.unpersist(False)
                raise
            labels_rdd.unpersist(False)  # bound residency: edges + 1 label
            labels, labels_rdd = new_labels, new_rdd
            if cur == prev:
                converged = True  # confirming round: fixpoint reached
                break
            changing_rounds += 1
            # max_iters bounds label-CHANGING rounds; the sum detector
            # always needs one extra confirming round on top, so a graph
            # that converges on exactly the last permitted round succeeds
            if changing_rounds > max_iters:
                raise ClusterConvergenceError(
                    f"label propagation still changing after "
                    f"{max_iters} rounds")
            prev = cur
    except BaseException:
        # nothing is returned on the error path: free every block
        if labels_rdd is not None:
            labels_rdd.unpersist(False)
        edges_rdd.unpersist(False)
        raise
    # success: the returned DataFrame reads ONLY the final labels snapshot
    # (the largest table — edges — is released here, not at session end);
    # the final labels block lives on behind the returned lineage and is
    # freed when the caller is done with the result (or GC'd with the RDD)
    edges_rdd.unpersist(False)
    if stats is not None:
        # label-CHANGING rounds + the confirming round (probe telemetry:
        # pointer jumping predicts changing_rounds <= log2(diameter)+1)
        stats["changing_rounds"] = changing_rounds
        stats["total_rounds"] = changing_rounds + (0 if prev is None else 1)

    doc_cols = ["doc_id"] + ([rank_col] if rank_col else [])
    assigned = (docs.select(*doc_cols).alias("d")
                .join(labels.alias("c"),
                      F.col("d.doc_id") == F.col("c.doc_id"), "left")
                .select(F.col("d.doc_id").alias("doc_id"),
                        F.coalesce(F.col("c.label"), F.col("d.doc_id"))
                        .alias("cluster_id"),
                        *([F.col(f"d.{rank_col}")] if rank_col else [])))
    if rank_col is None:
        return assigned.withColumn(
            "keep",
            (F.col("doc_id") == F.col("cluster_id")).cast("int"))

    from pyspark.sql import Window

    # NULLS LAST explicitly: Spark's asc() is nulls-first, DuckDB's (and
    # the oracle's) ASC is nulls-last — and a missing rank must mean
    # "worst member", never "wins the canonical pick"
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col(rank_col).asc_nulls_last(), F.col("doc_id").asc()))
    return (assigned
            .withColumn("keep",
                        (F.row_number().over(w) == 1).cast("int"))
            .select("doc_id", "cluster_id", "keep"))


def propagation_round_plan(pairs: DataFrame, docs: DataFrame) -> str:
    """One propagation round's physical plan, for plan-shape tests: the
    round must be hash equi-joins only (no cartesian / nested-loop).
    Built from the SAME _propagation_round the solver runs."""
    edges = _symmetric_edges(pairs)
    labels = _initial_labels(edges)
    round_df = _propagation_round(edges, labels)
    return round_df._jdf.queryExecution().executedPlan().toString()
