"""Duplicate-cluster resolution (operators/clusters.py): ground-truth
union-find comparison on random graphs + plan-shape pins."""

import random

from pyspark.sql import functions as F

from fast_pdf_parser_spark.operators.clusters import (
    propagation_round_plan,
    resolve_clusters,
)


def _union_find_clusters(n_docs, edges):
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min doc_id of component
    root_min = {}
    for v in range(n_docs):
        r = find(v)
        root_min[r] = min(root_min.get(r, v), v)
    return {v: root_min[find(v)] for v in range(n_docs)}


def _run(spark, n_docs, edges):
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    if edges:
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges],
            "doc_a long, doc_b long")
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in resolve_clusters(pairs, docs).collect()}
    want = _union_find_clusters(n_docs, edges)
    assert len(got) == n_docs
    for v in range(n_docs):
        assert got[v][0] == want[v], f"doc {v}: {got[v][0]} != {want[v]}"
        assert got[v][1] == (1 if want[v] == v else 0)


def test_chain_and_singletons(spark):
    # chain 0-1-2-3 (diameter 3 — exercises multiple propagation rounds),
    # pair 5-6, singletons 4 and 7
    _run(spark, 8, [(0, 1), (1, 2), (2, 3), (5, 6)])


def test_long_path_needs_pointer_jumping(spark):
    # a 12-node path: naive neighbour-min needs 11 rounds; with pointer
    # jumping it must converge within the max_iters=20 bound easily, and
    # exactly (the union-find comparison catches premature stop)
    edges = [(i, i + 1) for i in range(11)]
    _run(spark, 14, edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(2026)
    for trial in range(3):
        n = 40
        n_edges = rng.randint(5, 60)
        edges = [tuple(sorted(rng.sample(range(n), 2)))
                 for _ in range(n_edges)]
        _run(spark, n, edges)


def test_no_pairs_all_singletons(spark):
    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    rows = resolve_clusters(pairs, docs).collect()
    assert all(r["cluster_id"] == r["doc_id"] and r["keep"] == 1
               for r in rows)
    assert len(rows) == 5


def test_duplicate_edges_and_self_loops_tolerated(spark):
    _run(spark, 6, [(0, 1), (0, 1), (1, 0), (2, 2), (3, 4)])


def test_propagation_round_is_equi_join_only(spark):
    """The 100TB-shape pin: one propagation round = hash equi-joins, never
    a cartesian/nested-loop product, and no per-row Python."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "doc_a long, doc_b long")
    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    plan = propagation_round_plan(pairs, docs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_keep_column_is_anti_joinable(spark):
    """The intended consumption shape: corpus anti-join drop-list."""
    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    clusters = resolve_clusters(pairs, docs)
    survivors = (docs.join(clusters.filter(F.col("keep") == 0),
                           "doc_id", "left_anti"))
    assert sorted(r["doc_id"] for r in survivors.collect()) == [0, 3, 4, 5]


def test_nonconvergence_raises_not_partial(spark):
    """Exhausting max_iters before the fixpoint must raise — a partial
    clustering (multiple keep=1 survivors in one true component) would
    silently under-deduplicate downstream."""
    import pytest as _pytest

    from fast_pdf_parser_spark.operators.clusters import (
        ClusterConvergenceError,
    )

    edges = [(i, i + 1) for i in range(11)]  # 12-node path
    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with _pytest.raises(ClusterConvergenceError):
        resolve_clusters(pairs, docs, max_iters=1).collect()


def test_boundary_convergence_succeeds(spark):
    """A graph that settles on exactly the last permitted changing round
    must succeed — the confirming round is on top of max_iters, not
    inside it (a single edge converges in 1 changing round)."""
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in resolve_clusters(pairs, docs, max_iters=1).collect()}
    assert rows == {0: (0, 1), 1: (0, 0), 2: (2, 1)}


def test_ranked_canonical_pick(spark):
    """rank_col: the survivor is the best-ranked member (ties -> smallest
    id), NOT the smallest id; cluster membership is unchanged; singletons
    keep themselves."""
    docs = spark.createDataFrame(
        [(0, 5), (1, 3), (2, 1), (3, 9)], "doc_id long, quality_rank long"
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in resolve_clusters(pairs, docs,
                                      rank_col="quality_rank").collect()}
    # cluster ids stay the component-minimum doc_id (stable labels);
    # the keeper is doc 2 (rank 1), not doc 0 (min id)
    assert rows == {0: (0, 0), 1: (0, 0), 2: (0, 1), 3: (3, 1)}


def test_ranked_pick_null_rank_loses(spark):
    """A NULL rank means 'worst member' (nulls-last, matching the DuckDB
    oracle's ASC default) — it must never win the canonical pick."""
    docs = spark.createDataFrame(
        [(0, None), (1, 5)], "doc_id long, quality_rank long")
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    rows = {r.doc_id: r.keep
            for r in resolve_clusters(pairs, docs,
                                      rank_col="quality_rank").collect()}
    assert rows == {0: 0, 1: 1}


def test_ranked_pick_tiebreak_is_doc_id(spark):
    docs = spark.createDataFrame(
        [(4, 7), (5, 7)], "doc_id long, quality_rank long")
    pairs = spark.createDataFrame([(4, 5)], "doc_a long, doc_b long")
    rows = {r.doc_id: r.keep
            for r in resolve_clusters(pairs, docs,
                                      rank_col="quality_rank").collect()}
    assert rows == {4: 1, 5: 0}


def test_block_manager_residency_bounded(spark):
    """localCheckpoint snapshots from finished rounds must actually be
    freed (DataFrame.unpersist is a no-op for them; the solver unpersists
    at the JVM RDD level)."""
    sc = spark.sparkContext

    def n_persistent():
        return sc._jsc.getPersistentRDDs().size()

    base = n_persistent()
    edges = [(i, i + 1) for i in range(11)]  # multi-round convergence
    docs = spark.range(14).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    resolve_clusters(pairs, docs).collect()
    # only the final label snapshot (read by the returned DataFrame) may
    # remain; edges and every superseded round are freed by the solver
    assert n_persistent() - base <= 1


def test_error_path_frees_all_blocks(spark):
    """ClusterConvergenceError must not leak edges or label snapshots —
    nothing is returned, so nothing may stay resident."""
    import pytest
    from fast_pdf_parser_spark.operators.clusters import (
        ClusterConvergenceError,
    )
    sc = spark.sparkContext

    def ids():
        return {int(k) for k in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    # set-based, not count-based: in a shared session the ContextCleaner
    # may asynchronously unpersist PRIOR tests' garbage-collected blocks
    # between the two snapshots, shifting a global count either way
    before = ids()
    edges = [(i, i + 1) for i in range(40)]  # long chain, tiny budget
    docs = spark.range(41).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(ClusterConvergenceError):
        resolve_clusters(pairs, docs, max_iters=1)
    assert ids() - before == set(), "error path left new persisted blocks"


def test_checkpointed_handle_is_live_jrdd(spark):
    """Pin the private-JVM-internals read in util.checkpoint: the
    returned handle must be a LIVE JRDD whose id appears in the JVM's
    persistent-RDD map and whose unpersist actually drops the block — a
    Spark upgrade that changes the plan shape turns this red instead of
    silently turning cleanup into a leak. Asserts on ID SETS, never
    counts (the async ContextCleaner makes counts flaky)."""
    from fast_pdf_parser_spark.util import checkpoint

    df = spark.range(64).selectExpr("id AS doc_id", "id AS label")
    ckpt, handle = checkpoint(df)
    rid = int(handle.id())  # a live JRDD has an id

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    assert rid in persistent_ids()
    ckpt.count()  # the checkpointed lineage is readable while persisted
    handle.unpersist(False)
    assert rid not in persistent_ids()


def test_checkpointed_transient_error_surfaces():
    """util.checkpoint has no fallback: a failure while reading the
    handle must propagate, never be swallowed into a silent leak."""
    import pytest

    from fast_pdf_parser_spark.util import checkpoint

    class _BoomJdf:
        def queryExecution(self):
            raise RuntimeError("transient JVM hiccup")

    class _FakeCkpt:
        _jdf = _BoomJdf()

    class _FakeDf:
        def localCheckpoint(self, eager=True):  # noqa: ARG002
            return _FakeCkpt()

    with pytest.raises(RuntimeError, match="transient JVM hiccup"):
        checkpoint(_FakeDf())
