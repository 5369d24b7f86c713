"""Distributed BPE vocabulary training (Sennrich et al. 2016).

Two forms share one semantics (greedy leftmost-first merges over the
word-frequency table, '·' end-of-word marker, (count DESC, pair ASC)
tiebreak — pinned against an independent imperative reference in
tests/test_bpe_winnow.py):

- ``relational.bpe_train_sql(steps)``: one SQL statement, the
  oracle/driver-row form (``tokenizer_bpe_train``). Spark INLINES
  deterministic CTEs, so each iteration's ~3 references compound: at 3
  steps the plan re-derives the word table ~3^3 times. Fine for a few
  steps and for DuckDB (which materializes CTEs); wrong shape for a real
  vocabulary run.
- ``train_bpe(spark, docs, steps)`` (this module): the production shape —
  the corpus collapses ONCE to the word-frequency table, the symbol table
  is lineage-cut each iteration with ``util.checkpoint`` (vocabulary-sized:
  ~O(sqrt corpus) rows; the 100 TB corpus is read exactly once), so every
  step is a linear plan over a few-GB relation, and the only driver
  transfer is the ONE-ROW argmax per step. steps=50k is the same loop, not
  a bigger plan. Of the two materialization tiers in ``util`` this loop
  needs the cut, not ``materialize`` (persist keeps lineage, so plan depth
  would still grow with steps). Each step releases the previous snapshot
  through its RDD handle, and the last one is released before returning:
  storage is O(1) snapshots at any step count, and none outlives the
  call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fast_pdf_parser_spark.util import checkpoint


def train_bpe(spark: SparkSession, docs: DataFrame,
              steps: int) -> list[tuple[str, int]]:
    """Learn ``steps`` BPE merges from ``docs`` (needs a ``text`` column).

    Returns [(merged_symbol, pair_count), ...] in merge order. Stops
    early if no pair remains (fully merged corpus).
    """
    wfreq = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .filter("w <> ''")
             .groupBy("w").agg(F.count("*").alias("freq"))
             .selectExpr("w || '·' AS word", "freq"))
    syms = (wfreq
            .select("word", "freq",
                    F.explode(F.expr("sequence(1, length(word))"))
                     .alias("i"))
            .withColumn("sym", F.expr("substr(word, i, 1)")))

    w_doc = Window.partitionBy("word").orderBy("i")
    merges: list[tuple[str, int]] = []
    handle = None  # the live symbol-table snapshot
    try:
        for _ in range(steps):
            # eager, vocab-sized lineage cut; the previous snapshot is
            # released at once (else storage would grow with steps until
            # driver GC + ContextCleaner reclaim it)
            syms, new_handle = checkpoint(syms)
            if handle is not None:
                handle.unpersist(False)
            handle = new_handle
            e = syms.withColumn("nxt", F.lead("sym").over(w_doc))
            top = (e.where("nxt IS NOT NULL")
                   .groupBy("sym", "nxt").agg(F.sum("freq").alias("cnt"))
                   .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt"))
                   .limit(1).collect())          # the one-row argmax
            if not top:
                break
            b1, b2, cnt = top[0]["sym"], top[0]["nxt"], int(top[0]["cnt"])
            merges.append((b1 + b2, cnt))

            # Greedy leftmost-first merge application as PURE WINDOW algebra
            # over one (word ORDER BY i) pass — deliberately join-free. The
            # original form applied merges via two (word, i) self-joins;
            # correct, but Catalyst's size estimator MULTIPLIES join
            # children's sizeInBytes (BigInt) and localCheckpoint PRESERVES
            # the origin statistics, so the estimate compounds ~squared per
            # step and by merge ~15 the driver spends minutes per step
            # inside BigInteger.multiplyToomCook3 during planning (found by
            # the r9 depth probe, BENCH/BPE_DEPTH_r9.json). Window/filter/
            # project nodes only scale stats by bounded factors, so this
            # form holds O(1) planning at any merge count — and drops two
            # shuffle joins per step.
            #
            # Semantics (pinned vs the imperative greedy reference at depth
            # 8 and vs the relational twin's oracle at depths 3 and 8):
            # positions i are consecutive within a word (renumbered every
            # step), so a run of consecutive merge candidates starts where
            # flag rises, and within a run the leftmost-first rule keeps
            # even offsets from the run start ('aaaa' overlap rule); the
            # follower of every applied merge is consumed (lag).
            applied = (
                e.withColumn(
                    "flag",
                    F.coalesce((F.col("sym") == F.lit(b1))
                               & (F.col("nxt") == F.lit(b2)), F.lit(False)))
                .withColumn(
                    "run_start",
                    F.col("flag") & ~F.coalesce(F.lag("flag").over(w_doc),
                                                F.lit(False)))
                .withColumn(
                    "last_start",
                    F.max(F.when(F.col("run_start"), F.col("i")))
                    .over(w_doc.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)))
                .withColumn(
                    "is_merge",
                    F.col("flag")
                    & (((F.col("i") - F.col("last_start")) % 2) == 0))
                .withColumn(
                    "after_merge",
                    F.coalesce(F.lag("is_merge").over(w_doc), F.lit(False)))
            )
            syms = (applied
                    .where(~F.col("after_merge"))  # drop consumed followers
                    .select("word", "freq",
                            F.when(F.col("is_merge"), F.concat("sym", "nxt"))
                             .otherwise(F.col("sym")).alias("sym"),
                            F.col("i").alias("old_i"))
                    .withColumn("i", F.row_number().over(
                        Window.partitionBy("word").orderBy("old_i")))
                    .drop("old_i"))
    finally:
        # merges is a plain list: nothing reads the last snapshot
        if handle is not None:
            handle.unpersist(False)
    return merges
