"""Physical-plan regression tests — the plans we designed for, asserted.

These pin the Catalyst outcomes that matter at 100 TB: column pruning
reaching the parquet scan, predicate pushdown, broadcast join selection for
small sides, single-shuffle sessionization, zero-shuffle extraction.
"""

import os

import pytest

import __spark_entry__ as entrymod
from fast_pdf_parser_spark.operators.relational import spark_sql

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def wide_corpus(spark, tmp_path_factory):
    """Span corpus with an extra column the pipeline must NOT read."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.sources.synth import write_corpus

    path = str(tmp_path_factory.mktemp("plans") / "corpus")
    write_corpus(spark, path + "0", 30, num_partitions=2)
    (spark.read.parquet(path + "0").withColumn("extra", F.lit("x"))
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def test_pipeline_scan_pruned_and_shuffle_free(spark, wide_corpus):
    from fast_pdf_parser_spark.operators.pipeline import extract_documents

    plan = physical(extract_documents(wide_corpus))
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "doc_id" in read_schema and "spans" in read_schema
    assert "extra" not in read_schema  # pruning reaches the parquet scan
    assert "Exchange" not in plan  # zero-shuffle pipeline


def test_parquet_predicate_pushdown(spark):
    entrymod._prepare(spark, SF_DIR)
    q = spark.sql(
        "SELECT doc_id FROM documents WHERE n_chars > 100 AND lang = 'en'"
    )
    plan = physical(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(n_chars,100)" in plan
    assert "EqualTo(lang,en)" in plan


def test_lsh_pairs_joins_broadcast(spark):
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("dedup_lsh_pairs")))
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines
    assert all("BroadcastHashJoin" in l or "BroadcastNestedLoopJoin" in l
               for l in join_lines), join_lines


def test_lsh_pairs_fast_path_single_scan(spark):
    # the driver-facing path materializes the member table once: exactly ONE
    # parquet scan of documents feeds the whole query (the single-statement
    # SQL re-executes the signature chain 4x — the bug this path fixes)
    from fast_pdf_parser_spark.operators.relational import (
        _LSH_MEMBER_SPARK,
        dedup_lsh_pairs_df,
    )

    entrymod._prepare(spark, SF_DIR)
    member_plan = physical(spark.sql(_LSH_MEMBER_SPARK))
    assert member_plan.count("Scan parquet") == 1, member_plan
    # and the fast path agrees with the single-statement SQL exactly
    fast = set(map(tuple, dedup_lsh_pairs_df(spark).collect()))
    sql = set(map(tuple,
                  spark.sql(spark_sql("dedup_lsh_pairs")).collect()))
    assert fast == sql and fast


def test_ann_broadcasts_query_side(spark):
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("ann_cosine_topk")))
    assert "BroadcastNestedLoopJoin" in plan  # 5 query vectors broadcast


def test_rolling_hash_no_per_char_array(spark):
    # the chunked fold must not materialize a one-string-per-character array
    entrymod._prepare(spark, SF_DIR)
    df = spark.sql(spark_sql("text_rolling_hash"))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "split(text, , -1)" not in plan and "split('text" not in plan
    assert "sequence" in plan  # int chunk indices instead


def test_sessionize_single_shuffle(spark):
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("events_sessionize")))
    # window partitioning is reused by the groupBy: exactly one hash exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_pii_scrub_single_scan_no_shuffle(spark):
    """text_pii_scrub must stay a single pruned scan with zero exchanges —
    redaction is pure per-row expression work (the 100 TB shape: one pass,
    whole-stage codegen, no Python)."""
    entrymod._prepare(spark, SF_DIR)
    df = spark.sql(spark_sql("text_pii_scrub"))
    df.collect()
    plan = physical(df)
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_decontaminate_joins_broadcast(spark):
    """text_decontaminate's gram-overlap joins must resolve to broadcast
    joins (the distinct benchmark-gram side is small by construction) —
    never a sort-merge join that shuffles the full gram explode."""
    entrymod._prepare(spark, SF_DIR)
    df = spark.sql(spark_sql("text_decontaminate"))
    df.collect()
    plan = physical(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pack_manifest_no_global_sort_exchange(spark):
    """The packing prefix sum must parallelize: the documents-sized side
    gets hash partitioning by shard — never a single-partition global
    window or a rangepartitioning sort of the whole corpus — and the
    tiny shard-offsets side comes back via broadcast or a join whose
    build input is the shard-totals aggregate, not the corpus."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_pack_manifest")))
    assert "hashpartitioning(shard" in plan  # per-shard window, parallel
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one single-partition stage is allowed: the shard-offsets
    # running sum, whose input is the per-shard AGGREGATE (n_shards rows),
    # never the raw corpus
    singles = plan.split("Exchange SinglePartition")
    assert len(singles) == 2, f"want exactly 1 single-partition exchange:\n{plan}"
    below = singles[1]
    agg_pos = below.find("HashAggregate")
    scan_pos = below.find("Scan ")
    assert agg_pos != -1 and (scan_pos == -1 or agg_pos < scan_pos), plan


def test_clean_corpus_two_shuffles_no_join(spark):
    """The composed cleaning capstone's docstring claim, enforced: the
    whole dedup -> scrub -> quality -> domain-cap -> split DAG is exactly
    TWO hash exchanges (the text-hash window and the per-source window) —
    scrub/quality/split stay inline projections; no join of any kind, no
    single-partition stage touching the corpus."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("pipeline_clean_corpus")))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "hashpartitioning(th" in plan, plan
    assert "hashpartitioning(source" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_url_dedup_one_window_no_join(spark):
    """dedup_url_canonical must be a single scan + ONE hash-partitioned
    window over canonical_url — the parse is inline expression work and
    the ranked survivor pick never needs a join or a single-partition
    stage (the 100 TB shape: the first dedup a crawl pipeline runs)."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("dedup_url_canonical")))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(canonical_url" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_psl_operators_zero_shuffle_no_join(spark):
    """The PSL registrable-domain extractor and the blocklist URL filter
    are pure projections (IN-literal membership, no suffix-table join) —
    a single scan with NO exchange at any corpus size."""
    entrymod._prepare(spark, SF_DIR)
    for name in ("text_registrable_domain", "text_url_filter"):
        plan = physical(spark.sql(spark_sql(name)))
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_cap_operators_single_partition_free_no_join(spark):
    """Both cap operators (per-domain, per-embedding-cell) must be ONE
    hash-partitioned window over their grouping key — no join, no
    single-partition stage, no global sort of the corpus."""
    entrymod._prepare(spark, SF_DIR)
    for name, key in (("text_domain_cap", "source"),
                      ("embed_cluster_cap", "cell"),
                      ("text_domain_cap_registrable", "registrable_domain")):
        plan = physical(spark.sql(spark_sql(name)))
        assert f"hashpartitioning({key}" in plan, name
        assert "Exchange SinglePartition" not in plan, name
        assert "Join" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_mixture_operators_broadcast_budgets_one_corpus_exchange(spark):
    """Mixture assembly (sample + epochs): the budgets relation must
    reach the corpus via a BROADCAST join (it is #groups rows), the
    corpus itself must shuffle exactly twice (group agg + group window),
    and the only SinglePartition exchange is the post-aggregate
    #groups-row weights relation — never the corpus."""
    entrymod._prepare(spark, SF_DIR)
    # both queries reference the tiny budgets CTE twice (whole + ranked
    # branches / ranked join + final select), so the #groups-row
    # SinglePartition window instantiates twice — still bounded by the
    # group count, never the corpus
    for name, key, n_single in (("text_mixture_sample", "source", 2),
                                ("text_mixture_epochs", "lang", 2)):
        plan = physical(spark.sql(spark_sql(name)))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        # the corpus-side window shuffles on the group key
        assert f"hashpartitioning({key}" in plan, name
        assert plan.count("Exchange SinglePartition") == n_single, name
        # every SinglePartition sits downstream of a group-by aggregate
        # (the tiny weights relation), never directly over a scan
        for seg in plan.split("Exchange SinglePartition")[1:]:
            assert "HashAggregate" in seg, name
        # corpus scans stay pruned: no scan reads the full row
        for read_schema in plan.split("ReadSchema:")[1:]:
            assert "text:string" in read_schema[:200], name


def test_mixture_totals_prefilter_prunes_the_window(spark):
    """r7 verdict #5: the greedy-fill running-sum window must be taken
    ONLY by sources that overflow their budget — a fully-kept source's
    rows bypass the sort via the whole/ranked UNION split, and the
    boundary predicate must appear as a pushed filter on the broadcast
    budgets side of each branch."""
    import re

    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_mixture_sample")))
    assert plan.count("Union") == 1
    # exactly ONE corpus-side running-sum window (partitioned by source
    # over doc rows); the other Window nodes are the #sources-row budget
    # computation, which sits above a HashAggregate
    corpus_windows = [seg for seg in plan.split("Window")[1:]
                      if "cum_before" in seg[:400]]
    assert len(corpus_windows) <= 1  # the ranked branch only
    # the boundary split is pushed as filters on src_toks vs the budget
    # expression: <= feeds the window-free branch, > feeds the window
    assert re.search(r"src_toks#\d+L <= FLOOR", plan)
    assert re.search(r"src_toks#\d+L > FLOOR", plan)
    # epochs: zero-tail groups skip the window the same way — the
    # tail_toks > 0 prune shows up expanded ((budget -
    # floor(budget/mass)*mass) > 0) as a filter on the broadcast side
    eplan = physical(spark.sql(spark_sql("text_mixture_epochs")))
    assert re.search(r"\* lang_toks#\d+L\)+ > 0", eplan)


def test_persisted_ivf_index_scan_partition_prunes(spark, tmp_path):
    """The persisted grid-IVF index is parquet partitioned by cell; a
    probe-filtered read must show the cell predicate as a scan-side
    PartitionFilter (directories skipped, not rows filtered)."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.relational import (
        _band_key_sql,
        _EMB_ELEM_SPARK,
        _GRID_BAND,
        _GRID_BITS,
    )

    entrymod._prepare(spark, SF_DIR)
    cell = _band_key_sql(_GRID_BAND, _EMB_ELEM_SPARK, _GRID_BITS)
    idx = str(tmp_path / "ivf_index")
    spark.sql(
        f"""SELECT vec_id, embedding, concat('c', {cell}) AS cell
            FROM embeddings WHERE vec_id >= 5"""
    ).write.partitionBy("cell").parquet(idx)
    n_cells = spark.read.parquet(idx).select("cell").distinct().count()
    assert n_cells > 2  # the fixture corpus spans multiple cells
    probe = spark.read.parquet(idx).select("cell").first().cell
    served = spark.read.parquet(idx).filter(F.col("cell").isin([probe]))
    plan = physical(served)
    assert "PartitionFilters: [" in plan
    filters = plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    assert "cell" in filters, plan
    # and the pruning is real: only the probed partition's rows survive
    assert served.select("cell").distinct().count() == 1


def test_persisted_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Index maintenance without rebuild: appending a new batch with
    mode('append') lands its rows in the right cell directories, and the
    served answers over the appended index equal a from-scratch rebuild
    over the union — the daily-crawl path for a 1e9-vector index."""
    from fast_pdf_parser_spark.operators.relational import (
        _band_key_sql,
        _EMB_ELEM_SPARK,
        _GRID_BAND,
        _GRID_BITS,
    )

    entrymod._prepare(spark, SF_DIR)
    cell = _band_key_sql(_GRID_BAND, _EMB_ELEM_SPARK, _GRID_BITS)
    day0 = str(tmp_path / "day0")
    full = str(tmp_path / "full")
    indexed = (f"SELECT vec_id, embedding, concat('c', {cell}) AS cell "
               f"FROM embeddings WHERE vec_id >= 5")
    # day 0: even vec_ids only; day 1: append the odd batch
    spark.sql(indexed + " AND vec_id % 2 = 0") \
        .write.partitionBy("cell").parquet(day0)
    spark.sql(indexed + " AND vec_id % 2 = 1") \
        .write.partitionBy("cell").mode("append").parquet(day0)
    spark.sql(indexed).write.partitionBy("cell").parquet(full)
    a = {(r.vec_id, r.cell) for r in spark.read.parquet(day0).collect()}
    b = {(r.vec_id, r.cell) for r in spark.read.parquet(full).collect()}
    assert a == b and len(a) > 0


def test_persisted_ivf_serves_same_answers_as_direct_grid(spark):
    """Round-tripping the corpus through the cell-partitioned index and
    serving from the pruned scan must return exactly the direct
    ann_ivf_grid answer set."""
    entrymod._prepare(spark, SF_DIR)
    direct = {tuple(r) for r in
              spark.sql(spark_sql("ann_ivf_grid")).collect()}
    served = {tuple(r) for r in
              entrymod._ann_ivf_persisted(spark, SF_DIR).collect()}
    assert served == direct
    assert len(served) > 0


def test_routed_extraction_plan_shape(spark, wide_corpus):
    """Auto-routed skew tail (ParseOptions.giant_doc_bytes): the union
    plan carries EXACTLY ONE Exchange — the split-path repartition of the
    giant bucket's span rows — while the bulk side stays the zero-shuffle
    pruned-scan fold. Both branches' scans stay pruned to (doc_id, spans)
    and both folds run on the one Arrow transport."""
    from fast_pdf_parser_spark.config import ParseOptions
    from fast_pdf_parser_spark.operators.pipeline import extract_documents

    plan = physical(extract_documents(
        wide_corpus, parse_options=ParseOptions(giant_doc_bytes=2048)))
    assert "Union" in plan
    assert plan.count("Exchange") == 1, plan
    # the one Exchange is the tail's doc_id hash repartition, not a
    # corpus-wide single partition
    assert "SinglePartition" not in plan
    assert plan.count("MapInArrow") == 2 and "MapInPandas" not in plan
    for read_schema in plan.split("ReadSchema:")[1:]:
        assert "extra" not in read_schema[:200]


def test_stored_band_candidate_scan_reads_bands_not_text(spark, tmp_path):
    """r7 verdict #1's plan gate: with the persisted band table (unpruned
    here) under near_verdict_prebanded_sql, the near-incremental
    candidate-generation side must SCAN the stored band
    columns (doc_id, band, band_key) — the corpus text column may only be
    read by the jaccard-verify join. Concretely: every FileScan over the
    bands directory reads the band schema and never clean_text, and at
    least one such scan exists (candidates really come from storage, not
    a re-derivation)."""
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        band_signatures_spark_sql,
        near_batch_spark_sql,
        near_verdict_prebanded_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        write_docs_bucketed,
    )

    entrymod._prepare(spark, SF_DIR)
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "stored_band_plan")
    corpus = write_docs_bucketed(spark, prev, out, run_id="p1",
                                 num_buckets=2, write_bands=True)
    corpus.createOrReplaceTempView("sbp_corpus")
    read_band_table(spark, out).createOrReplaceTempView("sbp_bands")
    # the serve form over the UNPRUNED band table; the batch bands arrive
    # materialized, as the driver rows pass them, so any band derivation
    # left in the plan would be the corpus being re-banded
    spark.sql(near_batch_spark_sql()).createOrReplaceTempView("sbp_batch")
    spark.sql(band_signatures_spark_sql("sbp_batch", text_col="text")) \
        .localCheckpoint(eager=True).createOrReplaceTempView("sbp_batch_bands")
    plan = physical(spark.sql(near_verdict_prebanded_sql(
        "sbp_batch", "sbp_batch_bands", "sbp_corpus", "sbp_bands")))

    # identify the stored-band scan by its projected columns (the scan
    # Location path is truncated in plan toString for long tmp paths)
    band_scans = 0
    for seg in plan.split("FileScan parquet")[1:]:
        cols = seg.split("]", 1)[0]
        if "band_key#" in cols:
            band_scans += 1
            assert "clean_text" not in cols, cols
            read_schema = seg.split("ReadSchema:", 1)[1][:200] \
                if "ReadSchema:" in seg else ""
            assert "band_key" in read_schema, seg[:300]
            assert "clean_text" not in read_schema, seg[:300]
    assert band_scans >= 1, plan[:2000]
    # and the corpus is never re-minhashed for candidates: neither of the
    # columnar signature chain's two Generate nodes (the distinct-word
    # explode — `explode(ws..)` over array_distinct(split(text)) — and the
    # band-key inline) appears. The derived-on-read form has one of each
    # per side. (The corpus text is still projected through
    # array_distinct(split(..)) by the jaccard VERIFY join — a
    # projection, not an explode.)
    word_explodes = plan.count("Generate explode(ws")
    band_inlines = plan.count("Generate inline(")
    assert word_explodes == 0, f"corpus re-tokenized: {word_explodes}"
    assert band_inlines == 0, f"corpus re-banded: {band_inlines}"


def test_band_probe_scan_prunes_to_batch_keys(spark, tmp_path):
    """r8 verdict #1's IO gate: the stored band table is laid out
    bands/attempt=N/bucket=K/bkp=J/ (bkp = band_key % BAND_PROBE_PARTS) and
    probe_band_table serves an increment by (a) PartitionFilters on bkp
    — directories outside the batch's key partitions are never listed —
    and (b) the literal band_key IN (...) pushed into the parquet reader
    where key-sorted row groups + the band_key bloom filter skip pages.
    The composed pre-banded verdict additionally never re-derives batch
    bands (zero text explodes — they arrive via the checkpointed view)
    and its band scans never read clean_text."""
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        band_signatures_spark_sql,
        near_verdict_prebanded_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        BAND_PROBE_PARTS,
        probe_band_table,
        write_docs_bucketed,
    )

    entrymod._prepare(spark, SF_DIR)
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "band_probe")
    corpus = write_docs_bucketed(spark, prev, out, run_id="p1",
                                 num_buckets=2, write_bands=True)
    corpus.createOrReplaceTempView("bp_corpus")

    # a 2-doc increment: 8 band keys — the pushdown shape
    spark.sql("SELECT doc_id, text FROM documents WHERE doc_id IN (1, 3)"
              ).createOrReplaceTempView("bp_batch")
    bb = spark.sql(band_signatures_spark_sql("bp_batch", text_col="text")) \
        .localCheckpoint(eager=True)
    bb.createOrReplaceTempView("bp_batch_bands")
    keys = {int(r.band_key) for r in bb.collect()}
    assert 0 < len(keys) <= 8
    expected_bkps = {k % BAND_PROBE_PARTS for k in keys}

    pruned = probe_band_table(spark, out, bb)
    plan = physical(pruned)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    assert "bkp" in pf, plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]")[0]
    assert "In(band_key" in pushed or "EqualTo(band_key" in pushed, plan
    # pruning is real: only rows from the probed key set survive, and
    # they are exactly the full table's rows with those keys
    from fast_pdf_parser_spark.plans.checkpoint import read_band_table
    full = read_band_table(spark, out)
    want = sorted((r.doc_id, r.band, r.band_key)
                  for r in full.collect() if int(r.band_key) in keys)
    got = sorted((r.doc_id, r.band, r.band_key) for r in pruned.collect())
    assert got == want
    assert {int(r.band_key) % BAND_PROBE_PARTS
            for r in pruned.collect()} <= expected_bkps

    # the composed verdict: batch bands come pre-derived (no text
    # explode anywhere — corpus candidates from storage, batch bands
    # from the checkpoint), band scans never read clean_text
    pruned.createOrReplaceTempView("bp_bands_pruned")
    vplan = physical(spark.sql(near_verdict_prebanded_sql(
        "bp_batch", "bp_batch_bands", "bp_corpus", "bp_bands_pruned")))
    assert vplan.count("Generate explode(split(text") == 0, vplan[:2000]
    assert "PartitionFilters: [" in vplan
    for seg in vplan.split("FileScan parquet")[1:]:
        cols = seg.split("]", 1)[0]
        if "band_key#" in cols:
            assert "clean_text" not in cols, cols


def test_band_probe_pushes_chunked_key_lists(spark, tmp_path):
    """A batch with more band keys than the session's parquet In-pushdown
    threshold (default 10) still reaches the reader as literal keys: the
    probe pushes an OR of IN lists of at most that many keys each, never
    a min/max range. It reads the threshold and leaves the conf alone,
    and its rows are exactly the full table's rows with the batch's
    keys."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
    from fast_pdf_parser_spark.plans.checkpoint import (
        probe_band_table,
        read_band_table,
        write_docs_bucketed,
    )

    entrymod._prepare(spark, SF_DIR)
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "band_chunks")
    write_docs_bucketed(spark, prev, out, run_id="c1", num_buckets=2,
                        write_bands=True)
    full = read_band_table(spark, out)
    batch = full.filter(F.col("doc_id") < 20)
    keys = {int(r.band_key) for r in batch.collect()}
    assert len(keys) > 10

    before = dict(spark.conf.getAll)
    pruned = probe_band_table(spark, out, batch)
    plan = physical(pruned)
    pushed = plan.split("PushedFilters: [", 1)[1].split("\n", 1)[0]
    assert "In(band_key" in pushed, plan
    assert "GreaterThanOrEqual(band_key" not in pushed, plan
    got = sorted((r.doc_id, r.band, r.band_key) for r in pruned.collect())
    want = sorted((r.doc_id, r.band, r.band_key) for r in full.filter(
        F.col("band_key").isin(sorted(keys))).collect())
    assert got == want
    assert dict(spark.conf.getAll) == before


def test_interleaved_pack_scalar_spans_shard_parallel(spark):
    """multimodal_pack_interleaved derives every doc's interleaved
    text|media span layout as a higher-order-function SCALAR — no
    explode (Generate) and so no per-span row blowup — and packs with
    the same shard discipline pinned for text_pack_manifest: per-shard
    hash window, exactly one single-partition exchange whose input is
    the one-row-per-shard totals aggregate, never the corpus."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("multimodal_pack_interleaved")))
    assert "Generate" not in plan, "span derivation must not explode"
    assert "hashpartitioning(shard" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    singles = plan.split("Exchange SinglePartition")
    assert len(singles) == 2, f"want exactly 1 single-partition exchange:\n{plan}"
    below = singles[1]
    agg_pos = below.find("HashAggregate")
    scan_pos = below.find("Scan ")
    assert agg_pos != -1 and (scan_pos == -1 or agg_pos < scan_pos), plan


def test_shard_shuffle_per_shard_window_no_global_sort(spark):
    """text_shard_shuffle ranks within (epoch, shard) — a parallel hash
    window over corpus/N_SHARDS-row partitions — never a corpus-wide
    single-partition window or range sort; the 2-row epoch relation may
    only arrive via broadcast."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_shard_shuffle")))
    assert "hashpartitioning(epoch" in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_winnow_hash_joins_and_pruned_scan(spark):
    """dedup_substring_winnow: candidate generation must be fingerprint
    equi-joins (never a cartesian), and the scan must read only
    (doc_id, text) — the dup decision rides 60-bit hashes, not raw-text
    comparisons."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("dedup_substring_winnow")))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # fp-frequency + final per-doc joins
    scans = [s.split("\n")[0] for s in plan.split("ReadSchema:")[1:]]
    assert scans, "no parquet scans found in plan"
    for s in scans:  # every scan pruned to (doc_id, text) at most
        assert "source" not in s and "lang" not in s and "n_chars" not in s


def test_bpe_train_scalar_broadcasts_only(spark):
    """tokenizer_bpe_train: each iteration joins the exploded symbol table
    against a ONE-ROW learned-pair relation. Catalyst pushes the WHERE
    equality into the cross join, turning it into a broadcast HASH join on
    (sym, nxt) = (s1, s2) — better than the nested-loop scalar join the
    query was written for; pin that, and that no cartesian survives."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("tokenizer_bpe_train")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the 1-row pair relations, hashed


def test_nfc_zero_shuffle_arrow_stage(spark):
    """text_nfc_normalize: one Arrow-batched python stage, zero shuffle,
    scan pruned to (doc_id, text)."""
    df = entrymod._text_nfc_normalize(spark, SF_DIR)
    plan = physical(df)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema


def test_license_tag_zero_shuffle(spark):
    """text_license_tag: single codegen scan, no shuffle at all."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_license_tag")))
    assert "Exchange" not in plan


def test_span_corrupt_single_doc_exchange(spark):
    """text_span_corrupt: per-doc island algebra only — every Exchange in
    the plan is a hash partitioning (on doc_id or the final join keys),
    never a global sort or a cartesian."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_span_corrupt")))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_fim_zero_shuffle_single_scan(spark):
    """text_fim_transform: pure per-row string algebra — no Exchange at
    all, one pruned scan."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_fim_transform")))
    assert "Exchange" not in plan
    scans = [s.split("\n")[0] for s in plan.split("ReadSchema:")[1:]]
    assert len(scans) == 1 and "text" in scans[0]


def test_length_batching_sharded_window_no_global_sort(spark):
    """text_length_batching: batch assembly windows partition by
    (shard, len_class) — bounded partitions, no corpus-wide sort, no
    single-partition stage."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("text_length_batching")))
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Exchange SinglePartition" not in plan


def test_soft_weight_broadcasts_parent_and_no_cartesian(spark):
    """dedup_soft_weight: the 5-row planted-duplicate parent relation must
    broadcast (never shuffle the corpus for test scaffolding), and each
    tier is one hash-partitioned window over (doc_id, hash) rows."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("dedup_soft_weight")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan          # the doc_id < 5 parents
    assert "hashpartitioning(h_exact" in plan   # exact-tier window
    assert "hashpartitioning(h_near" in plan    # near-tier window
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan      # windows, not global sorts


def test_bestfit_single_shard_shuffle_and_pruned_scan(spark):
    """text_pack_bestfit: ONE hash exchange on the shard key feeds the
    per-shard applyInPandas fold; the (shard, bin_id) stats window reuses
    that partitioning (shard ⊂ the window keys → no second exchange), and
    the scan reads only (doc_id, text)."""
    from fast_pdf_parser_spark.operators.packing import pack_bestfit

    entrymod._prepare(spark, SF_DIR)
    plan = physical(pack_bestfit(spark.table("documents")))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan
    assert "FlatMapGroupsInPandas" in plan
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "text" in read_schema
    for col in ("source", "lang", "n_chars"):
        assert col not in read_schema


def test_quality_split_trio_plans(spark):
    """Gopher rules: explode + two doc_id aggregates, no cartesian and no
    corpus-wide window. CCNet buckets: the only windows are per-lang.
    Stratified split: ONE window hash-partitioned by (source, lang)."""
    entrymod._prepare(spark, SF_DIR)
    gop = physical(spark.sql(spark_sql("text_gopher_rules")))
    assert "CartesianProduct" not in gop
    assert "Exchange SinglePartition" not in gop
    assert "rangepartitioning" not in gop

    ccn = physical(spark.sql(spark_sql("text_ccnet_bucket")))
    assert "hashpartitioning(lang" in ccn
    assert "CartesianProduct" not in ccn

    strat = physical(spark.sql(spark_sql("text_stratified_split")))
    assert "hashpartitioning(source" in strat
    assert "Exchange SinglePartition" not in strat
    assert "CartesianProduct" not in strat


def test_dsir_and_funnel_plans(spark):
    """DSIR: the fit-then-transform shape — word-keyed hash aggregates +
    a broadcastable log-ratio relation joined back, no cartesian beyond
    the scalar totals. Funnel: every shuffle keys on user_id; no window
    over the raw event stream, no nested-loop join."""
    entrymod._prepare(spark, SF_DIR)
    dsir = physical(spark.sql(spark_sql("text_dsir_weight")))
    assert "CartesianProduct" not in dsir
    assert "hashpartitioning(word" in dsir        # the LM fit aggregates
    assert "rangepartitioning" not in dsir

    fun = physical(spark.sql(spark_sql("events_funnel")))
    assert "CartesianProduct" not in fun
    assert "BroadcastNestedLoopJoin" not in fun
    assert "hashpartitioning(user_id" in fun
    assert "Window" not in fun


def test_retention_user_keyed_shuffles_only(spark):
    """events_retention: shuffles key on user_id or the tiny matrix key;
    no window over the raw stream, no cartesian, no global exchange."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("events_retention")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(user_id" in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_tfidf_and_mh_quality_plans(spark):
    """TF-IDF: word/doc hash aggregates + a broadcastable idf relation +
    ONE per-doc window — no corpus-wide sort. MinHash quality: probe
    pairs join signatures and word sets on keys — never a cartesian."""
    entrymod._prepare(spark, SF_DIR)
    tfidf = physical(spark.sql(spark_sql("text_tfidf_keywords")))
    assert "CartesianProduct" not in tfidf
    assert "hashpartitioning(doc_id" in tfidf   # the per-doc top-3 window
    assert "rangepartitioning" not in tfidf

    mh = physical(spark.sql(spark_sql("dedup_minhash_quality")))
    assert "CartesianProduct" not in mh
    assert "rangepartitioning" not in mh


def test_tpch_q1_pushed_filter_and_partial_agg(spark):
    """TPC-H Q1: the shipdate filter must reach the parquet scan as a
    pushed predicate, the scan must read only the 7 needed columns, and
    the 4-group aggregate must run as map-side partials (HashAggregate
    below the exchange) — pure scan-agg, no join, no window."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("tpch_q1_pricing")))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = plan.split("ReadSchema:")[1][:300]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read_schema       # pruned keys
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_tpch_q5_dimension_chain_broadcasts(spark):
    """TPC-H Q5: the region->nation->customer/supplier dimension chain
    must broadcast — the fact table is never shuffled to meet a
    dimension; the only sort-merge/shuffled-hash joins permitted are
    between the two big tables (lineitem and orders)."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("tpch_q5_local_volume")))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3   # region, nation, dims
    assert "Exchange SinglePartition" not in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_tax" not in read_schema and "l_quantity" not in read_schema


def test_rollup_and_sliding_plans(spark):
    """ROLLUP: one scan + one Expand + hash aggregate — the input is
    never rescanned per level. Sliding value: ONE window partitioned by
    user_id with a RANGE frame — no corpus-wide sort."""
    entrymod._prepare(spark, SF_DIR)
    ru = physical(spark.sql(spark_sql("corpus_rollup")))
    assert "Expand" in ru
    assert ru.count("FileScan") == 1
    assert "Exchange SinglePartition" not in ru

    sl = physical(spark.sql(spark_sql("events_sliding_value")))
    assert "hashpartitioning(user_id" in sl
    assert "rangepartitioning" not in sl
    assert "RANGE BETWEEN 3599" in sl.upper().replace("  ", " ") or \
        "specifiedwindowframe(RangeFrame" in sl


def test_tpch_q14_broadcast_part_and_pushed_dates(spark):
    """TPC-H Q14: the part dimension broadcasts (the fact table never
    shuffles), both shipdate bounds push to the lineitem scan, and the
    share is one map-side-combinable aggregate."""
    entrymod._prepare(spark, SF_DIR)
    plan = physical(spark.sql(spark_sql("tpch_q14_promo")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert plan.count("HashAggregate") == 2   # partial + final


def test_json_and_q4_plans(spark):
    """JSON extraction runs inside the scan projection (no UDF node, no
    extra exchange beyond the aggregate); Q4's correlated EXISTS
    decorrelates to a LEFT SEMI join — orders are never duplicated by
    multi-lineitem matches."""
    entrymod._prepare(spark, SF_DIR)
    js = physical(spark.sql(spark_sql("events_json_extract")))
    assert "BatchEvalPython" not in js and "ArrowEvalPython" not in js
    assert js.count("Exchange") == 1          # just the groupBy
    assert "get_json_object" in js or "GetJsonObject" in js

    q4 = physical(spark.sql(spark_sql("tpch_q4_late_priority")))
    assert "LeftSemi" in q4
    assert "CartesianProduct" not in q4
