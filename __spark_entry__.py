"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on /root/testdata/sf0.001:
derives the interleaved text+media span table from documents.parquet (no
UDF, built-ins only) and runs the zero-shuffle mapInArrow extraction
(operators/pipeline.py) — the Spark re-expression of the reference's
HierarchicalChunker::chunk_file (src/hierarchical_chunker.cpp:552-634).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data operators (see COVERAGE.md for the
full census; counts are asserted, not documented, in
tests/test_driver_contract.py); SQL-expressible ones carry a DuckDB oracle
(operators/relational.py pairs the dialects; HYBRID_ORACLES pair the real
Python stages with pure-SQL re-derivations: pipeline meta counters
for the text and html axes, sha256-arithmetic twins for the three
multimodal stages), the stateful 7-pass extraction ops are rows-only
(their correctness gate is the span-sequence-equality pytest suite
instead).
Three queries (dedup_lsh_pairs, dedup_embedding_cosine, ann_lsh_topk) use
materialized fast paths with byte-identical output to their SQL forms.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_VIEW_TABLES = ["documents", "embeddings", "events", "region", "nation",
                "customer", "supplier", "part", "orders", "lineitem"]


_SCRATCH_PREFIX = "spark_graft_scratch_"
_scratch_root: tuple[str, int] | None = None  # (root, fd holding its flock)


def _scratch(kind: str, sf_name: str) -> str:
    """``<root>/<kind>_<sf_name>`` under this process's scratch root, so
    concurrent runs never delete each other's in-progress output.

    The root is made on first use and held under ``flock`` on its
    ``lock`` file for the life of the process: the kernel drops the lock
    on any exit, SIGKILL included, so a root whose lock can be taken
    belongs to a dead process (``_reap_stale_scratch``). It is locked
    under a staging name and only then renamed to the reaped prefix, so
    the reaper never sees an unlocked live root. A normal exit removes
    it."""
    global _scratch_root
    if _scratch_root is None:
        staging = tempfile.mkdtemp(prefix="spark_graft_staging_")
        fd = os.open(os.path.join(staging, "lock"), os.O_CREAT | os.O_RDWR)
        fcntl.flock(fd, fcntl.LOCK_EX)
        tmp, name = os.path.split(staging)
        root = os.path.join(tmp, name.replace("staging_", "scratch_", 1))
        os.rename(staging, root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _scratch_root = (root, fd)
    return os.path.join(_scratch_root[0], f"{kind}_{sf_name}")


def _reap_stale_scratch() -> None:
    """Delete every other process's scratch root whose lock can be taken
    (its owner is dead). Entries without a ``lock`` file are not roots
    and are left alone."""
    own = _scratch_root[0] if _scratch_root else None
    for root in glob.glob(os.path.join(tempfile.gettempdir(),
                                       _SCRATCH_PREFIX + "*")):
        if root == own:
            continue
        try:
            fd = os.open(os.path.join(root, "lock"), os.O_RDONLY)
        except OSError:
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            shutil.rmtree(root, ignore_errors=True)
        except BlockingIOError:
            pass  # owner alive
        finally:
            os.close(fd)


# (session id, sf_dir, per-table (exists, mtime) signature) -> [(table,
# analyzed reader DataFrame)].  Schema inference (footer read + file
# listing) is ~0.1 s per table per call — ~1 s of pure driver overhead on
# EVERY query invocation at bench scale (BENCH/PROFILE_r10_before.json:
# _prepare = 0.75-1.0 s of each 1-1.4 s query wall).  The DataFrame here
# is a LAZY reader plan, not data: views are still re-registered on every
# call (identical semantics — a test that clobbered a view gets it
# restored exactly as before), and every query still computes from the
# parquet files.  The mtime signature (10 stat calls, ~µs) invalidates
# the memo when a table dir is rewritten or appears mid-session, so a
# regenerated sf_dir never serves a stale file listing.  Keyed by SESSION
# id, not context id: a reader DataFrame is bound to the session that
# built it, so createOrReplaceTempView on it registers the view in THAT
# session's catalog — a spark.newSession() sharing the context must get
# its own readers.  The cached DataFrames keep their session alive, so
# its id cannot be reused while the entry exists.  One entry per key
# tuple: a changed signature inserts a fresh entry and the stale one is
# dropped below.
_READER_CACHE: dict[tuple, list] = {}


def _sf_signature(sf_dir: str) -> tuple:
    sig = []
    for t in _VIEW_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            sig.append((t, os.stat(path).st_mtime_ns))
        except OSError:
            sig.append((t, None))
    return tuple(sig)


def _prepare(spark: SparkSession, sf_dir: str) -> None:
    from fast_pdf_parser_spark.util import ship_package

    _reap_stale_scratch()
    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE partition coalescing never shrinks a partition below
    # minPartitionSize (default 1m) — so when a whole shuffle is under
    # 1 MB (every exchange at the checked sf corpus sizes), the
    # parallelism-first target collapses to ONE post-shuffle task and
    # serializes all downstream compute (event-log evidence:
    # OPTIMIZATION_r10.md, minhash bands stage = 1 task × 2.3 s).  A
    # 64 KiB floor lets parallelism-first actually spread small inputs;
    # at production sizes partitions sit far above either floor, so the
    # setting is inert there — this is NOT a core-count constant (the
    # target stays max(total/maxParallelism, floor) on any cluster).
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    # free every block util.materialize persisted in earlier queries: they
    # keep their lineage, so a DataFrame still held from an earlier query
    # recomputes instead of pinning its intermediates on the heap
    spark.catalog.clearCache()
    base = os.path.abspath(sf_dir)
    key = (id(spark), base, _sf_signature(base))
    readers = _READER_CACHE.get(key)
    if readers is None:
        # drop any stale entries for this (session, dir) pair so a
        # rewritten sf_dir does not pin dead file listings in memory
        for k in [k for k in _READER_CACHE if k[:2] == key[:2]]:
            del _READER_CACHE[k]
        readers = []
        for t in _VIEW_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                readers.append((t, spark.read.parquet(path)))
        _READER_CACHE[key] = readers
    for t, df in readers:
        df.createOrReplaceTempView(t)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.sources.synth import (
        interleaved_from_flat_documents,
    )

    sf_dir = "/root/testdata/sf0.001"
    _prepare(spark, sf_dir)
    spans = interleaved_from_flat_documents(spark, sf_dir)
    return extract_documents(spans)


def _relational_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from fast_pdf_parser_spark.operators.relational import spark_sql

        _prepare(spark, sf_dir)
        return spark.sql(spark_sql(name))

    return run


def _dedup_lsh_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_lsh_pairs via the materialized-member DataFrame path (the
    single SQL statement re-executes the signature chain 4×; see
    relational.dedup_lsh_pairs_df). Same oracle, identical output."""
    from fast_pdf_parser_spark.operators.relational import dedup_lsh_pairs_df

    _prepare(spark, sf_dir)
    return dedup_lsh_pairs_df(spark)


def _dedup_embedding_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embedding_cosine via the materialized banded-vector view (the
    inline CTE re-executes the scan + hyperplane keys ~8x). Same oracle."""
    from fast_pdf_parser_spark.operators.relational import (
        dedup_embedding_cosine_df,
    )

    _prepare(spark, sf_dir)
    return dedup_embedding_cosine_df(spark)


def _ann_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_lsh_topk via the materialized banded-vector view. Same oracle."""
    from fast_pdf_parser_spark.operators.relational import ann_lsh_topk_df

    _prepare(spark, sf_dir)
    return ann_lsh_topk_df(spark)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the LSH
    candidate pairs (iterative min-label propagation + pointer jumping,
    operators/clusters.py) + deterministic canonical pick. Hash-checked
    against a DuckDB recursive-CTE transitive closure."""
    from fast_pdf_parser_spark.operators.clusters import resolve_clusters
    from fast_pdf_parser_spark.operators.relational import dedup_lsh_pairs_df

    _prepare(spark, sf_dir)
    pairs = dedup_lsh_pairs_df(spark)
    return resolve_clusters(pairs, spark.table("documents"))


def _dedup_clusters_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components, quality-ranked canonical pick: the survivor per
    cluster is the member with the longest text in bytes (ties → smallest
    doc_id) — rank_col = -octet_length(text), lower is better. What a
    real pipeline keeps: the best duplicate, not the oldest id."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.clusters import resolve_clusters
    from fast_pdf_parser_spark.operators.relational import dedup_lsh_pairs_df

    _prepare(spark, sf_dir)
    pairs = dedup_lsh_pairs_df(spark)
    docs = spark.table("documents").withColumn(
        "quality_rank", -F.octet_length("text"))
    return resolve_clusters(pairs, docs, rank_col="quality_rank")


def _warc_files_df(spark: SparkSession,
                   docs_sql: str | None = None) -> DataFrame:
    """`documents` → synthesized WARC container files (path, content):
    every document's text wrapped in the boilerplate-HTML shell, framed as
    a real WARC/1.0 response record with an HTTP/1.1 envelope. Shared input
    stage of warc_extract, warc_clean_write and crawl_increment_e2e
    (which passes its own batch-synthesis SQL via ``docs_sql``)."""
    import pandas as pd

    from fast_pdf_parser_spark.sources.warc import (
        build_warc,
        deterministic_record_id,
    )

    docs = spark.sql(
        docs_sql
        or "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents")
    # Spread the Python-heavy WARC framing + re-parse across cores: the
    # small sf corpus is ONE parquet split, which serialized BOTH chained
    # mapInPandas stages on a single task (guide §2.5 input skew — the
    # r9 bench ran warc_extract on 1 of 32 cores).  One deterministic
    # hash exchange of (doc_id, text) before the heavy Python work; the
    # per-record output values are independent of how records batch into
    # container files, so results are unchanged.  At 100 TB real ingest
    # starts from existing WARC files (files are the parallelism unit)
    # and never runs this synthesis stage.
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id")

    def to_warc(batches):
        from fast_pdf_parser_spark.sources.synth import (
            HTML_PREFIX,
            HTML_SUFFIX,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            records = [
                {"url": f"https://corpus.example/doc/{int(i)}",
                 "record_id": deterministic_record_id(str(int(i))),
                 "html": f"{HTML_PREFIX}<p>{t}</p>{HTML_SUFFIX}"}
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            # EVERY multi-record batch emits both layouts — a plain .warc
            # with its even-positioned records and a per-record-gzip
            # .warc.gz with the odd-positioned ones — so the gzip reader is
            # always on the value-checked path (a parity-of-first-doc
            # toggle can be systematically constant and silently skip one
            # layout). A 1-record batch (small partitions, page-limit
            # tails) can't emit both, so its lone record routes to the
            # gzip layout on odd first-doc_id — across batches neither
            # layout can be systematically skipped.
            first = int(pdf["doc_id"].iloc[0])
            rows = []
            if len(records) == 1:
                gz = bool(first % 2)
                name = f"batch-{first}" + (".warc.gz" if gz else ".warc")
                rows.append((name, build_warc(records, compress=gz)))
            else:
                for gz, part in ((False, records[0::2]),
                                 (True, records[1::2])):
                    if part:
                        name = (f"batch-{first}"
                                + (".warc.gz" if gz else ".warc"))
                        rows.append((name, build_warc(part, compress=gz)))
            yield pd.DataFrame(rows, columns=["path", "content"])

    return docs.mapInPandas(to_warc, schema="path string, content binary")


def _warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion axis, end-to-end and hash-checked: synthesized WARC
    container files (see _warc_files_df) re-parsed by the REAL reader
    (sources/warc.parse_warc + http_response), boilerplate stripped by the
    REAL extractor. DuckDB re-derives url, status, exact body byte count
    and the extracted text from `documents` — so Content-Length
    arithmetic, CRLF framing, gzip membering, HTTP header parsing and the
    boilerplate strip are all value-checked. Zero-shuffle: two chained
    mapInPandas stages."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.sources.warc import read_warc_documents

    _prepare(spark, sf_dir)
    out = read_warc_documents(_warc_files_df(spark))
    return (out.filter(F.col("error").isNull())
            .select(
                F.element_at(F.split("url", "/"), -1).cast("bigint")
                .alias("doc_id"),
                "url", "record_id", "http_status", "content_type",
                "n_body_bytes",
                F.col("main_text").alias("extracted")))


def _warc_clean_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl-to-training-corpus path END TO END: WARC container
    files → the real WARC reader → cleaning gates (exact dedup, quality
    gate, 98/1/1 hash split — relational.warc_gates_sql) → the resume-safe
    bucketed sink (plans/checkpoint.write_docs_bucketed) → per-split
    counts + byte totals READ BACK from the written files. Proves the r5
    source and the r5 sink compose: the oracle re-derives the totals from
    `documents` directly (warc_extract's oracle already proves the WARC
    round-trip preserves text exactly)."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.relational import warc_gates_sql
    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        write_docs_bucketed,
    )
    from fast_pdf_parser_spark.sources.warc import read_warc_documents

    _prepare(spark, sf_dir)
    parsed = read_warc_documents(_warc_files_df(spark))
    (parsed.filter(F.col("error").isNull())
     .select(F.element_at(F.split("url", "/"), -1).cast("bigint")
             .alias("doc_id"),
             F.col("main_text").alias("text"))
     .createOrReplaceTempView("warc_docs"))
    kept = spark.sql(warc_gates_sql("warc_docs"))

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = _scratch("warc_clean", sf_name)
    _fs_delete(spark, out)
    clean = write_docs_bucketed(spark, kept, out, run_id="driver",
                                num_buckets=4)
    counts = (clean.groupBy("split")
              .agg(F.count("*").cast("int").alias("n_docs"),
                   F.sum(F.octet_length("clean_text")).alias("clean_bytes")))
    # materialize the tiny aggregate, then drop the scratch dir — the
    # returned DataFrame must not depend on files we just deleted
    result = spark.createDataFrame(counts.collect(), schema=counts.schema)
    _fs_delete(spark, out)
    return result


def _pipeline_clean_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized cleaned corpus (the artifact a training run consumes):
    runs the resume-safe checkpointed sink end-to-end into a scratch dir
    and returns per-(split, source) doc counts + byte totals READ BACK
    from the written files — so the oracle row checks the durable output,
    not the in-memory plan."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        write_clean_corpus,
    )

    _prepare(spark, sf_dir)
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = _scratch("clean", sf_name)
    _fs_delete(spark, out)  # fresh, idempotent run per invocation
    clean = write_clean_corpus(spark, out, run_id="driver", num_buckets=4)
    counts = (clean.groupBy("split", "source")
              .agg(F.count("*").cast("int").alias("n_docs"),
                   F.sum(F.octet_length("clean_text")).alias("clean_bytes")))
    # materialize the tiny aggregate, then drop the scratch dir — the
    # returned DataFrame must not depend on files we just deleted
    result = spark.createDataFrame(counts.collect(), schema=counts.schema)
    _fs_delete(spark, out)
    return result


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental dedup — the daily-crawl workflow: today's batch
    is deduplicated AGAINST THE MATERIALIZED CORPUS from previous runs,
    not just within itself (the streaming path holds this state in a
    store; the batch path must read it back from the durable sink).
    Here the 'previous run' is the even-doc_id half pushed through the
    REAL resume-safe sink (write_docs_bucketed), and the incoming batch
    is the odd half plus injected clones of even docs (doc_id mod 4 == 0,
    negative ids) that MUST be dropped because their hash is already in
    the corpus read back from disk. Scale shape: one anti-join-shaped
    LEFT JOIN on the 60-bit hash (AQE-managed shuffle; corpus side prunes
    to the hash column) + one first-occurrence window within the batch.
    DuckDB re-derives every verdict from `documents` directly, so the
    sink round-trip + join + window chain is what's value-checked."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        write_docs_bucketed,
    )

    _prepare(spark, sf_dir)
    # the ONE shared 60-bit hash — its DuckDB parity is the documented
    # invariant the oracle rides on
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM (SELECT *, row_number() OVER (PARTITION BY {h}
                                           ORDER BY doc_id ASC) AS rn
              FROM documents WHERE doc_id % 2 = 0)
        WHERE rn = 1""")

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = _scratch("incr", sf_name)
    _fs_delete(spark, out)
    _fs_delete(spark, out + "_verdict")  # prior run's durable verdict
    # 2 buckets: still exercises the multi-bucket sink loop, but each
    # bucket is ~3 serial Spark jobs (write, read-back, lineage) and the
    # bucket loop dominates this row's wall at sf0.01
    corpus = write_docs_bucketed(spark, prev, out, run_id="prev",
                                 num_buckets=2)
    corpus_hashes = corpus.select("clean_hash").distinct()

    batch = spark.sql(f"""
        SELECT doc_id, {h} AS h FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT -(doc_id + 1) AS doc_id, {h} AS h
        FROM documents WHERE doc_id % 4 = 0""")
    ranked = batch.withColumn(
        "rn", F.expr("row_number() OVER (PARTITION BY h "
                     "ORDER BY doc_id ASC)"))
    verdict = (ranked.join(corpus_hashes,
                           ranked["h"] == corpus_hashes["clean_hash"],
                           "left")
               .select(
                   "doc_id",
                   F.when(F.col("clean_hash").isNotNull(), 1).otherwise(0)
                   .cast("int").alias("in_corpus"),
                   F.when(F.col("clean_hash").isNull() & (F.col("rn") == 1),
                          1).otherwise(0).cast("int").alias("kept")))
    # materialize the verdict DURABLY before dropping the scratch corpus
    # it was derived from: on a real cluster an executor loss after the
    # delete would make a cached or checkpointed verdict unrecomputable
    # (and the verdict is O(batch)
    # rows — never round-trip it through the driver). A parquet write +
    # read-back is the fault-tolerant equivalent; the tiny verdict dir is
    # reclaimed at the start of the next run.
    vout = out + "_verdict"
    verdict.write.mode("overwrite").parquet(vout)
    _fs_delete(spark, out)
    return spark.read.schema(
        "doc_id bigint, in_corpus int, kept int").parquet(vout)


def _dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental NEAR-dup — the near-duplicate twin of
    dedup_incremental (which is exact-hash only): today's batch (odd ids
    + one-word-mutated clones of even ids, negative ids) is checked for
    NEAR duplicates of the materialized corpus. The corpus is the even
    half pushed through the REAL bucketed sink (write_bands=True, so the
    MinHash band-signature table — 16 seeds, 4x4 bands, the
    dedup_lsh_pairs family — is PERSISTED per bucket at write time) and
    READ BACK; candidate generation scans ONLY the stored band table
    (banded equi-join + corpus-side mega-bucket cap — O(batch) per daily
    increment, never an O(corpus) re-minhash; r7 verdict #1), and
    word-set jaccard verifies each candidate against the pruned corpus
    text (threshold relational.NEAR_INCR_THRESHOLD_X1E4). This is the
    batch form of the streaming band-claim store
    (streaming/ingest.py:269-328). The stored band table is served
    through plans/checkpoint.probe_band_table (r8 verdict #1): the scan
    is PRUNED to the batch's own band-key partitions (bkp
    PartitionFilters + pushed key-IN) instead of reading the whole
    corpus-scale table per increment. DuckDB re-derives corpus, bands
    and verdicts from `documents` directly, so the whole sink-roundtrip
    + stored-band + prune + verify chain is value-checked; stored==
    derived band equality, pruned==full-scan verdict equality and the
    bands-not-text candidate scan are pinned in tests/test_checkpoint.py
    and tests/test_plans.py."""
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        band_signatures_spark_sql,
        near_batch_spark_sql,
        near_verdict_prebanded_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        probe_band_table,
        write_docs_bucketed,
    )
    from fast_pdf_parser_spark.util import materialize

    _prepare(spark, sf_dir)
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM (SELECT *, row_number() OVER (PARTITION BY {h}
                                           ORDER BY doc_id ASC) AS rn
              FROM documents WHERE doc_id % 2 = 0)
        WHERE rn = 1""")

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = _scratch("incrnear", sf_name)
    _fs_delete(spark, out)
    _fs_delete(spark, out + "_verdict")
    corpus = write_docs_bucketed(spark, prev, out, run_id="prev",
                                 num_buckets=2, write_bands=True)
    corpus.createOrReplaceTempView("incr_near_corpus")
    # batch bands derived ONCE (they feed both the probe's key
    # collection and the candidate join), then the stored band table is
    # read PRUNED to those keys
    spark.sql(near_batch_spark_sql()).createOrReplaceTempView(
        "incr_near_batch")
    bb = materialize(spark.sql(band_signatures_spark_sql(
        "incr_near_batch", text_col="text")))
    bb.createOrReplaceTempView("incr_near_batch_bands")
    probe_band_table(spark, out, bb).createOrReplaceTempView(
        "incr_near_corpus_bands")
    verdict = spark.sql(near_verdict_prebanded_sql(
        "incr_near_batch", "incr_near_batch_bands",
        "incr_near_corpus", "incr_near_corpus_bands"))
    # durable materialization before the scratch delete (the
    # dedup_incremental pattern: cached blocks could not be recomputed
    # once the corpus files are gone)
    vout = out + "_verdict"
    verdict.write.mode("overwrite").parquet(vout)
    _fs_delete(spark, out)
    return spark.read.schema(
        "doc_id bigint, near_in_corpus int, best_jaccard_x1e4 bigint"
    ).parquet(vout)


def _crawl_increment_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl increment capstone (r7 verdict #3) — every stage of
    the LLM-data story composed once, end to end, against REAL artifacts:

      0. yesterday's corpus = even-id first-occurrence docs through the
         band-writing bucketed sink (write_bands=True);
      1. today's batch = odd ids + exact clones of corpus docs + one-word
         near clones (negative clone ids), framed as real WARC files and
         re-parsed by the real WARC reader;
      2. cleaning gates (within-batch exact dedup + quality + split — the
         warc_clean_write gates);
      3. incremental EXACT dedup: LEFT JOIN vs corpus hashes READ BACK;
      4. incremental NEAR dedup: candidates from the corpus's STORED band
         table (never re-minhashed), jaccard-verified;
      5. survivors through the sink again (write_bands=True — they are
         tomorrow's corpus), count READ BACK from the written files;
      6. synthetic-encoding pack (ids = 1..n_words, the text_pack_write
         idiom) through the real distributed pack + shard-partitioned
         writer, geometry READ BACK;
      7. the increment sink's lineage rows.

    Returns one (stage, n) row per stage. The DuckDB twin
    (relational._crawl_increment_oracle_duck) re-derives every count from
    `documents` arithmetically — WARC framing, both sink round trips, the
    stored band table and the pack geometry must all agree with pure SQL
    over the raw corpus or the row hash-mismatches."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.packing import (
        write_packed_sequences,
    )
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        CRAWL_NUM_BUCKETS,
        CRAWL_SEQ_LEN,
        band_signatures_spark_sql,
        crawl_batch_spark_sql,
        near_verdict_prebanded_sql,
        warc_gates_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        lineage,
        probe_band_table,
        write_docs_bucketed,
    )
    from fast_pdf_parser_spark.sources.warc import read_warc_documents
    from fast_pdf_parser_spark.util import materialize

    _prepare(spark, sf_dir)
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    base = _scratch("crawl", sf_name)
    for suffix in ("_corpus", "_incr", "_pack"):
        _fs_delete(spark, base + suffix)

    # (0) yesterday's corpus through the band-writing sink
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM (SELECT *, row_number() OVER (PARTITION BY {h}
                                           ORDER BY doc_id ASC) AS rn
              FROM documents WHERE doc_id % 2 = 0)
        WHERE rn = 1""")
    corpus = write_docs_bucketed(spark, prev, base + "_corpus",
                                 run_id="day0",
                                 num_buckets=CRAWL_NUM_BUCKETS,
                                 write_bands=True)
    corpus.createOrReplaceTempView("crawl_corpus")
    n_corpus = corpus.count()

    # (1) today's batch: real WARC framing, real reader. The batch chain
    # feeds ~6 downstream actions (stage counts, joins, the sink write);
    # without materialization each one re-synthesizes and re-parses the
    # WARC files, so the capstone pays the parse several times over
    # (review r8). The durable artifacts this row reports are still READ
    # BACK from the sinks below.
    parsed = read_warc_documents(
        _warc_files_df(spark, crawl_batch_spark_sql()))
    batch_raw = materialize(
        parsed.filter(F.col("error").isNull())
        .select(F.element_at(F.split("url", "/"), -1)
                .cast("bigint").alias("doc_id"),
                F.col("main_text").alias("text")))
    batch_raw.createOrReplaceTempView("crawl_batch_raw")
    n_batch = batch_raw.count()

    # (2) cleaning gates (materialized once: feeds the exact join, the
    # near verdict and the survivor sink)
    clean = materialize(spark.sql(warc_gates_sql("crawl_batch_raw")))
    clean.createOrReplaceTempView("crawl_batch_clean")
    n_clean = clean.count()

    # (3) incremental exact dedup vs corpus hashes READ BACK from disk
    corpus_hashes = (corpus.select(F.col("clean_hash").alias("ch"))
                     .distinct())
    bc = spark.table("crawl_batch_clean")
    exact = materialize(  # feeds two counts + near + survivors
        bc.join(corpus_hashes, bc["clean_hash"] == F.col("ch"), "left")
        .withColumn("in_corpus",
                    F.when(F.col("ch").isNotNull(), 1).otherwise(0))
        .drop("ch"))
    n_exact_dropped = exact.filter("in_corpus = 1").count()
    exact0 = exact.filter("in_corpus = 0")
    (exact0.select("doc_id", F.col("clean_text").alias("text"))
     .createOrReplaceTempView("crawl_exact_survivors"))

    # (4) incremental near dedup: candidates from the STORED band table,
    # scan PRUNED to the batch's own band keys (probe_band_table)
    sb = materialize(spark.sql(band_signatures_spark_sql(
        "crawl_exact_survivors", text_col="text")))
    sb.createOrReplaceTempView("crawl_surv_bands")
    probe_band_table(spark, base + "_corpus", sb).createOrReplaceTempView(
        "crawl_corpus_bands_pruned")
    near = spark.sql(near_verdict_prebanded_sql(
        "crawl_exact_survivors", "crawl_surv_bands",
        "crawl_corpus", "crawl_corpus_bands_pruned"))
    n_near_dropped = near.filter("near_in_corpus = 1").count()

    # (5) survivors → the sink (write_bands=True: tomorrow's band corpus)
    surv = (exact0.join(near.filter("near_in_corpus = 1")
                        .select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", "source", "split", "clean_hash",
                    "clean_text"))
    inc = write_docs_bucketed(spark, surv, base + "_incr", run_id="day1",
                              num_buckets=CRAWL_NUM_BUCKETS,
                              write_bands=True)
    n_survivors = inc.count()

    # (6) pack append over the READ-BACK survivors (synthetic encoding:
    # ids = 1..n_words, SQL-derivable both sides)
    enc = (inc.filter("length(trim(clean_text)) > 0")
           .selectExpr(
               "doc_id",
               "transform(sequence(1, size(split(trim(clean_text),"
               " '[ \\t\\n]+'))), i -> CAST(i AS INT)) AS ids",
               "CAST(size(split(trim(clean_text), '[ \\t\\n]+')) AS INT)"
               " AS n_ids"))
    back = write_packed_sequences(enc, base + "_pack",
                                  seq_len=CRAWL_SEQ_LEN,
                                  seqs_per_shard=64, shard_width=100)
    pk = back.agg(F.count("*").alias("n_seqs"),
                  F.sum("n_tokens").alias("n_toks")).collect()[0]
    n_seqs, n_toks = int(pk["n_seqs"]), int(pk["n_toks"] or 0)

    # (7) lineage rows of the increment sink
    n_lineage = (lineage(spark, base + "_incr")
                 .filter("status = 'done' AND run_id = 'day1'").count())

    # (8) nightly OPTIMIZE: compact the increment sink (r8 verdict #4 —
    # after N daily runs a bucket is N small files), then recount from
    # FRESH readers over the newly committed attempts: compaction must
    # preserve every survivor row and every stored band signature exactly
    # (the DuckDB twin re-derives both counts knowing nothing about the
    # rewrite). Runs after every consumer of the pre-compaction readers
    # has executed — compaction's GC deletes the superseded attempts
    # their file listings name.
    from fast_pdf_parser_spark.plans.checkpoint import (
        compact_sink,
        read_band_table,
        read_clean,
    )

    compact_sink(spark, base + "_incr", run_id="opt")
    n_surv_compact = read_clean(spark, base + "_incr").count()
    n_bands_compact = read_band_table(spark, base + "_incr").count()

    rows = [("batch_docs", n_batch), ("batch_clean", n_clean),
            ("corpus_docs", n_corpus),
            ("exact_dropped", n_exact_dropped),
            ("near_dropped", n_near_dropped),
            ("survivors", n_survivors),
            ("packed_tokens", n_toks), ("packed_seqs", n_seqs),
            ("lineage_rows", n_lineage),
            ("survivors_after_compact", n_surv_compact),
            ("bands_after_compact", n_bands_compact)]
    result = spark.createDataFrame(rows, schema="stage string, n bigint")
    for suffix in ("_corpus", "_incr", "_pack"):
        _fs_delete(spark, base + suffix)
    return result


def _train_assembly_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-facing capstone (r8 verdict #2) — the crawl capstone's
    other half, composed once end to end: mixture sample → deterministic
    epoch-0 shuffle into loader shards → the SHUFFLED stream packed by
    the real distributed pack + shard-partitioned writer (synthetic
    encoding ids = 1..toks, the text_pack_write idiom; geometry READ
    BACK from the written parquet) → length-bucketed batch assembly over
    the kept set → data-card aggregate. One (stage, n) row per stage;
    relational._train_assembly_oracle_duck re-derives every count from
    `documents` in one statement, so any schema/ordering mismatch
    between the individually-green training-data operators shifts a
    count and hash-mismatches. Pack order is shard-major (shard, pos):
    global positions come from per-shard counts + a 4-row offset table —
    no corpus-wide window on the Spark side."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.packing import (
        write_packed_sequences,
    )
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        TRAIN_ASM_SEQ_LEN,
        TRAIN_ASM_SHARDS,
        spark_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import _fs_delete
    from fast_pdf_parser_spark.util import materialize

    _prepare(spark, sf_dir)
    sf_name = os.path.basename(os.path.normpath(sf_dir))

    # (1) mixture sample: the kept set (materialized — feeds shuffle,
    # batching, the data card and the pack)
    kept = materialize(spark.sql(
        "SELECT m.doc_id, m.source, m.doc_toks AS toks FROM ("
        + spark_sql("text_mixture_sample") + ") m WHERE m.kept = 1"))
    kept.createOrReplaceTempView("ta_kept")
    ka = kept.agg(F.count("*").alias("n"),
                  F.sum("toks").alias("t")).collect()[0]
    n_kept, tok_sum = int(ka["n"]), int(ka["t"] or 0)
    if n_kept == 0:
        # degenerate corpus (mixture kept nothing): emit zero-count
        # stages instead of crashing — F.coalesce() over an empty
        # per-shard offset dict raises TypeError and int(None) follows
        # from the empty shuffle's order hash (advice r9).  The shipped
        # sf corpora always keep docs; this is the graceful edge path.
        rows = [(s, 0) for s in
                ("mixture_kept", "mixture_tokens", "shuffle_docs",
                 "shuffle_shards", "shuffle_order_hash", "packed_seqs",
                 "packed_tokens", "pack_doc_slices", "pack_ids_sum",
                 "length_batches", "length_batch_docs",
                 "datacard_sources")]
        return spark.createDataFrame(rows, schema="stage string, n bigint")

    # (2) epoch-0 shuffle into loader shards (the text_shard_shuffle
    # discipline: per-shard rank window, no global sort)
    h = _HASH60_SPARK.format(x="concat(CAST(doc_id AS STRING), ':0')")
    shuf = materialize(spark.sql(f"""
        SELECT doc_id, toks, CAST(k % {TRAIN_ASM_SHARDS} AS INT) AS shard,
               row_number() OVER (PARTITION BY k % {TRAIN_ASM_SHARDS}
                                  ORDER BY k, doc_id) AS pos
        FROM (SELECT doc_id, toks, {h} AS k FROM ta_kept)"""))
    n_shuffled = shuf.count()
    n_shards = shuf.select("shard").distinct().count()
    order_hash = int(shuf.selectExpr(
        "sum((doc_id % 9973) * (shard * 100000 + pos)) AS v"
    ).collect()[0]["v"])

    # (3) pack the shuffled stream: shard-major global positions from
    # the tiny per-shard count relation (TRAIN_ASM_SHARDS rows)
    counts = {int(r["shard"]): int(r["cnt"]) for r in
              shuf.groupBy("shard").agg(F.count("*").alias("cnt"))
              .collect()}
    off, acc = {}, 0
    for s in sorted(counts):
        off[s] = acc
        acc += counts[s]
    gpos = F.coalesce(*[F.when(F.col("shard") == s, F.lit(o))
                        for s, o in off.items()]) + F.col("pos")
    enc = shuf.select(
        gpos.cast("long").alias("doc_id"),
        F.expr("transform(sequence(1, toks), i -> CAST(i AS INT))")
        .alias("ids"),
        F.col("toks").cast("int").alias("n_ids"))
    out = _scratch("tapack", sf_name)
    _fs_delete(spark, out)
    back = write_packed_sequences(enc, out, seq_len=TRAIN_ASM_SEQ_LEN,
                                  seqs_per_shard=64, shard_width=100)
    pk = back.agg(
        F.count("*").alias("s"), F.sum("n_tokens").alias("t"),
        F.sum("n_docs").alias("slices"),
        F.sum(F.aggregate("ids", F.lit(0).cast("bigint"),
                          lambda a, x: a + x)).alias("ids_sum"),
    ).collect()[0]

    # (4) length-bucketed batches over the kept docs' real text
    spark.sql("SELECT k.doc_id, d.text FROM ta_kept k "
              "JOIN documents d ON k.doc_id = d.doc_id"
              ).createOrReplaceTempView("ta_docs")
    lb = spark.sql(spark_sql("text_length_batching").replace(
        "FROM documents", "FROM ta_docs"))
    lba = lb.agg(F.count("*").alias("b"),
                 F.sum("n_docs").alias("d")).collect()[0]

    # (5) data card aggregate over the kept set
    n_sources = kept.select("source").distinct().count()

    rows = [("mixture_kept", n_kept), ("mixture_tokens", tok_sum),
            ("shuffle_docs", n_shuffled), ("shuffle_shards", n_shards),
            ("shuffle_order_hash", order_hash),
            ("packed_seqs", int(pk["s"])),
            ("packed_tokens", int(pk["t"] or 0)),
            ("pack_doc_slices", int(pk["slices"] or 0)),
            ("pack_ids_sum", int(pk["ids_sum"] or 0)),
            ("length_batches", int(lba["b"])),
            ("length_batch_docs", int(lba["d"] or 0)),
            ("datacard_sources", n_sources)]
    result = spark.createDataFrame(rows, schema="stage string, n bigint")
    _fs_delete(spark, out)
    return result


def _text_pack_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-sequence SINK end to end — the artifact a training run
    opens: a deterministic synthetic encoding (ids = 1..n for the
    whitespace word count, the text_pack_manifest proxy) pushed through
    the REAL distributed pack (operators/packing.pack_token_ids: per-shard
    prefix sums, bounded explode, per-sequence reassembly) and the REAL
    shard-partitioned writer (write_packed_sequences), then per-shard
    geometry + id checksums READ BACK from the written parquet. The
    synthetic ids are SQL-derivable, so DuckDB re-derives every column —
    n_seqs, doc slices, token totals, the all-full-but-last invariant
    (full_seqs) and even ids_sum — from `documents` arithmetically; the
    real-tokenizer pack stays pinned byte-exact by tests/test_packing.py
    and rows-only text_encode_pack."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.packing import (
        write_packed_sequences,
    )
    from fast_pdf_parser_spark.plans.checkpoint import _fs_delete

    _prepare(spark, sf_dir)
    enc = spark.sql("""
        SELECT doc_id,
               transform(sequence(1, nwords), i -> CAST(i AS INT)) AS ids,
               CAST(nwords AS INT) AS n_ids
        FROM (SELECT doc_id,
                     size(split(trim(text), '[ \\t\\n]+')) AS nwords
              FROM documents WHERE length(trim(text)) > 0)""")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = _scratch("pack", sf_name)
    _fs_delete(spark, out)
    back = write_packed_sequences(enc, out, seq_len=128, seqs_per_shard=64,
                                  shard_width=100)
    per_shard = (back.groupBy(F.col("shard").cast("long").alias("shard"))
                 .agg(
        F.count("*").cast("long").alias("n_seqs"),
        F.sum("n_docs").cast("long").alias("doc_slices"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.aggregate("ids", F.lit(0).cast("long"),
                          lambda a, x: a + x)).cast("long").alias("ids_sum"),
        F.sum(F.when(F.col("n_tokens") == 128, 1).otherwise(0))
        .cast("long").alias("full_seqs")))
    # the per-shard relation is tiny (seqs/64 rows); materialize it, then
    # drop the scratch shards — the returned DataFrame must not depend on
    # files we just deleted (the warc_clean_write idiom)
    result = spark.createDataFrame(per_shard.collect(),
                                   schema=per_shard.schema)
    _fs_delete(spark, out)
    return result


def _text_encode_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed training sequences with MATERIALIZED token ids — the
    artifact a training run consumes (text_pack_manifest oracle-checks
    the same algorithm over a whitespace-count proxy), produced by the
    real greedy tokenizer (operators/packing.pack_token_ids: zero-shuffle
    encode → per-shard prefix sums → bounded explode → per-sequence
    reassembly). Rows-only: ids aren't SQL-derivable; byte-exactness vs a
    serial reference pack is pinned by tests/test_packing.py. The driver
    projection is all-scalar (seq_id, n_docs, n_tokens, ids_sum)."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.packing import (
        encode_token_ids,
        pack_token_ids,
    )
    from fast_pdf_parser_spark.util import materialize

    _prepare(spark, sf_dir)
    # the small sf corpus is one parquet split — spread the compute-bound
    # encoder across cores (at 100 TB the scan splits make this a no-op
    # knob; see encode_token_ids docstring).  Materialized: the pack reads
    # the encoding in two plan branches (ids and shard totals).
    enc = materialize(encode_token_ids(
        spark.table("documents"),
        num_partitions=spark.sparkContext.defaultParallelism))
    packed = pack_token_ids(enc)
    return packed.select(
        "seq_id", "n_docs", "n_tokens",
        F.aggregate("ids", F.lit(0).cast("bigint"),
                    lambda a, x: a + x).alias("ids_sum"))


def _tokenizer_bpe_train8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION BPE trainer (functions/bpe.train_bpe — persisted
    per-step symbol table, O(1) plan depth, one-row argmax per merge)
    hash-checked at depth 8 against the unrolled relational twin on
    DuckDB (r8 verdict #3: tokenizer_bpe_train value-checks the 3-step
    SQL form; this row puts the trainer a real vocabulary run uses into
    the oracle gate, at a depth where the inlined-CTE SQL form would
    already re-derive the word table ~3^8 times on Spark). DuckDB
    materializes multi-referenced CTEs, so ITS 8-step chain is linear —
    the dialect asymmetry is exactly why the imperative loop exists."""
    from fast_pdf_parser_spark.functions.bpe import train_bpe

    _prepare(spark, sf_dir)
    merges = train_bpe(spark, spark.table("documents"), steps=8)
    rows = [(k + 1, merged, int(cnt))
            for k, (merged, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, schema="step int, merged string, pair_count bigint")


def _text_encode_pack_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED geometry of the REAL-tokenizer pack (r8 verdict #6 —
    text_encode_pack is rows-only because greedy-vocab ids aren't SQL;
    this row puts its GEOMETRY into the oracle gate without DuckDB ever
    re-implementing the tokenizer). The Spark side packs the real
    encoder's ids (pack_token_ids over encode_token_ids) and reports
    SQL-re-derivable facts:

      docs_packed              — docs that packed >= 1 token (DuckDB
                                 re-derives: non-blank text count)
      total_tokens_conserved   — sum(seq n_tokens) == sum(encode n_ids):
                                 the pack lost/duplicated nothing
      seq_count_formula        — n_seqs == ceil(T / seq_len) with seq_ids
                                 contiguous 0..n_seqs-1
      all_full_but_last        — every seq but the last holds exactly
                                 seq_len tokens; the last holds the rest
      doc_slices_match         — sum(n_docs) equals the slice count
                                 re-derived from the doc token prefix
                                 sums (shard-stitched, no global window)
      ids_sum_conserved        — sum of all packed ids == sum of all
                                 encoded ids (content, not just counts)

    The invariant rows oracle against literal 1s — the correctness
    signal is that the REAL pack actually satisfies them (any pack
    off-by-one, lost slice or dropped token flips a 1 to 0 and
    hash-mismatches); docs_packed carries a genuinely re-derived value."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.packing import (
        SEQ_LEN,
        SHARD_WIDTH,
        encode_token_ids,
        pack_token_ids,
    )
    from fast_pdf_parser_spark.util import materialize

    _prepare(spark, sf_dir)
    # encode ONCE: feeds the pack, the totals and the ids-sum
    # conservation check
    enc = materialize(encode_token_ids(
        spark.table("documents"),
        num_partitions=spark.sparkContext.defaultParallelism
    ).filter(F.col("n_ids") > 0))
    packed = pack_token_ids(enc)

    e = enc.agg(
        F.count("*").alias("d"),
        F.sum("n_ids").alias("t"),
        F.sum(F.aggregate("ids", F.lit(0).cast("bigint"),
                          lambda a, x: a + x)).alias("ids_sum"),
    ).collect()[0]
    d_enc, t_enc, ids_sum_enc = int(e["d"]), int(e["t"]), int(e["ids_sum"])

    # expected doc-slice count from prefix sums — same shard-stitch shape
    # as the pack itself (per-shard window + tiny offsets relation), so
    # the check scales exactly like the operator it checks
    shard = (F.col("doc_id") / SHARD_WIDTH).cast("long")
    w_local = (Window.partitionBy("shard").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = (enc.select("doc_id", "n_ids").withColumn("shard", shard)
             .withColumn("local_end", F.sum("n_ids").over(w_local)))
    shard_tot = local.groupBy("shard").agg(
        F.max("local_end").alias("shard_tokens"))
    w_off = (Window.orderBy("shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = shard_tot.select(
        "shard", F.coalesce(F.sum("shard_tokens").over(w_off), F.lit(0))
        .alias("shard_start"))
    expected_slices = int(
        local.join(F.broadcast(offsets), "shard")
        .select((F.floor((F.col("shard_start") + F.col("local_end") - 1)
                         / SEQ_LEN)
                 - F.floor((F.col("shard_start") + F.col("local_end")
                            - F.col("n_ids")) / SEQ_LEN) + 1).alias("k"))
        .agg(F.sum("k")).collect()[0][0])

    p = packed.agg(
        F.count("*").alias("s"),
        F.sum("n_tokens").alias("t"),
        F.sum("n_docs").alias("slices"),
        F.sum(F.when(F.col("n_tokens") == SEQ_LEN, 1).otherwise(0))
        .alias("full"),
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.countDistinct("seq_id").alias("uniq"),
        F.sum(F.aggregate("ids", F.lit(0).cast("bigint"),
                          lambda a, x: a + x)).alias("ids_sum"),
        F.max(F.when(F.col("seq_id") == F.lit(0), F.col("n_tokens")))
        .alias("probe0"),
    ).collect()[0]
    s, t_pack = int(p["s"]), int(p["t"])
    last_tokens = t_pack - (s - 1) * SEQ_LEN
    rows = [
        ("docs_packed", d_enc),
        ("total_tokens_conserved",
         int(t_pack == t_enc)),
        ("seq_count_formula",
         int(s == -(-t_pack // SEQ_LEN) and int(p["lo"]) == 0
             and int(p["hi"]) == s - 1 and int(p["uniq"]) == s)),
        ("all_full_but_last",
         int(int(p["full"]) >= s - 1 and 0 < last_tokens <= SEQ_LEN)),
        ("doc_slices_match", int(int(p["slices"]) == expected_slices)),
        ("ids_sum_conserved", int(int(p["ids_sum"]) == ids_sum_enc)),
    ]
    return spark.createDataFrame(rows, schema="invariant string, val bigint")


def _pipeline_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G5: the full stateful extraction (rows-only check — its exact
    contract is pinned by the span-equality pytest fixtures)."""
    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.sources.synth import (
        interleaved_from_flat_documents,
    )

    _prepare(spark, sf_dir)
    return extract_documents(interleaved_from_flat_documents(spark, sf_dir))


def _pipeline_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: per-doc totals + lineage metrics of the extraction run."""
    from fast_pdf_parser_spark.operators.pipeline import results_meta

    return results_meta(_pipeline_spans(spark, sf_dir))


def _pipeline_meta_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked S4/A3 axis: the REAL pipeline's per-doc page/byte/failure
    counters, projected to the columns a pure-SQL oracle can re-derive from
    documents.text (relational.HYBRID_ORACLES). total_chunks stays in the
    rows-only pipeline_results_meta — chunk boundaries aren't SQL."""
    return _pipeline_meta(spark, sf_dir).select(
        "doc_id", "total_pages", "parse_failures", "bytes_decoded"
    )


def _pipeline_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 over REAL chunk token counts: the reference's FULL distribution
    report (hierarchical_chunker.cpp:464-533) — count/min/max/avg, index
    quintiles p20/40/60/80, the 9 token-range buckets, below-min count.
    Rows-only (depends on the stateful pipeline)."""
    from fast_pdf_parser_spark.operators.sinks import chunk_distribution

    return chunk_distribution(_pipeline_spans(spark, sf_dir))


# The driver records a CORRECTNESS row for the first _DRIVER_WINDOW
# queries() entries in insertion order; queries() has grown past that, so
# insertion order IS evidence curation (round-5 verdict, Missing #1: a
# green operator whose row rotates out of the window is indistinguishable
# in the hard signal from an unimplemented one). Scheme:
#   1. _PRIORITY_QUERIES lead every round — the hybrid/stateful rows whose
#      oracles live outside relational.QUERIES (they have no other hard
#      signal) plus anything new this round.
#   2. The long-stable relational names fill the remaining window slots,
#      ROTATED by (shown-slots x round-index) — the round index is the
#      count of driver-written CORRECTNESS_r*.json files, so consecutive
#      rounds show contiguous arcs of the rest-circle and every name
#      lands a driver row within ceil(len(rest)/shown) consecutive
#      rounds from ANY starting round — shown (the arc length advanced
#      per round) sets the cadence, which exceeds ceil(len(rest)/
#      overflow) once the priority block grows past window - overflow.
_DRIVER_WINDOW = 50

_PRIORITY_QUERIES = [
    # new in round 9 — lead until each lands a driver CORRECTNESS row
    # (the guard test in tests/test_entry_curation.py makes forgetting
    # one structurally impossible: any queries() name absent from every
    # CORRECTNESS_r*.json must appear here): the real-tokenizer pack
    # geometry gate, the depth-8 production-BPE gate, and the
    # trainer-facing assembly capstone
    "text_encode_pack_geometry", "tokenizer_bpe_train8",
    "train_assembly_e2e",
    # new in round 9 (late additions, COVERAGE.md round-9 table):
    # soft-dedup weights, NFD bin packing, Gopher gate, CCNet thirds,
    # stratified holdout, DSIR weights, the event-analytics trio's
    # funnel/retention/sliding ops, TF-IDF keywords, MinHash estimator
    # quality, the TPC-H Q1/Q5/Q14 warehouse set, and the ROLLUP card
    "dedup_soft_weight", "text_pack_bestfit", "text_gopher_rules",
    "text_ccnet_bucket", "text_stratified_split", "text_dsir_weight",
    "events_funnel", "events_retention", "text_tfidf_keywords",
    "dedup_minhash_quality", "tpch_q1_pricing", "tpch_q5_local_volume",
    "corpus_rollup", "events_sliding_value", "tpch_q14_promo",
    "events_json_extract", "tpch_q4_late_priority",
    # re-verify: implementations changed in r9 — the near-dup row and
    # the crawl capstone now serve candidates through the PRUNED band
    # probe (and the capstone gained compact-then-recount stages); the
    # recall report's semdedup tier went corpus-only (advice r8)
    "dedup_incremental_near", "crawl_increment_e2e",
    "dedup_semantic_cells", "ann_recall_report",
    # hybrid/stateful rows: their DuckDB twins live in HYBRID_ORACLES (or
    # they are by-design rows-only) — the driver row is their only/primary
    # hard signal, so they never rotate
    "pipeline_meta_oracle", "pipeline_clean_write",
    "dedup_clusters", "dedup_clusters_ranked",
    "pipeline_extract_spans", "pipeline_results_meta",
    "pipeline_chunk_distribution", "pipeline_docling_chunks",
    # The r5-r8 blocks that used to lead here all landed green driver
    # rows (the r8 additions all have rows in CORRECTNESS_r08.json), so
    # they rotate with the general pool now — keeping them pinned would
    # starve the rotation window (the cadence bound degrades as the
    # pinned block grows).
]


def _round_index() -> int:
    """Rounds completed so far = CORRECTNESS files the driver has written."""
    import glob

    return len(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so the
    driver's _DRIVER_WINDOW-row CORRECTNESS window covers every operator on
    a bounded cadence (see _PRIORITY_QUERIES above).

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed column is aliased identically to its oracle.
    """
    from fast_pdf_parser_spark.operators.relational import names

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _relational_query(name) for name in names()
    }
    out["dedup_lsh_pairs"] = _dedup_lsh_pairs_fast
    out["dedup_embedding_cosine"] = _dedup_embedding_fast
    out["ann_lsh_topk"] = _ann_lsh_fast
    out["dedup_clusters"] = _dedup_clusters
    out["dedup_clusters_ranked"] = _dedup_clusters_ranked
    out["pipeline_clean_write"] = _pipeline_clean_write
    out["pipeline_extract_spans"] = _pipeline_spans
    out["pipeline_results_meta"] = _pipeline_meta
    out["pipeline_meta_oracle"] = _pipeline_meta_oracle
    out["pipeline_chunk_distribution"] = _pipeline_distribution
    out["pipeline_docling_chunks"] = _pipeline_docling
    out["pipeline_docling_meta_oracle"] = _pipeline_docling_meta
    out["text_encode_pack"] = _text_encode_pack
    out["text_encode_pack_geometry"] = _text_encode_pack_geometry
    out["tokenizer_bpe_train8"] = _tokenizer_bpe_train8
    out["text_pack_write"] = _text_pack_write
    out["dedup_incremental_near"] = _dedup_incremental_near
    out["dedup_incremental"] = _dedup_incremental
    out["crawl_increment_e2e"] = _crawl_increment_e2e
    out["train_assembly_e2e"] = _train_assembly_e2e
    out["warc_extract"] = _warc_extract
    out["warc_clean_write"] = _warc_clean_write
    out["pipeline_html_extract"] = _pipeline_html
    out["pipeline_html_meta_oracle"] = _pipeline_html_meta
    out["pipeline_html_content_oracle"] = _pipeline_html_content
    out["multimodal_media_features"] = _media_features
    out["multimodal_resize"] = _media_resize
    out["multimodal_frame_sample"] = _media_frames
    out["ann_ivf_topk"] = _ann_ivf
    out["ann_ivf_persisted"] = _ann_ivf_persisted
    out["text_nfc_normalize"] = _text_nfc_normalize
    out["text_pack_bestfit"] = _text_pack_bestfit

    pri = [n for n in _PRIORITY_QUERIES if n in out]
    rest = [n for n in out if n not in set(pri)]
    overflow = max(0, len(out) - _DRIVER_WINDOW)
    shown = _DRIVER_WINDOW - len(pri)  # rest slots inside the window
    if overflow and rest and shown > 0:
        # rotate by the SHOWN count, not the overflow: consecutive rounds
        # then tile the rest-circle with contiguous arcs [shown*r,
        # shown*(r+1)), so ANY ceil(len(rest)/shown) consecutive rounds
        # cover every name regardless of starting offset. An overflow-step
        # rotation only guarantees windows anchored at round 0 — when
        # overflow doesn't divide len(rest) the excluded block wraps and
        # a name can sit outside two consecutive arbitrary-offset windows
        # (r6 advice; property-tested over all offsets in
        # tests/test_entry_curation.py).
        k = (shown * _round_index()) % len(rest)
        rest = rest[k:] + rest[:k]
    return {n: out[n] for n in pri + rest}


def _media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage over the pipeline's media spans — hash-
    checked against relational._media_resize_oracle_duck (geometry real,
    codec stubbed — multimodal/media.py policy)."""
    from fast_pdf_parser_spark.multimodal.media import (
        media_spans,
        resize_images,
    )

    return resize_images(media_spans(_pipeline_spans(spark, sf_dir)))


def _media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling stage — hash-checked against
    relational._media_frames_oracle_duck. The derived corpus has image
    media only, so sample synthetic video refs derived from doc_ids — the
    stage itself (explode shape, bounded multiplicity) is what runs."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.multimodal.media import sample_frames

    _prepare(spark, sf_dir)
    vids = spark.sql(
        "SELECT CAST(doc_id AS STRING) AS doc_id, "
        "concat('media://vid/', doc_id, '.mp4') AS media_ref "
        "FROM documents WHERE doc_id % 10 = 0"
    )
    _ = F
    return sample_frames(vids, every_ms=5000, max_frames=8)


def _ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-IVF served from a PERSISTED cell-partitioned index — the
    serving shape of ANN at 100 TB: the index is the corpus written
    partitionBy(cell) (2^GRID_BITS directories), the query batch computes
    its probe cells (own cell + Hamming-1 flips), and the index scan is
    FILTERED to those partition values — partition pruning bounds the
    read to the probed fraction of the stored corpus (the scan-side
    PartitionFilters is plan-asserted in tests/test_plans.py). The
    search itself is identical to ann_ivf_grid (same closed-form
    quantizer + exact-cosine verify), so the DuckDB twin is that query's
    oracle re-deriving from `embeddings` directly — this row hash-checks
    that an index round-tripped through partitioned storage serves the
    same answers. Cell ids get a 'c' prefix on write so the bit-string
    survives partition-column type inference.

    The index is built INCREMENTALLY (r7 verdict #4): the first corpus
    half (odd vec_ids) is written mode('overwrite'), the second half
    (even vec_ids) is APPENDED — mode('append') under partitionBy(cell)
    lands each new vector's file inside its existing cell directory, so
    index maintenance is a partition-local file add, never a rebuild.
    The serve then runs against the appended index, putting the
    append==rebuild property (tests/test_plans.py pins it) into the
    driver's hash-checked signal: any row the append path lost,
    duplicated, or mis-celled would diverge from the DuckDB twin, which
    knows nothing about the index's construction history."""
    from fast_pdf_parser_spark.operators.relational import (
        _band_key_sql,
        _COS_SPARK,
        _EMB_ELEM_SPARK,
        _GRID_BAND,
        _GRID_BITS,
        _GRID_RANKED_TAIL,
        _grid_probe_list,
    )
    from fast_pdf_parser_spark.plans.checkpoint import _fs_delete

    _prepare(spark, sf_dir)
    cell = _band_key_sql(_GRID_BAND, _EMB_ELEM_SPARK, _GRID_BITS)
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    idx = _scratch("ivf", sf_name)
    _fs_delete(spark, idx)
    spark.sql(
        f"""SELECT vec_id, embedding, concat('c', {cell}) AS cell
            FROM embeddings WHERE vec_id >= 5 AND vec_id % 2 = 1"""
    ).write.partitionBy("cell").mode("overwrite").parquet(idx)
    spark.sql(
        f"""SELECT vec_id, embedding, concat('c', {cell}) AS cell
            FROM embeddings WHERE vec_id >= 5 AND vec_id % 2 = 0"""
    ).write.partitionBy("cell").mode("append").parquet(idx)

    # the distinct probe-cell list is bounded by 2^GRID_BITS values —
    # collecting it is what turns the probes into a static partition
    # filter the scan can prune on
    probe_rows = spark.sql(
        f"""SELECT DISTINCT probe FROM (
              SELECT explode(array({_grid_probe_list()})) AS probe
              FROM (SELECT {cell} AS cell0
                    FROM embeddings WHERE vec_id < 5))"""
    ).collect()
    probes = ["c" + r.probe for r in probe_rows]

    from pyspark.sql import functions as F

    spark.read.parquet(idx).filter(
        F.col("cell").isin(probes)
    ).createOrReplaceTempView("ivf_index")
    topk = spark.sql(f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS e, {cell} AS cell0
  FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT query_id, e, concat('c', probe) AS cell
  FROM q LATERAL VIEW explode(array({_grid_probe_list()})) t AS probe
),
c AS (SELECT vec_id, embedding AS e, cell FROM ivf_index),
scored AS (
  SELECT a.query_id, b.vec_id, {_COS_SPARK} AS cos
  FROM probes a JOIN c b ON b.cell = a.cell
),
{_GRID_RANKED_TAIL}""")
    # materialize the tiny top-k before dropping the scratch index — the
    # returned DataFrame must not depend on deleted files
    result = spark.createDataFrame(topk.collect(), schema=topk.schema)
    _fs_delete(spark, idx)
    return result


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans coarse quantizer, n_probe cells searched) — the
    1e9-vector scale path; rows-only (KMeans isn't SQL-expressible),
    recall vs brute force is pinned by tests/test_similarity.py. The same
    search pattern with a deterministic hyperplane-grid quantizer is the
    hash-checked sibling (QUERIES['ann_ivf_grid'])."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.similarity import (
        fit_ivf_cells,
        ivf_topk,
    )

    _prepare(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter("vec_id >= 5")
    queries_df = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assigned, centroids = fit_ivf_cells(corpus, n_cells=16, seed=42)
    return ivf_topk(assigned, centroids, queries_df, k=10, n_probe=4) \
        .drop("cos")


def _pipeline_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML member of the extraction family (north rule: 'HTML boilerplate
    strip … DOM heuristics'): kind='html' spans — deterministic synthetic
    pages wrapped in boilerplate HTML, keyed by doc_id — through the same
    zero-shuffle pipeline. Rows-only; the exact strip/mapping contract is
    pinned by tests/test_html_extractor.py."""
    import pandas as pd

    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL

    _prepare(spark, sf_dir)
    ids = spark.sql(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents "
        "WHERE doc_id % 5 = 0")

    def gen(batches):
        from fast_pdf_parser_spark.sources.synth import html_from_page

        for pdf in batches:
            rows = [{
                "doc_id": str(i),
                "spans": [{"kind": "html",
                           "text": html_from_page(int(i) % 97, p),
                           "media_ref": None, "offset": p}
                          for p in range(1 + int(i) % 3)],
            } for i in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    spans = ids.mapInPandas(gen, schema=SPANS_DDL)
    return extract_documents(spans)


def _html_wrapped_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived span pages wrapped in boilerplate HTML entirely JVM-side
    (synth.HTML_PREFIX/SUFFIX + the html_line CASE as Column expressions) —
    shared input of the two hash-checked HTML-axis oracles."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.sources.synth import (
        HTML_PREFIX,
        HTML_SUFFIX,
        interleaved_from_flat_documents,
    )

    _prepare(spark, sf_dir)

    def line_el(line):
        rest = lambda n: line.substr(F.lit(n), F.length(line))  # noqa: E731
        return (
            F.when(line.startswith("### "),
                   F.concat(F.lit("<h3>"), rest(5), F.lit("</h3>")))
            .when(line.startswith("## "),
                  F.concat(F.lit("<h2>"), rest(4), F.lit("</h2>")))
            .when(line.startswith("# "),
                  F.concat(F.lit("<h1>"), rest(3), F.lit("</h1>")))
            .when(line.startswith("- "),
                  F.concat(F.lit("<li>"), rest(3), F.lit("</li>")))
            .when(line.startswith("  "),
                  F.concat(F.lit("<pre>"), line, F.lit("</pre>")))
            .when(F.length(line) == 0, F.lit(""))
            .otherwise(F.concat(F.lit("<p>"), line, F.lit("</p>")))
        )

    def wrap(text):
        body = F.array_join(F.transform(F.split(text, "\n"), line_el), "")
        return F.concat(F.lit(HTML_PREFIX), body, F.lit(HTML_SUFFIX))

    return interleaved_from_flat_documents(spark, sf_dir).select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                F.when(s["kind"] == "text", F.lit("html"))
                .otherwise(s["kind"]).alias("kind"),
                F.when(s["kind"] == "text", wrap(s["text"]))
                .otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def _pipeline_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked HTML-axis oracle: the REAL pipeline extracts the
    JVM-wrapped pages (boilerplate strip + chunking) and the per-doc
    page/byte/failure counters must match DuckDB's pure-SQL re-derivation
    of the same wrap (relational.HYBRID_ORACLES)."""
    from fast_pdf_parser_spark.operators.pipeline import (
        extract_documents,
        results_meta,
    )

    spans = _html_wrapped_spans(spark, sf_dir)
    return results_meta(extract_documents(spans)).select(
        "doc_id", "total_pages", "parse_failures", "bytes_decoded"
    )


def _pipeline_html_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-level HTML-axis oracle: the real html.parser extractor runs
    per wrapped page (boilerplate containers, nav/link-farm, head/script
    all present) and the extracted markdown text itself — not just byte
    counters — must equal DuckDB's re-derivation (the page's non-blank
    lines in order: the builder-roundtrip contract,
    tests/test_html_extractor.py::test_builder_roundtrip_exact)."""
    import pandas as pd
    from pyspark.sql import functions as F

    flat = (
        _html_wrapped_spans(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "html")
        .select("doc_id", F.col("s.offset").alias("page_no"),
                F.col("s.text").alias("html"))
    )

    def run(batches):
        from fast_pdf_parser_spark.sources.html_extractor import (
            html_main_content,
        )

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "page_no": pdf["page_no"],
                "extracted": [html_main_content(h) for h in pdf["html"]],
            })

    return flat.mapInPandas(
        run, schema="doc_id string, page_no int, extracted string")


def _text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization stage (relational.py _NFC_INJECT notes):
    Spark has no SQL Unicode normalizer, so the real path is an
    Arrow-batched pandas Series.str.normalize('NFC') — zero shuffle, one
    python stage — while DuckDB's twin re-derives with its built-in
    nfc_normalize. The injected decomposed/compatibility sequences must
    compose (changed=1, len shrinks for the combining-mark cases) and the
    doc_id%4==3 control must hash-match untouched; the normalized-text
    md5 runs JVM-side on the UDF's output, so the value check covers the
    exact post-normalization bytes."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        _NFC_INJECT,
    )

    _prepare(spark, sf_dir)

    # no decorator-with-hints form: this module has `from __future__ import
    # annotations`, which stringifies the pd.Series hints and pandas_udf
    # then fails to resolve them ([UNSUPPORTED_SIGNATURE]); the explicit
    # returnType form sidesteps hint introspection entirely
    nfc = F.pandas_udf(lambda s: s.str.normalize("NFC"), "string")

    aug = spark.sql(f"SELECT doc_id, {_NFC_INJECT} AS raw FROM documents")
    return aug.withColumn("nfc", nfc("raw")).selectExpr(
        "doc_id",
        "CAST(CASE WHEN nfc <> raw THEN 1 ELSE 0 END AS INT) AS changed",
        "CAST(length(raw) AS BIGINT) AS len_raw",
        "CAST(length(nfc) AS BIGINT) AS len_nfc",
        f"{_HASH60_SPARK.format(x='nfc')} AS nfc_hash",
    )


def _pipeline_docling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: docling-format JSON chunk sink (rows-only — JSON text payload)."""
    from fast_pdf_parser_spark.operators.sinks import docling_chunks

    return docling_chunks(_pipeline_spans(spark, sf_dir))


def _pipeline_docling_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked S6 axis: the docling sink's doc-level meta, parsed back
    OUT OF the emitted chunk_json payloads (so the real to_json sink path
    is what's verified): origin mimetype/filename, the portable 60-bit
    binary_hash, and the chunk-indexing invariant total_chunks ==
    max(chunk_index)+1 == row count, constant across a doc's chunks.
    Chunk boundaries themselves stay rows-only (stateful chunker)."""
    from pyspark.sql import functions as F

    dj = _pipeline_docling(spark, sf_dir)
    g = F.get_json_object
    parsed = dj.select(
        "doc_id",
        g("chunk_json", "$.meta.chunk_index").cast("int").alias("ci"),
        g("chunk_json", "$.meta.total_chunks").cast("int").alias("tc"),
        g("chunk_json", "$.meta.origin.mimetype").alias("mimetype"),
        g("chunk_json", "$.meta.origin.filename").alias("filename"),
        g("chunk_json", "$.meta.origin.binary_hash").cast("bigint")
        .alias("bh"),
    )
    return parsed.groupBy("doc_id").agg(
        F.min("mimetype").alias("mimetype"),
        F.min("filename").alias("filename"),
        F.min("bh").alias("binary_hash"),
        ((F.max("tc") == F.count(F.lit(1)))
         & (F.min("tc") == F.max("tc"))
         & (F.max("ci") + 1 == F.max("tc"))
         & (F.min("filename") == F.col("doc_id"))
         & (F.min("bh") == F.max("bh"))
         ).cast("int").alias("chunks_consistent"),
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: media passthrough spans → typed metadata + features,
    hash-checked against relational._media_features_oracle_duck (the fake
    decode is pure sha256(ref) arithmetic, so DuckDB re-derives every
    field from hex substrings).

    The driver-facing projection is all-scalar: the canonicalizer sorts
    every column and cannot sort ``array<float>``, so the feature vector is
    quantized per element (floor(v*1e4 + 0.5) — exact in double for float32
    v, so both engines floor the same value) and joined into one string;
    the library API (multimodal.media.extract_media_features) keeps the
    real array column."""
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.multimodal.media import (
        extract_media_features,
        media_spans,
    )

    out = extract_media_features(media_spans(_pipeline_spans(spark, sf_dir)))
    quant = F.transform(
        F.col("features"),
        lambda v: F.floor(v.cast("double") * 10000 + F.lit(0.5))
        .cast("bigint").cast("string"),
    )
    return out.withColumn(
        "features_q", F.array_join(quant, ",")
    ).drop("features")


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; the stateful
    pipeline queries (G1-G5 territory) are intentionally absent — the driver
    records the weaker rows-only check for them and pytest carries their
    exact span-sequence contract."""
    from fast_pdf_parser_spark.operators.relational import (
        HYBRID_ORACLES,
        QUERIES,
    )

    out = {name: pair["duck"] for name, pair in QUERIES.items()}
    out.update(HYBRID_ORACLES)
    # the persisted-index serving path returns exactly ann_ivf_grid's
    # answer set, so it shares that oracle (same closed-form arithmetic)
    out["ann_ivf_persisted"] = QUERIES["ann_ivf_grid"]["duck"]
    return out


def _text_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-preserving next-fit-decreasing bin packing (operators/
    packing.pack_bestfit): whole documents into SEQ_LEN-capacity bins,
    none split — the example-packing counterpart of the concat-then-split
    pack. Spark side = one shard shuffle + an applyInPandas fold per
    shard; the DuckDB twin replays the identical fold as a recursive CTE
    (relational.HYBRID_ORACLES['text_pack_bestfit']), value-checking
    every bin boundary cross-engine."""
    from fast_pdf_parser_spark.operators.packing import pack_bestfit

    _prepare(spark, sf_dir)
    return pack_bestfit(spark.table("documents"))
