"""Checkpointed, resumable extraction runs with per-partition lineage.

The reference has no checkpoint/resume at all (SURVEY.md §4 "what the
reference lacks") — at 10^12 documents a restartable run is mandatory. The
model (FIXTURES.md §4):

- documents are assigned to stable BUCKETS: ``pmod(xxhash64(doc_id), n)`` —
  a pure function of the data, independent of cluster size or input
  partitioning, so a resumed run on different hardware sees identical
  buckets;
- each bucket is processed as one job that appends its output under
  ``out/spans/bucket=K/`` and then appends ONE lineage row to the
  checkpoint table: (run_id, partition_id, docs_parsed, bytes_decoded,
  parse_failures, wall_ms, status='done'). The checkpoint row is written
  AFTER the bucket's data — a crash between the two re-processes the bucket
  (idempotent: the bucket dir is overwritten), never skips it;
- resume = anti-join of the bucket list against the checkpoint table's
  'done' rows for the run_id — the single (broadcast) join in the system
  (SURVEY.md §2 note).

Bucket granularity, not file granularity, keeps the checkpoint table tiny
(hundreds of rows for a 100 TB run with a few hundred buckets) while
bounding re-work after a failure to 1/n of the corpus.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, SparkSession, functions as F

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.operators.pipeline import extract_documents

CHECKPOINT_SCHEMA = (
    "run_id string, partition_id int, docs_parsed long, bytes_decoded long, "
    "parse_failures long, wall_ms long, status string"
)

# Band-table probe layout (r8 verdict #1): the stored band table is laid
# out for PRUNED point probes — ``bands/bucket=K/bkp=J/`` where
# bkp = pmod(band_key, BAND_PROBE_PARTS) — so a daily increment's
# candidate scan reads only the partitions its own band keys hash into,
# never the whole corpus-scale table. The modulus is a shared module
# constant (not a parameter) so the writer and the prober can never
# disagree — a drift there would silently DROP candidates. Files are
# additionally sorted by (band, band_key) with a parquet bloom filter on
# band_key, so the pushed key-IN predicate also skips row groups inside
# a probed partition.
BAND_PROBE_PARTS = 16
# batches with up to this many distinct band keys push the literal key
# list into the scan (row-group stats prune); larger batches fall back
# to a broadcast semi-join (row reduction without file pruning — at that
# size the batch's keys cover the hash space anyway)
BAND_PROBE_MAX_PUSHDOWN = 4096


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for *path's own scheme* — file:, hdfs:, s3a:, ...

    Every existence probe in this module goes through the Hadoop FileSystem
    API instead of os.path: a driver-local os.path.exists is always False
    for HDFS/S3 paths, which on the staged-read path would silently treat
    every bucket as empty, write empty output, and mark it 'done' — silent
    data loss on exactly the deployments this module targets.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _list_staged_buckets(spark: SparkSession, staged: str) -> set[int]:
    """Bucket ids that actually have a staged partition directory, listed
    ONCE via the FileSystem API. A bucket absent from this set is
    *genuinely empty* (partitionBy writes no dir for an empty group) —
    distinguishable from 'directory not visible to the driver', which with
    os.path.exists on a remote FS was indistinguishable."""
    fs, hpath = _hadoop_fs(spark, staged)
    out: set[int] = set()
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith("bucket="):
            out.add(int(name.split("=", 1)[1]))
    return out


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable content-derived bucket id (independent of physical layout)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, checkpoint_path: str,
                      run_id: str) -> set[int]:
    if not _fs_exists(spark, checkpoint_path):
        return set()
    cp = spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_path)
    rows = (
        cp.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("partition_id").distinct().collect()
    )
    return {r.partition_id for r in rows}


def _pending_buckets(spark: SparkSession, checkpoint_path: str,
                     run_id: str, num_buckets: int) -> list[int]:
    """Resume anti-join shared by both sinks: all buckets minus the run's
    'done' lineage rows. The bucket list is tiny → broadcast; expressed as
    a DataFrame anti-join to stay a real plan at any bucket count."""
    done = completed_buckets(spark, checkpoint_path, run_id)
    all_buckets = spark.range(num_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    done_df = spark.createDataFrame(
        [(int(b),) for b in sorted(done)], schema="bucket int"
    )
    return [
        r.bucket
        for r in all_buckets.join(F.broadcast(done_df), "bucket", "left_anti")
        .orderBy("bucket").collect()
    ]


def run_with_checkpoint(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = 16,
    chunk_options: ChunkOptions = ChunkOptions(),
    parse_options: ParseOptions = ParseOptions(),
    fail_on_bucket: int | None = None,  # test hook: simulate a crash
    max_concurrent_buckets: int = 4,
    stage_input: bool = True,
) -> DataFrame:
    """Process the corpus bucket-by-bucket, appending lineage rows; on
    re-invocation with the same run_id, already-'done' buckets are skipped
    (resume-from-partition). Returns the complete result DataFrame reader.

    Buckets are independent jobs, so up to ``max_concurrent_buckets`` run
    concurrently (Spark schedules parallel jobs; each bucket's data lands in
    its own directory, so writes never collide). Only the tiny lineage
    append is serialized. A bucket's lineage row is still written strictly
    AFTER its data is durable, so a crash mid-run re-processes exactly the
    buckets without a 'done' row — resumability is unchanged, while the
    per-bucket job overhead no longer serializes the whole run."""
    spans_dir = os.path.join(out_dir, "spans")
    checkpoint_path = os.path.join(out_dir, "checkpoint")
    if max_concurrent_buckets <= 0:
        # auto: overlap enough bucket jobs to keep every core busy — per-
        # bucket fixed cost (job scheduling, lineage write, read-back) is
        # what bounds CLI scaling when buckets serialize
        max_concurrent_buckets = max(4, spark.sparkContext.defaultParallelism)

    bucketed = with_bucket(input_df, num_buckets)
    pending = _pending_buckets(spark, checkpoint_path, run_id, num_buckets)

    # Stage the bucketed input ONCE, partitioned by bucket: the bucket id
    # is a computed column (pmod(xxhash64)), so per-bucket filters cannot
    # push down and every bucket job would otherwise re-scan the ENTIRE
    # input — B full scans. Staged, the total input work is one scan + one
    # write + one partition-pruned read, at any bucket count. The staged
    # directory is content-addressed by (run_id, num_buckets) and reused on
    # resume when its _SUCCESS marker is durable.
    staged = os.path.join(out_dir, "staged", f"{run_id}_b{num_buckets}")
    staged_buckets: set[int] = set()
    if stage_input and pending:
        if not _fs_exists(spark, os.path.join(staged, "_SUCCESS")):
            bucketed.write.mode("overwrite").partitionBy("bucket") \
                .parquet(staged)
        # list the staged partitions ONCE (FileSystem API — scheme-correct
        # on HDFS/S3); per-bucket reads consult this set, so a bucket with
        # no dir is KNOWN empty rather than assumed empty
        staged_buckets = _list_staged_buckets(spark, staged)

    lineage_lock = threading.Lock()

    def process_bucket(bucket: int) -> None:
        if fail_on_bucket is not None and bucket == fail_on_bucket:
            raise RuntimeError(f"simulated failure at bucket {bucket}")
        t0 = time.time()
        if stage_input:
            bdir = os.path.join(staged, f"bucket={bucket}")
            # a genuinely empty bucket writes no partition directory
            part = spark.read.parquet(bdir) if bucket in staged_buckets \
                else bucketed.drop("bucket").limit(0)
        else:
            part = bucketed.filter(F.col("bucket") == bucket).drop("bucket")
        result = extract_documents(part, chunk_options, parse_options)
        result.write.mode("overwrite").parquet(
            os.path.join(spans_dir, f"bucket={bucket}")
        )
        # lineage/metrics row — read back what was just written (cheap
        # column-pruned scan) so the metrics describe durable data
        written = spark.read.parquet(os.path.join(spans_dir, f"bucket={bucket}"))
        stats = written.agg(
            F.countDistinct("doc_id").alias("docs"),
            F.sum(F.when(F.col("offset") == 0, F.col("doc_bytes_decoded"))
                  .otherwise(0)).alias("bytes"),
            F.sum(F.when(F.col("offset") == 0, F.col("doc_parse_failures"))
                  .otherwise(0)).alias("fails"),
        ).collect()[0]
        wall_ms = int((time.time() - t0) * 1000)
        row = [(run_id, bucket, int(stats["docs"] or 0),
                int(stats["bytes"] or 0), int(stats["fails"] or 0),
                wall_ms, "done")]
        with lineage_lock:  # concurrent appends to one dir can collide
            spark.createDataFrame(row, schema=CHECKPOINT_SCHEMA).write.mode(
                "append"
            ).parquet(checkpoint_path)

    workers = max(1, min(max_concurrent_buckets, len(pending) or 1))
    if workers == 1:
        for bucket in pending:
            process_bucket(bucket)
    else:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = {pool.submit(process_bucket, b): b for b in pending}
            errors = []
            for fut in as_completed(futures):
                exc = fut.exception()
                if exc is not None:
                    errors.append(exc)
            if errors:
                raise errors[0]

    # all pending buckets completed (errors raised above): the staged copy
    # has served its purpose — drop it, or it permanently doubles
    # input-sized storage under out_dir per run configuration. This runs
    # even when pending was empty: a crash between the last bucket's
    # lineage append and this cleanup leaves a resume run that computes
    # pending=[] — it must still collect the orphaned staged directory.
    if stage_input and _fs_exists(spark, staged):
        _fs_delete(spark, staged)
        parent = os.path.dirname(staged)
        fs, hparent = _hadoop_fs(spark, parent)
        if fs.exists(hparent) and len(fs.listStatus(hparent)) == 0:
            fs.delete(hparent, False)

    # partition discovery exposes the bucket= directory as a `bucket` column
    # — kept deliberately: downstream reads filtering on it get partition
    # pruning for free (e.g. re-processing one bucket's output)
    return spark.read.parquet(spans_dir)


def lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(
        os.path.join(out_dir, "checkpoint")
    )


def write_clean_corpus(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    num_buckets: int = 8,
    fail_on_bucket: int | None = None,  # test hook: simulate a crash
) -> DataFrame:
    """Materialize the cleaned corpus — the artifact a training run
    consumes: every ``final_keep=1`` document of the composed cleaning DAG
    (relational.pipeline_clean_corpus: dedup → PII scrub → quality gate →
    domain cap → split), written partitioned by (bucket, split) via
    ``write_docs_bucketed`` with the same lineage/resume machinery as
    run_with_checkpoint. Requires the sf tables to be registered as views
    (the driver / __spark_entry__._prepare does this).
    """
    from fast_pdf_parser_spark.operators.relational import spark_sql

    kept = (
        spark.sql(spark_sql("pipeline_clean_corpus"))
        .filter(F.col("final_keep") == 1)
        .select("doc_id", "source", "split", "clean_hash", "clean_text")
    )
    return write_docs_bucketed(spark, kept, out_dir, run_id,
                               num_buckets=num_buckets,
                               fail_on_bucket=fail_on_bucket)


def write_docs_bucketed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = 8,
    fail_on_bucket: int | None = None,  # test hook: simulate a crash
    write_bands: bool = False,
) -> DataFrame:
    """Resume-safe bucketed sink for a cleaned-documents DataFrame with
    schema (doc_id BIGINT, source STRING, split STRING, clean_hash BIGINT,
    clean_text STRING) — any cleaning DAG's kept rows (the global
    pipeline_clean_corpus gates, the WARC path's gates, a streaming
    backfill) land through the same durable machinery. Two phases, each
    resume-safe:

    1. GATES: ``docs`` (which may embody corpus-global windows that cannot
       run per-bucket) is computed ONCE and staged under ``out/gates``
       partitioned by bucket (content-addressed by run_id; reused on
       resume when its _SUCCESS marker is durable) — bucket is a computed
       column (pmod(xxhash64)), so unstaged per-bucket filters would
       re-run the upstream DAG B times.
    2. WRITE: each bucket writes ``out/clean/bucket=K/split=S/`` then
       appends one lineage row. Resume anti-joins the bucket list against
       'done' rows — identical idempotence story to the extraction
       checkpoint: a crash between data and lineage re-writes the bucket
       (overwrite), never skips or duplicates it.

    ``write_bands=True`` additionally persists the MinHash band-signature
    table (doc_id, band, band_key — relational.band_signatures_spark_sql,
    the ONE band definition every dedup consumer shares) under
    ``out/bands/bucket=K/``, derived per bucket from the DURABLE clean
    copy just written. This is the batch twin of the streaming band claim
    store (streaming/ingest.py): a daily increment then costs O(batch)
    band compute at write time, and incremental near-dup
    (relational.near_incremental_stored_spark_sql) generates candidates
    by scanning ONLY the stored band columns — never re-minhashing the
    corpus (r7 verdict #1, the one operation that didn't survive 100 TB).
    Band files ride the same crash story as the data: bands are written
    after the bucket's clean data and before its lineage row, so any
    crash in between re-processes the whole bucket (overwrite) — the band
    table can never durably disagree with the clean table.

    Returns the reader over the written corpus (bucket and split appear
    as partition columns — downstream filters get pruning for free).
    Read the band table back with ``read_band_table``.
    """
    clean_dir = os.path.join(out_dir, "clean")
    bands_dir = os.path.join(out_dir, "bands")
    checkpoint_path = os.path.join(out_dir, "checkpoint")
    gates_dir = os.path.join(out_dir, "gates", f"{run_id}_b{num_buckets}")

    pending = _pending_buckets(spark, checkpoint_path, run_id, num_buckets)

    staged_buckets: set[int] = set()
    if pending:
        if not _fs_exists(spark, os.path.join(gates_dir, "_SUCCESS")):
            kept = with_bucket(docs, num_buckets)
            kept.write.mode("overwrite").partitionBy("bucket") \
                .parquet(gates_dir)
        staged_buckets = _list_staged_buckets(spark, gates_dir)

    for bucket in pending:
        if fail_on_bucket is not None and bucket == fail_on_bucket:
            raise RuntimeError(f"simulated failure at bucket {bucket}")
        t0 = time.time()
        bdir = os.path.join(clean_dir, f"bucket={bucket}")
        if bucket in staged_buckets:
            part = spark.read.parquet(
                os.path.join(gates_dir, f"bucket={bucket}"))
        else:  # genuinely empty bucket: durable empty marker, real schema
            part = spark.createDataFrame(
                [], schema=("doc_id bigint, source string, split string, "
                            "clean_hash bigint, clean_text string"))
        part.write.mode("overwrite").partitionBy("split").parquet(bdir)
        if write_bands:
            # band signatures derived from the DURABLE copy just written
            # (never from the in-memory lineage — what's on disk is what
            # downstream batches will dedup against), one bucket at a
            # time: a daily increment's band compute is O(batch)
            from fast_pdf_parser_spark.operators.relational import (
                band_signatures_spark_sql,
            )

            bands_bdir = os.path.join(bands_dir, f"bucket={bucket}")
            if bucket in staged_buckets:
                spark.read.parquet(bdir).createOrReplaceTempView(
                    "_band_sink_src")
                bands = spark.sql(
                    band_signatures_spark_sql("_band_sink_src"))
            else:
                bands = spark.createDataFrame(
                    [], schema="doc_id bigint, band int, band_key bigint")
            # probe layout: bkp partition dirs, ONE key-sorted file per
            # dir (repartition by the partition value), fine-grained
            # pages (512 rows) so the parquet column index can skip
            # pages on pushed point predicates, and a bloom filter on
            # band_key for layouts where sorting degrades (appended
            # increments). See BAND_PROBE_PARTS / probe_band_table.
            bands = bands.withColumn(
                "bkp", F.pmod(F.col("band_key"),
                              F.lit(BAND_PROBE_PARTS)).cast("int"))
            (bands.repartition("bkp")
             .sortWithinPartitions("bkp", "band_key")
             .write.mode("overwrite")
             .option("parquet.bloom.filter.enabled#band_key", "true")
             # pushed key-IN lists multiply bloom false-positive rates
             # (a row group survives if ANY key false-positives), so the
             # probe table wants a tighter fpp than the 1% default
             .option("parquet.bloom.filter.fpp#band_key", "0.001")
             .option("parquet.page.row.count.limit", "512")
             .partitionBy("bkp").parquet(bands_bdir))
        else:
            # a LATER run without bands over a sink that previously wrote
            # them would otherwise rewrite clean/bucket=K while leaving
            # the old bands/bucket=K — read_band_table would then serve
            # signatures for documents that no longer exist (review r8).
            # The invariant is bands-match-clean OR bands-absent: drop
            # the stale bucket band dir alongside the data rewrite.
            stale = os.path.join(bands_dir, f"bucket={bucket}")
            if _fs_exists(spark, stale):
                _fs_delete(spark, stale)
        if bucket in staged_buckets:
            # lineage metrics read back from the DURABLE copy
            written = spark.read.parquet(bdir)
            stats = written.agg(
                F.count("*").alias("docs"),
                F.sum(F.octet_length("clean_text")).alias("bytes"),
            ).collect()[0]
            docs_n, bytes_n = int(stats["docs"] or 0), int(stats["bytes"] or 0)
        else:
            docs_n = bytes_n = 0
        row = [(run_id, bucket, docs_n, bytes_n, 0,
                int((time.time() - t0) * 1000), "done")]
        spark.createDataFrame(row, schema=CHECKPOINT_SCHEMA).write.mode(
            "append"
        ).parquet(checkpoint_path)

    # all buckets durable: the gates staging has served its purpose (runs
    # even when pending=[] — see the staged-dir note in run_with_checkpoint)
    if _fs_exists(spark, gates_dir):
        _fs_delete(spark, gates_dir)

    # explicit schema: a corpus where NO doc reaches final_keep=1 writes
    # only _SUCCESS markers, and schema inference over that raises after
    # the run already durably succeeded — the empty corpus must read back
    # as an empty DataFrame with the real shape (partition columns last)
    return spark.read.schema(
        "doc_id bigint, source string, clean_hash bigint, "
        "clean_text string, split string, bucket int"
    ).parquet(clean_dir)


def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic-where-the-FS-gives-it directory rename (HDFS dir rename is
    atomic; local posix rename is; S3A is a copy — the swap protocol
    below still converges there because every state is recoverable)."""
    fs, hsrc = _hadoop_fs(spark, src)
    hdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(hdst.getParent())
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _recover_component(spark: SparkSession, live: str, tmp: str,
                       trash: str) -> None:
    """Roll an interrupted compaction of ONE component (clean or bands
    of one bucket) to a consistent state. States the swap protocol can
    crash in, and their resolutions:

    - tmp without _SUCCESS           → incomplete rewrite: drop tmp.
    - trash present, live missing    → crashed mid-swap: roll FORWARD
      (promote tmp) if the rewrite completed, else roll BACK (restore
      trash) — either way exactly one full copy survives.
    - trash present, live present    → crashed after promote: the swap
      finished; trash is the obsolete original — drop it.
    - tmp complete, live present     → crashed before the swap: drop
      tmp (recompacting later is idempotent; never promote a tmp whose
      source may since have been rewritten by a resumed sink run).
    """
    tmp_done = _fs_exists(spark, os.path.join(tmp, "_SUCCESS"))
    if _fs_exists(spark, trash):
        if not _fs_exists(spark, live):
            if tmp_done:
                _fs_rename(spark, tmp, live)      # roll forward
            else:
                _fs_rename(spark, trash, live)    # roll back
        _fs_delete(spark, trash)
    if _fs_exists(spark, tmp):
        _fs_delete(spark, tmp)


def compact_bucket(spark: SparkSession, out_dir: str, bucket: int,
                   run_id: str = "compact", target_files: int = 1,
                   fail_at: str | None = None) -> None:
    """Rewrite ONE bucket's clean (and band) files to ``target_files``
    per partition dir — the OPTIMIZE/maintenance pass any long-lived
    bucketed sink needs: every resumed/incremental write lands up to
    shuffle-partitions small part files per bucket, and after N runs a
    scan pays N x file-open cost (r8 verdict #4).

    Exactly-once story (pytest crash matrix drives ``fail_at``):
    rewrite to a tmp dir (verified: row count equal before any
    destructive step) → move the live dir aside to trash → promote tmp
    → drop trash → append ONE lineage row (status='compacted', counts
    read back from the promoted copy). A crash ANYWHERE re-converges
    via _recover_component on the next call: content is never lost
    (every state keeps >= one full copy) and never duplicated (resume
    filters status='done', so 'compacted' rows can't re-admit a
    bucket). Bands ride the same swap per bucket; a crash between the
    clean swap and the band swap is benign because compaction preserves
    ROWS exactly — stored==derived band equality holds across any
    interleaving (pinned in tests/test_checkpoint.py)."""
    clean_live = os.path.join(out_dir, "clean", f"bucket={bucket}")
    bands_live = os.path.join(out_dir, "bands", f"bucket={bucket}")
    work = os.path.join(out_dir, "compact_work", f"bucket={bucket}")
    comps = [("clean", clean_live), ("bands", bands_live)]

    for name, live in comps:
        _recover_component(spark, live, os.path.join(work, f"{name}_tmp"),
                           os.path.join(work, f"{name}_trash"))

    t0 = time.time()
    for name, live in comps:
        if not _fs_exists(spark, live):
            continue  # bandless sink or genuinely empty bucket
        tmp = os.path.join(work, f"{name}_tmp")
        trash = os.path.join(work, f"{name}_trash")
        # explicit schemas: a genuinely-empty bucket is a marker-only
        # dir (zero part files) and schema inference would raise on it
        schema = ("doc_id bigint, source string, clean_hash bigint, "
                  "clean_text string, split string") if name == "clean" \
            else "doc_id bigint, band int, band_key bigint, bkp int"
        src = spark.read.schema(schema).parquet(live)
        n_src = src.count()  # one scan: reused by the rewrite check below
        if n_src == 0:
            # a genuinely-empty bucket is a DESIGNED durable state (the
            # marker-only dir write_docs_bucketed leaves; pinned by
            # test_empty_bucket_is_known_empty_not_lost).  There is
            # nothing to compact, and swapping would both replace the
            # marker dir with a bare _SUCCESS dir and (formerly) crash:
            # the rewrite of 0 rows produces a part-less tmp whose
            # schema-INFERRED verification read raised AnalysisException
            # before the swap, persistently re-crashing every
            # compact_sink over a sink containing an empty bucket
            # (advice r9).
            continue
        if name == "clean":
            (src.repartition(target_files, "split")
             .sortWithinPartitions("split", "doc_id")
             .write.mode("overwrite").partitionBy("split").parquet(tmp))
        else:
            # preserve the probe layout contract exactly (bkp dirs,
            # key-sorted files, bloom + page options — the write recipe
            # write_docs_bucketed uses)
            (src.repartition("bkp")
             .sortWithinPartitions("bkp", "band_key")
             .write.mode("overwrite")
             .option("parquet.bloom.filter.enabled#band_key", "true")
             .option("parquet.bloom.filter.fpp#band_key", "0.001")
             .option("parquet.page.row.count.limit", "512")
             .partitionBy("bkp").parquet(tmp))
        # explicit schema on the verification read too: belt-and-braces
        # against a zero-part tmp (schema inference raises on it)
        if spark.read.schema(schema).parquet(tmp).count() != n_src:
            raise IOError(f"compaction rewrite row mismatch: {live}")
        if fail_at == f"{name}_staged":
            raise RuntimeError(f"simulated crash at {name}_staged")
        _fs_rename(spark, live, trash)
        if fail_at == f"{name}_aside":
            raise RuntimeError(f"simulated crash at {name}_aside")
        _fs_rename(spark, tmp, live)
        if fail_at == f"{name}_promoted":
            raise RuntimeError(f"simulated crash at {name}_promoted")
        _fs_delete(spark, trash)
    _fs_delete(spark, work)
    parent = os.path.dirname(work)
    fs, hparent = _hadoop_fs(spark, parent)
    if fs.exists(hparent) and len(fs.listStatus(hparent)) == 0:
        fs.delete(hparent, False)

    if fail_at == "pre_lineage":
        raise RuntimeError("simulated crash at pre_lineage")
    if _fs_exists(spark, clean_live):
        written = spark.read.schema(
            "doc_id bigint, source string, clean_hash bigint, "
            "clean_text string, split string").parquet(clean_live)
        stats = written.agg(
            F.count("*").alias("docs"),
            F.sum(F.octet_length("clean_text")).alias("bytes")).collect()[0]
        docs_n, bytes_n = int(stats["docs"] or 0), int(stats["bytes"] or 0)
    else:
        docs_n = bytes_n = 0
    row = [(run_id, bucket, docs_n, bytes_n, 0,
            int((time.time() - t0) * 1000), "compacted")]
    spark.createDataFrame(row, schema=CHECKPOINT_SCHEMA).write.mode(
        "append").parquet(os.path.join(out_dir, "checkpoint"))


def compact_sink(spark: SparkSession, out_dir: str,
                 run_id: str = "compact", target_files: int = 1) -> None:
    """Compact every bucket present in the sink (the nightly OPTIMIZE).
    Buckets are independent swaps; a crash mid-fleet leaves later
    buckets uncompacted and the crashed one recoverable — rerun to
    converge."""
    clean_root = os.path.join(out_dir, "clean")
    for b in sorted(_list_staged_buckets(spark, clean_root)):
        compact_bucket(spark, out_dir, b, run_id=run_id,
                       target_files=target_files)


def read_band_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reader over the persisted MinHash band table written by
    ``write_docs_bucketed(write_bands=True)`` — (doc_id, band, band_key)
    plus the (bkp, bucket) partition columns. Explicit schema for the
    same reason as the corpus reader: an all-empty corpus must read back
    as an empty DataFrame with the real shape, not a schema-inference
    error."""
    return spark.read.schema(
        "doc_id bigint, band int, band_key bigint, bkp int, bucket int"
    ).parquet(os.path.join(out_dir, "bands"))


def probe_band_table(spark: SparkSession, out_dir: str,
                     batch_bands: DataFrame,
                     max_pushdown_keys: int = BAND_PROBE_MAX_PUSHDOWN
                     ) -> DataFrame:
    """The stored band table PRUNED to a batch's own band keys — the
    candidate-generation input for an incremental near-dup pass (r8
    verdict #1: without this, every daily increment READ the entire
    corpus-scale band table even though its compute was already
    O(batch)).

    ``batch_bands`` is the batch's (doc_id, band, band_key) signature
    table (relational.band_signatures_spark_sql over the batch — derive
    it once, ``util.materialize`` it, pass it here AND to the verdict SQL).
    Two serve shapes, both exact:

    - batch has <= max_pushdown_keys distinct keys (every daily-increment
      and streaming-micro-batch case): collect the key list (bounded by
      construction), filter the scan on ``bkp IN (keys % PARTS)`` — a
      PartitionFilter, directories skipped — AND ``band_key IN (keys)``,
      pushed into the parquet reader where the key-sorted row groups and
      the band_key bloom filter skip pages inside surviving partitions.
      The scan reads only the probed fraction (plan-asserted in
      tests/test_plans.py).
    - larger batches: bkp partition pruning still applies (the distinct
      bkp list is bounded by BAND_PROBE_PARTS), and the key membership
      runs as a broadcast LEFT SEMI join — no driver round-trip of an
      unbounded key list; at that batch size the keys cover the hash
      space, so file-level pruning is information-theoretically out
      anyway.

    Pruning is by band_key alone, so it keeps or drops whole
    (band, band_key) groups: surviving groups keep their exact bsize for
    the mega-bucket cap and dropped groups could never have joined —
    verdicts are identical to the full-scan form by construction
    (equality-tested in tests/test_checkpoint.py)."""
    bands = read_band_table(spark, out_dir)
    keys_df = batch_bands.select("band_key").distinct()
    # bounded collect: we only ever materialize max_pushdown_keys + 1
    # rows to learn which side of the threshold we are on
    head = keys_df.limit(max_pushdown_keys + 1).collect()
    if len(head) <= max_pushdown_keys:
        keys = [int(r.band_key) for r in head]
        bkps = sorted({k % BAND_PROBE_PARTS for k in keys})
        # the default parquet In-pushdown threshold (10) would rewrite a
        # larger key list to a useless min/max range over uniform hash
        # keys; raise it so the literal key set reaches the reader where
        # the bloom/row-group stats can act on it.  The session conf is
        # the ONLY lever that works: the v1 parquet reader captures this
        # threshold from the session conf when the consuming query
        # builds its reader (a DataFrameReader option is ignored, and a
        # save/restore here would revert before the caller's lazy
        # verdict query ever executes).  Cross-query leakage (advice r9)
        # is bounded instead by __spark_entry__._prepare, which resets
        # the threshold to its default at the start of every driver
        # query invocation.
        spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
                       str(max(max_pushdown_keys, 10)))
        pruned = bands.filter(
            F.col("bkp").isin(bkps) & F.col("band_key").isin(keys))
    else:
        bkp_rows = (batch_bands.select(
            F.pmod(F.col("band_key"), F.lit(BAND_PROBE_PARTS))
            .cast("int").alias("bkp")).distinct().collect())
        pruned = bands.filter(
            F.col("bkp").isin([r.bkp for r in bkp_rows])
        ).join(F.broadcast(keys_df), "band_key", "semi")
    return pruned.select("doc_id", "band", "band_key")
