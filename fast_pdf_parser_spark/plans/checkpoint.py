"""Checkpointed, resumable bucketed sinks with per-partition lineage.

The reference has no checkpoint/resume at all (SURVEY.md §4 "what the
reference lacks") — at 10^12 documents a restartable run is mandatory. The
model (FIXTURES.md §4):

- documents are assigned to stable BUCKETS: ``pmod(xxhash64(doc_id), n)`` —
  a pure function of the data, independent of cluster size or input
  partitioning, so a resumed run on different hardware sees identical
  buckets;
- both sinks (``run_with_checkpoint``'s extraction output and
  ``write_docs_bucketed``'s cleaned corpus) commit through ONE loop,
  ``_commit_waves``: the input is staged once partitioned by bucket, and
  the pending buckets are committed in WAVES of ascending bucket ids. A
  wave is one job that clears the wave's bucket dirs and appends its
  output ``partitionBy("bucket")`` under the sink root, followed by ONE
  lineage file holding a row per bucket: (run_id, partition_id,
  docs_parsed, bytes_decoded, parse_failures, wall_ms, status='done').
  Lineage is written AFTER the wave's data — a crash between the two
  re-runs the wave over cleared dirs, never skips or duplicates it;
- resume = anti-join of the bucket list against the checkpoint table's
  'done' rows for the run_id — the single (broadcast) join in the system
  (SURVEY.md §2 note).

Lineage semantics: a bucket with no documents writes no data directory;
its ``docs_parsed = 0`` lineage row is what records it as known-empty.
``wall_ms`` is the wave's wall time split evenly across its buckets, so a
run's lineage still sums to its committed wall time, but one row's value
is a wave average, not that bucket's own time.

Bucket granularity, not file granularity, keeps the checkpoint table tiny
(hundreds of rows for a 100 TB run with a few hundred buckets) while
bounding re-work after a failure to one wave.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.operators.pipeline import (
    OUTPUT_DDL,
    extract_documents,
)

CHECKPOINT_SCHEMA = (
    "run_id string, partition_id int, docs_parsed long, bytes_decoded long, "
    "parse_failures long, wall_ms long, status string"
)
# one bucket dir of the cleaned-corpus sink (the bucket is its partition
# dir, split its sub-partition)
CLEAN_DDL = ("doc_id bigint, source string, clean_hash bigint, "
             "clean_text string, split string")

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


def _drop_dir(spark: SparkSession, path: str) -> None:
    """Delete *path*, then its parent if that left the parent empty."""
    _fs_delete(spark, path)
    fs, hparent = _hadoop_fs(spark, os.path.dirname(path))
    if fs.exists(hparent) and len(fs.listStatus(hparent)) == 0:
        fs.delete(hparent, False)


def _list_buckets(spark: SparkSession, root: str) -> set[int]:
    """Bucket ids that have a ``bucket=K`` directory under *root*, listed
    ONCE via the FileSystem API (scheme-correct on HDFS/S3)."""
    fs, hpath = _hadoop_fs(spark, root)
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


def _clear_buckets(spark: SparkSession, root: str, buckets: list[int]) -> None:
    """A wave's clean slate under a sink root: its bucket dirs (a crashed
    earlier attempt may have left data without lineage) and ``_temporary``
    (task output an aborted job committed would otherwise be merged into
    the next append's job commit)."""
    for name in ["_temporary", *(f"bucket={b}" for b in buckets)]:
        _fs_delete(spark, os.path.join(root, name))


def _append_lineage(spark: SparkSession, out_dir: str, run_id: str,
                    buckets: list[int], durable: DataFrame, stats: list,
                    t0: float, status: str = "done") -> None:
    """The one writer of sink lineage rows: ONE grouped aggregate of
    ``stats`` (docs, bytes, failures) over the durable copy, filtered to
    ``buckets``, then ONE lineage file with a row per bucket. Buckets
    without rows get zeros; the wall time since ``t0`` is split evenly."""
    got = {r[0]: r[1:] for r in durable.filter(F.col("bucket").isin(buckets))
           .groupBy("bucket").agg(*stats).collect()}
    wall, extra = divmod(int((time.time() - t0) * 1000), len(buckets))
    rows = [(run_id, b, *(int(v or 0) for v in got.get(b, (0, 0, 0))),
             wall + (i < extra), status) for i, b in enumerate(buckets)]
    spark.createDataFrame(rows, schema=CHECKPOINT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(os.path.join(out_dir, "checkpoint"))


def _commit_waves(spark: SparkSession, docs: DataFrame, out_dir: str,
                  stage: str, run_id: str, num_buckets: int, wave: int,
                  fail_on_bucket: int | None, write_wave) -> None:
    """The commit loop both bucketed sinks share.

    1. Resume: pending = all buckets minus the run's 'done' rows.
    2. Stage ``with_bucket(docs)`` ONCE under *stage*, partitioned by
       bucket: the bucket id is a computed column (pmod(xxhash64)), so a
       bucket filter cannot push down and every wave would otherwise
       re-run the whole upstream plan. The stage is keyed by the caller
       (run_id, num_buckets) and reused on resume once its _SUCCESS
       marker is durable.
    3. For each wave of ``wave`` pending buckets (ascending): its input is
       the staged copy filtered to the wave — partition pruning skips the
       other buckets, and an empty bucket has no dir and yields no rows.
       ``write_wave(part, buckets)`` writes the durable output and returns
       (durable reader with a ``bucket`` column, lineage stats columns);
       then one lineage file records the wave.
    4. Drop the stage (and its parent if empty), which would otherwise
       double input-sized storage per run — also when nothing was
       pending, since a crash between the last lineage append and this
       cleanup leaves a resume with pending=[] and an orphaned stage.
    """
    pending = _pending_buckets(spark, os.path.join(out_dir, "checkpoint"),
                               run_id, num_buckets)
    bucketed = with_bucket(docs, num_buckets)
    if pending and not _fs_exists(spark, os.path.join(stage, "_SUCCESS")):
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(stage)
    for i in range(0, len(pending), wave):
        buckets = pending[i:i + wave]
        if fail_on_bucket in buckets:
            raise RuntimeError(f"simulated failure at bucket {fail_on_bucket}")
        t0 = time.time()
        part = spark.read.schema(bucketed.schema).parquet(stage) \
            .filter(F.col("bucket").isin(buckets))
        durable, stats = write_wave(part, buckets)
        _append_lineage(spark, out_dir, run_id, buckets, durable, stats, t0)
    _drop_dir(spark, stage)


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
) -> DataFrame:
    """Extract the corpus into ``out/spans/bucket=K/``, committing
    ``max_concurrent_buckets`` buckets per commit job (``<= 0``: auto,
    enough to keep every core busy) with one lineage file per job; on
    re-invocation with the same run_id, already-'done' buckets are skipped
    (resume-from-partition). A crash commits exactly the waves before it.
    Returns the complete result DataFrame reader: OUTPUT_DDL plus the
    ``bucket`` partition column, kept deliberately so downstream reads
    filtering on it get partition pruning (e.g. re-processing one bucket).
    """
    spans_dir = os.path.join(out_dir, "spans")
    if max_concurrent_buckets <= 0:
        # auto: a wave wide enough to keep every core busy
        max_concurrent_buckets = max(4, spark.sparkContext.defaultParallelism)

    def spans() -> DataFrame:
        # explicit schema: a zero-document corpus writes no part files
        return spark.read.schema(OUTPUT_DDL + ", bucket int").parquet(
            spans_dir)

    def write_wave(part: DataFrame, buckets: list[int]):
        _clear_buckets(spark, spans_dir, buckets)
        result = extract_documents(part, chunk_options, parse_options)
        # the bucket is a pure function of doc_id: recompute, not carry
        with_bucket(result, num_buckets).write.mode("append") \
            .partitionBy("bucket").parquet(spans_dir)
        first = F.col("offset") == 0
        return spans(), [
            F.countDistinct("doc_id"),
            F.sum(F.when(first, F.col("doc_bytes_decoded"))),
            F.sum(F.when(first, F.col("doc_parse_failures")))]

    _commit_waves(spark, input_df, out_dir,
                  os.path.join(out_dir, "staged", f"{run_id}_b{num_buckets}"),
                  run_id, num_buckets, max_concurrent_buckets,
                  fail_on_bucket, write_wave)
    return spans()


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


def _clean_stats() -> list:
    return [F.count("*"), F.sum(F.octet_length("clean_text")), F.lit(0)]


def _write_bands(bands: DataFrame, path: str, mode: str, *keys: str) -> None:
    """The probe layout write recipe (see BAND_PROBE_PARTS /
    probe_band_table): partition dirs by ``keys``, ONE key-sorted file per
    dir (repartition by the partition values), fine-grained pages (512
    rows) so the parquet column index can skip pages on pushed point
    predicates, and a bloom filter on band_key for layouts where sorting
    degrades (appended increments)."""
    (bands.repartition(*keys)
     .sortWithinPartitions(*keys, "band_key")
     .write.mode(mode)
     .option("parquet.bloom.filter.enabled#band_key", "true")
     # pushed key-IN lists multiply bloom false-positive rates (a row
     # group survives if ANY key false-positives), so the probe table
     # wants a tighter fpp than the 1% default
     .option("parquet.bloom.filter.fpp#band_key", "0.001")
     .option("parquet.page.row.count.limit", "512")
     .partitionBy(*keys).parquet(path))


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
    backfill) land through the same durable machinery, ``_commit_waves``:

    1. GATES: ``docs`` (which may embody corpus-global windows that cannot
       run per-bucket) is computed ONCE and staged under ``out/gates``
       partitioned by bucket (keyed by run_id; reused on resume when its
       _SUCCESS marker is durable).
    2. WRITE: one bucket per commit job: it clears ``clean/bucket=K`` and
       ``bands/bucket=K``, appends ``out/clean/bucket=K/split=S/``, then
       one lineage row. Resume anti-joins the bucket list against 'done'
       rows — a crash between data and lineage re-writes the bucket over
       a cleared dir, never skips or duplicates it. An empty bucket
       writes no dir; its ``docs_parsed = 0`` row records it.

    ``write_bands=True`` additionally persists the MinHash band-signature
    table (doc_id, band, band_key — relational.band_signatures_spark_sql,
    the ONE band definition every dedup consumer shares) under
    ``out/bands/bucket=K/bkp=J/``, derived from the DURABLE clean copy
    just written. This is the batch twin of the streaming band claim
    store (streaming/ingest.py): a daily increment then costs O(batch)
    band compute at write time, and incremental near-dup
    (relational.near_incremental_stored_spark_sql) generates candidates
    by scanning ONLY the stored band columns — never re-minhashing the
    corpus (r7 verdict #1, the one operation that didn't survive 100 TB).
    Bands are written after the bucket's clean data and before its
    lineage row, so any crash in between re-processes the whole bucket —
    the band table can never durably disagree with the clean table. A
    bandless run clears the bucket's old bands too: the invariant is
    bands-match-clean OR bands-absent, never signatures for documents
    that no longer exist.

    Returns the reader over the written corpus (bucket and split appear
    as partition columns — downstream filters get pruning for free).
    Read the band table back with ``read_band_table``.
    """
    clean_dir = os.path.join(out_dir, "clean")
    bands_dir = os.path.join(out_dir, "bands")

    def clean() -> DataFrame:
        # explicit schema: a corpus where NO doc reaches final_keep=1
        # writes no part files, and schema inference over that raises
        # after the run already durably succeeded
        return spark.read.schema(CLEAN_DDL + ", bucket int").parquet(
            clean_dir)

    def write_wave(part: DataFrame, buckets: list[int]):
        _clear_buckets(spark, clean_dir, buckets)
        _clear_buckets(spark, bands_dir, buckets)
        part.write.mode("append").partitionBy("bucket", "split") \
            .parquet(clean_dir)
        if write_bands:
            from fast_pdf_parser_spark.operators.relational import (
                band_signatures_spark_sql,
            )

            clean().filter(F.col("bucket").isin(buckets)) \
                .createOrReplaceTempView("_band_sink_src")
            bands = with_bucket(
                spark.sql(band_signatures_spark_sql("_band_sink_src")),
                num_buckets)
            _write_bands(bands.withColumn("bkp", F.pmod(
                F.col("band_key"), F.lit(BAND_PROBE_PARTS)).cast("int")),
                bands_dir, "append", "bucket", "bkp")
        return clean(), _clean_stats()

    _commit_waves(spark, docs, out_dir,
                  os.path.join(out_dir, "gates", f"{run_id}_b{num_buckets}"),
                  run_id, num_buckets, 1, fail_on_bucket, write_wave)
    return clean()


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
        schema = CLEAN_DDL if name == "clean" \
            else "doc_id bigint, band int, band_key bigint, bkp int"
        src = spark.read.schema(schema).parquet(live)
        n_src = src.count()  # one scan: reused by the rewrite check below
        if n_src == 0:
            # a marker-only bucket dir (the shape sinks before the wave
            # commit left for an empty bucket) has nothing to compact.
            # Swapping it used to crash: the rewrite of 0 rows produced a
            # part-less tmp whose schema-INFERRED verification read raised
            # AnalysisException before the swap, persistently re-crashing
            # every compact_sink over such a sink (advice r9).
            continue
        if name == "clean":
            (src.repartition(target_files, "split")
             .sortWithinPartitions("split", "doc_id")
             .write.mode("overwrite").partitionBy("split").parquet(tmp))
        else:
            # preserve the probe layout contract exactly
            _write_bands(src, tmp, "overwrite", "bkp")
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
    _drop_dir(spark, work)

    if fail_at == "pre_lineage":
        raise RuntimeError("simulated crash at pre_lineage")
    _append_lineage(
        spark, out_dir, run_id, [bucket],
        spark.read.schema(CLEAN_DDL + ", bucket int").parquet(
            os.path.join(out_dir, "clean")),
        _clean_stats(), t0, status="compacted")


def compact_sink(spark: SparkSession, out_dir: str,
                 run_id: str = "compact", target_files: int = 1) -> None:
    """Compact every bucket present in the sink (the nightly OPTIMIZE).
    Buckets are independent swaps; a crash mid-fleet leaves later
    buckets uncompacted and the crashed one recoverable — rerun to
    converge."""
    clean_root = os.path.join(out_dir, "clean")
    for b in sorted(_list_buckets(spark, clean_root)):
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
    (equality-tested in tests/test_checkpoint.py).

    Session conf: the pushdown shape sets
    ``spark.sql.parquet.pushdown.inFilterThreshold`` to
    ``max(max_pushdown_keys, 10)`` on the caller's session and leaves it
    set; ``__spark_entry__._prepare`` resets it at each driver query."""
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
