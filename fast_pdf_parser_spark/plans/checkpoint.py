"""Checkpointed, resumable bucketed sinks with per-partition lineage.

The reference has no checkpoint/resume at all (SURVEY.md §4 "what the
reference lacks") — at 10^12 documents a restartable run is mandatory. The
model (FIXTURES.md §4):

- documents are assigned to stable BUCKETS: ``pmod(xxhash64(doc_id), n)`` —
  a pure function of the data, independent of cluster size or input
  partitioning, so a resumed run on different hardware sees identical
  buckets;
- the lineage table (``out/checkpoint``) is the COMMIT LOG, after *Delta
  Lake* (VLDB 2020): data files are immutable, and a write is visible only
  once a lineage row names it. Every data write goes to a fresh, private
  ``<root>/attempt=N/bucket=K/[split=S/|bkp=J/]`` dir (root: spans, clean
  or bands), its per-bucket stats observed during the write; the driver
  then commits it with ONE lineage file ``attempt-NNNNN.parquet``, a row
  per bucket: (run_id, partition_id, docs_parsed, bytes_decoded,
  parse_failures, wall_ms, status, attempt=N). N = 1 + max(attempt) of
  the log, so a crashed attempt's number (it has no row) is reused;
- bucket K's COMMITTED attempt is the highest ``attempt`` of its
  'done'/'compacted' rows across run_ids (the latest writer wins), and
  the readers (``run_with_checkpoint``'s result, ``read_clean``,
  ``read_band_table``) read only committed (attempt, bucket) dirs. Nothing
  is deleted or renamed before a commit: a crash anywhere leaves the
  previous content readable, with no recovery step;
- GC: after its last lineage file, every committing call deletes each
  uncommitted ``attempt=N/bucket=K``, then each ``attempt=N`` left without
  buckets, so after a normal return the raw root holds exactly the
  committed data;
- both sinks commit through ONE loop, ``_commit_waves``: the input is
  staged once by bucket, and pending buckets commit in WAVES of ascending
  ids, one write job and one attempt per wave;
- compaction (``compact_sink``) rewrites every non-empty bucket into ONE
  new attempt committed by ONE lineage file: all buckets or none;
- every consumer replays the log on the driver, after *Delta Lake*:
  ``_log_state`` collects it ONCE per call into the run's 'done' buckets
  (resume = every bucket not in that set) and the committed attempts.

Lineage semantics: a bucket with no documents writes no data directory;
its ``docs_parsed = 0`` row records it as known-empty. ``wall_ms`` is the
wave's wall time split evenly across its buckets (a wave average, not that
bucket's own time). ``attempt`` is null on ``streaming.ingest``'s
per-epoch rows, whose files are named ``epoch-NNNNN.parquet``. The log
is per out_dir, so one out_dir holds one sink.

No migration: sinks written as ``<root>/bucket=K/`` by older checkouts are
not read — every sink here is a per-query scratch or test dir, and a
migration would be a second code path.

Bucket granularity keeps the checkpoint table tiny (hundreds of rows for a
100 TB run) while bounding re-work after a failure to one wave.
"""

from __future__ import annotations

import functools
import operator
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.operators.pipeline import (
    OUTPUT_DDL,
    extract_documents,
)

CHECKPOINT_SCHEMA = (
    "run_id string, partition_id int, docs_parsed long, bytes_decoded long, "
    "parse_failures long, wall_ms long, status string, attempt long"
)
# the data columns of the cleaned-corpus and band sinks (split and bkp are
# sub-partitions of a bucket dir)
CLEAN_DDL = ("doc_id bigint, source string, clean_hash bigint, "
             "clean_text string, split string")
BAND_DDL = "doc_id bigint, band int, band_key bigint, bkp int"

# Band-table probe layout (r8 verdict #1): the stored band table is laid
# out for PRUNED point probes — ``bands/attempt=N/bucket=K/bkp=J/`` where
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
    fs.delete(hpath, True)  # False, not an error, for a missing path


def _drop_dir(spark: SparkSession, path: str) -> None:
    """Delete *path*, then its parent if that left the parent empty."""
    _fs_delete(spark, path)
    fs, hparent = _hadoop_fs(spark, os.path.dirname(path))
    if fs.exists(hparent) and len(fs.listStatus(hparent)) == 0:
        fs.delete(hparent, False)


def _list_attempts(spark: SparkSession, root: str) -> dict[int, set[int]]:
    """{N: {K, ...}} for the ``attempt=N/bucket=K`` dirs under *root*,
    listed via the FileSystem API (scheme-correct on HDFS/S3); an attempt
    dir without bucket dirs maps to an empty set."""
    fs, hroot = _hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return {}

    def keyed(path, key: str) -> dict:
        return {int(name.split("=", 1)[1]): s.getPath()
                for s in fs.listStatus(path)
                if (name := s.getPath().getName()).startswith(key + "=")}

    return {n: set(keyed(path, "bucket"))
            for n, path in keyed(hroot, "attempt").items()}


def _fresh_attempt(spark: SparkSession, out_dir: str, roots: tuple[str, ...],
                   n: int) -> list[str]:
    """Attempt N's private dir under each sink root, emptied first: a
    crashed attempt wrote no lineage row, so its number is reused."""
    dirs = [os.path.join(out_dir, root, f"attempt={n}") for root in roots]
    for d in dirs:
        _fs_delete(spark, d)
    return dirs


def _gc(spark: SparkSession, out_dir: str, roots: tuple[str, ...],
        committed: dict[int, int]) -> None:
    """Delete every ``attempt=N/bucket=K`` under the sink *roots* that is
    not committed, then every attempt dir left without buckets. No
    ``<root>/_temporary`` can come from this module's writers: every job
    writes under ``<root>/attempt=N``, so its committer's ``_temporary``
    lives and dies inside that attempt dir."""
    for root in roots:
        path = os.path.join(out_dir, root)
        for n, buckets in _list_attempts(spark, path).items():
            dead = {b for b in buckets if committed.get(b) != n}
            at = os.path.join(path, f"attempt={n}")
            for sub in ([at] if dead == buckets else
                        [os.path.join(at, f"bucket={b}") for b in dead]):
                _fs_delete(spark, sub)


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Stable content-derived bucket id (independent of physical layout)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def _read_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """*path* read as *ddl*; a missing path is an empty relation the
    optimizer folds away (``limit(0)``), so collecting it runs no job."""
    if _fs_exists(spark, path):
        return spark.read.schema(ddl).parquet(path)
    return spark.createDataFrame([], ddl).limit(0)


def lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """The commit log; empty before the first commit."""
    return _read_or_empty(spark, os.path.join(out_dir, "checkpoint"),
                          CHECKPOINT_SCHEMA)


def _log_state(spark: SparkSession, checkpoint_path: str,
               run_id: str | None = None) -> tuple[set[int], dict[int, int]]:
    """The log replayed on the driver with ONE collect: (the run's 'done'
    buckets, {bucket: committed attempt}). The committed attempt is the
    highest attempt among the bucket's 'done'/'compacted' rows across
    run_ids — the latest writer wins. A missing log is the empty state,
    without a Spark job."""
    done, committed = set(), {}
    if not _fs_exists(spark, checkpoint_path):
        return done, committed
    log = spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_path)
    for r in log.collect():
        if r.status == "done" and r.run_id == run_id:
            done.add(r.partition_id)
        if r.status in ("done", "compacted") and r.attempt is not None:
            committed[r.partition_id] = max(
                r.attempt, committed.get(r.partition_id, 0))
    return done, committed


def completed_buckets(spark: SparkSession, checkpoint_path: str,
                      run_id: str) -> set[int]:
    return _log_state(spark, checkpoint_path, run_id)[0]


def _read_committed(spark: SparkSession, out_dir: str, root: str, ddl: str,
                    committed: dict[int, int]) -> DataFrame:
    """*ddl* plus ``bucket`` (and the root's sub-partition column) over the
    committed ``attempt=N/bucket=K`` dirs of sink *root* only: the pair
    filter is a PartitionFilter, so superseded and uncommitted attempts are
    never read. Explicit schema: an all-empty sink has no part files to
    infer one from, and a root never written (a bandless sink's bands/)
    reads as the same columns with no rows."""
    pairs = [f"{n}/{b}" for b, n in committed.items()]
    rel = _read_or_empty(spark, os.path.join(out_dir, root),
                         ddl + ", attempt long, bucket int")
    return (rel.filter(F.concat_ws("/", F.col("attempt").cast("string"),
                                   F.col("bucket").cast("string")).isin(pairs))
            .drop("attempt"))


def _observe_stats(df: DataFrame, buckets: list[int], key=None):
    """(*df* observed, a callable giving {bucket: (docs, bytes, failures)}
    after an action over it): one ``sum(when(key = k, ...))`` per bucket k
    and stat, zeros for a bucket without rows. A clean row is one doc; a
    span doc is its one ``offset = 0`` row (observe rejects DISTINCT)."""
    key = F.col("bucket") if key is None else key
    if "clean_text" in df.columns:
        stats = (F.lit(1), F.octet_length("clean_text"), F.lit(0))
    else:
        first = F.col("offset") == 0
        stats = tuple(F.when(first, v) for v in (
            F.lit(1), F.col("doc_bytes_decoded"), F.col("doc_parse_failures")))
    obs = Observation()
    observed = df.observe(obs, *(
        F.sum(F.when(key == b, v)).alias(f"s{i}_{b}")
        for b in buckets for i, v in enumerate(stats)))

    def get():
        got = obs.get
        return {b: tuple(int(got[f"s{i}_{b}"] or 0) for i in range(3))
                for b in buckets}
    return observed, get


def _append_lineage(spark: SparkSession, out_dir: str, run_id: str,
                    stats: dict[int, tuple[int, int, int]], t0: float,
                    attempt: int | None, status: str = "done",
                    fail_at: str | None = None) -> None:
    """The commit: ONE lineage file with a row per bucket of *stats* naming
    ``attempt`` (the wall time since ``t0`` split evenly), built on the
    driver with no Spark job. It is written hidden (log readers skip ``_``
    files, so a crash mid-write commits nothing), then renamed without
    overwrite to ``attempt-NNNNN.parquet`` (a stream epoch's:
    ``epoch-NNNNN.parquet``): a second commit of one name raises and
    deletes its hidden file."""
    buckets = sorted(stats)
    wall, extra = divmod(int((time.time() - t0) * 1000), len(buckets))
    schema = to_arrow_schema(StructType.fromDDL(CHECKPOINT_SCHEMA))
    rows = [dict(zip(schema.names, (run_id, b, *stats[b], wall + (i < extra),
                                    status, attempt)))
            for i, b in enumerate(buckets)]
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema), buf)
    name = (f"attempt-{attempt:05d}" if attempt is not None
            else f"epoch-{buckets[0]:05d}") + ".parquet"
    log = os.path.join(out_dir, "checkpoint")
    fs, hidden = _hadoop_fs(spark, os.path.join(log, f"_{name}.tmp"))
    out = fs.create(hidden, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if fail_at == "lineage_hidden":
        raise RuntimeError("simulated crash at lineage_hidden")
    hadoop = spark._jvm.org.apache.hadoop.fs
    final = hadoop.Path(os.path.join(log, name))
    if not fs.exists(final):
        # a commit lost without its .crc sidecar leaves the sidecar, which
        # fails the rename after the data moved, then every log read
        fs.delete(hadoop.Path(os.path.join(log, f".{name}.crc")), False)
    rename = spark.sparkContext._gateway.new_array(hadoop.Options.Rename, 1)
    rename[0] = hadoop.Options.Rename.NONE
    try:
        hadoop.FileContext.getFileContext(hidden.toUri(), fs.getConf()) \
            .rename(hidden, final, rename)
    except Exception:
        fs.delete(hidden, False)  # and its .crc
        raise


def _commit_waves(spark: SparkSession, docs: DataFrame, out_dir: str,
                  stage: str, run_id: str, num_buckets: int, wave: int,
                  fail_on_bucket: int | None, roots: tuple[str, ...],
                  write_wave) -> dict[int, int]:
    """The commit loop both bucketed sinks share; returns the committed
    attempts after it.

    1. Read the log once (``_log_state``): the run's pending buckets, the
       committed attempts and the next attempt number.
    2. Stage ``with_bucket(docs)`` ONCE under *stage*, partitioned by
       bucket: the bucket id is a computed column (pmod(xxhash64)), so a
       bucket filter cannot push down and every wave would otherwise
       re-run the whole upstream plan. The stage is keyed by the caller
       (run_id, num_buckets) and reused once its _SUCCESS is durable.
    3. For each wave of ``wave`` pending buckets (ascending), the staged
       copy filtered to the wave (partition pruning; an empty bucket has no
       dir) goes to ``write_wave(part, buckets, dirs)``: it writes the
       fresh ``attempt=N`` dir of each root and returns the stats it
       observed; then one lineage file commits the wave.
    4. Drop the stage (and its parent if empty) — also when nothing was
       pending: a crash between the last lineage append and this cleanup
       leaves a resume with pending=[] and an orphaned stage. Then GC the
       sink *roots*.
    """
    done, committed = _log_state(
        spark, os.path.join(out_dir, "checkpoint"), run_id)
    pending = [b for b in range(num_buckets) if b not in done]
    attempt = 1 + max(committed.values(), default=0)
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
        stats = write_wave(
            part, buckets, _fresh_attempt(spark, out_dir, roots, attempt))
        _append_lineage(spark, out_dir, run_id, stats, t0, attempt)
        committed.update(dict.fromkeys(buckets, attempt))
        attempt += 1
    _drop_dir(spark, stage)
    _gc(spark, out_dir, roots, committed)
    return committed


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
    """Extract the corpus into ``out/spans/attempt=N/bucket=K/``, committing
    ``max_concurrent_buckets`` buckets per commit job (``<= 0``: auto,
    enough to keep every core busy) with one lineage file per job; on
    re-invocation with the same run_id, already-'done' buckets are skipped
    (resume-from-partition). A crash commits exactly the waves before it.
    Returns the complete result DataFrame reader: OUTPUT_DDL plus the
    ``bucket`` partition column, kept deliberately so downstream reads
    filtering on it get partition pruning (e.g. re-processing one bucket).
    """
    if max_concurrent_buckets <= 0:
        # auto: a wave wide enough to keep every core busy
        max_concurrent_buckets = max(4, spark.sparkContext.defaultParallelism)

    def write_wave(part: DataFrame, buckets: list[int], dirs: list[str]):
        (at,) = dirs
        result = extract_documents(part, chunk_options, parse_options)
        # the bucket is a pure function of doc_id: recompute, not carry
        result, stats = _observe_stats(with_bucket(result, num_buckets),
                                       buckets)
        result.write.mode("overwrite").partitionBy("bucket").parquet(at)
        return stats()

    committed = _commit_waves(
        spark, input_df, out_dir,
        os.path.join(out_dir, "staged", f"{run_id}_b{num_buckets}"),
        run_id, num_buckets, max_concurrent_buckets, fail_on_bucket,
        ("spans",), write_wave)
    return _read_committed(spark, out_dir, "spans", OUTPUT_DDL, committed)


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


def _write_bands(bands: DataFrame, path: str, *keys: str) -> None:
    """The probe layout write recipe (see BAND_PROBE_PARTS /
    probe_band_table): partition dirs by ``keys``, ONE key-sorted file per
    dir (repartition by the partition values), fine-grained pages (512
    rows) so the parquet column index can skip pages on pushed point
    predicates, and a bloom filter on band_key for layouts where sorting
    degrades (appended increments)."""
    (bands.repartition(*keys)
     .sortWithinPartitions(*keys, "band_key")
     .write.mode("overwrite")
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
    2. WRITE: one bucket per commit job, into its own attempt N
       (``out/clean/attempt=N/bucket=K/split=S/``), then one lineage row
       naming N commits it. A crash before the row leaves the previous
       attempt committed; the rerun writes the bucket again, never
       skipping or duplicating it. An empty bucket writes no dir; its
       ``docs_parsed = 0`` row records it.

    ``write_bands=True`` additionally persists the MinHash band-signature
    table (doc_id, band, band_key — relational.band_signatures_spark_sql,
    the ONE band definition every dedup consumer shares) under
    ``out/bands/attempt=N/bucket=K/bkp=J/``, derived from the DURABLE
    clean copy of the same attempt N. This is the batch twin of the
    streaming band claim store (streaming/ingest.py): incremental near-dup
    (relational.near_verdict_prebanded_sql over ``probe_band_table``)
    generates candidates by scanning ONLY the stored band columns — never
    re-minhashing the corpus (r7 verdict #1). Clean and bands commit with
    the same lineage row, so they can never disagree, not even in a crash
    window; a bandless run commits no bands: bands-match-clean OR
    bands-absent.

    Returns the committed corpus reader (``read_clean``: bucket and split
    are partition columns, so downstream filters get pruning for free).
    Read the band table back with ``read_band_table``.
    """

    def write_wave(part: DataFrame, buckets: list[int], dirs: list[str]):
        clean_at, bands_at = dirs
        part, stats = _observe_stats(part, buckets)
        part.write.mode("overwrite").partitionBy("bucket", "split") \
            .parquet(clean_at)
        if write_bands:
            from fast_pdf_parser_spark.operators.relational import (
                band_signatures_spark_sql,
            )

            spark.read.schema(CLEAN_DDL + ", bucket int").parquet(clean_at) \
                .createOrReplaceTempView("_band_sink_src")
            bands = with_bucket(
                spark.sql(band_signatures_spark_sql("_band_sink_src")),
                num_buckets)
            _write_bands(bands.withColumn("bkp", F.pmod(
                F.col("band_key"), F.lit(BAND_PROBE_PARTS)).cast("int")),
                bands_at, "bucket", "bkp")
        return stats()

    committed = _commit_waves(
        spark, docs, out_dir,
        os.path.join(out_dir, "gates", f"{run_id}_b{num_buckets}"),
        run_id, num_buckets, 1, fail_on_bucket, ("clean", "bands"),
        write_wave)
    return _read_committed(spark, out_dir, "clean", CLEAN_DDL, committed)


def read_clean(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reader over the committed cleaned corpus of ``write_docs_bucketed``:
    CLEAN_DDL's columns plus the ``bucket`` partition column."""
    return _read_committed(spark, out_dir, "clean", CLEAN_DDL, _log_state(
        spark, os.path.join(out_dir, "checkpoint"))[1])


def compact_sink(spark: SparkSession, out_dir: str,
                 run_id: str = "compact", fail_at: str | None = None) -> None:
    """Compact the whole clean sink (and its band table) into ONE new
    attempt M — the nightly OPTIMIZE any long-lived bucketed sink needs:
    every resumed/incremental write lands up to shuffle-partitions small
    part files per bucket, and after N runs a scan pays N x file-open cost
    (r8 verdict #4). After *Delta Lake*, one log entry names every
    rewritten file.

    The committed clean rows go to ``clean/attempt=M/`` with ONE file per
    (bucket, split) dir, the committed band rows (if any) to
    ``bands/attempt=M/`` in ``_write_bands``' probe layout; both row counts
    are checked against the source, then ONE lineage file (status=
    'compacted', which resume never reads as 'done') commits M for every
    bucket that now has data, and GC drops the superseded attempts.
    All-or-nothing: a crash at any step before that file is in place
    (``fail_at``: clean_staged, bands_staged, pre_lineage, and
    lineage_hidden between its hidden write and its rename) leaves every
    bucket's old attempt committed and readable, with no recovery step;
    rerunning converges. An empty bucket has no rows to rewrite, so it gets
    no 'compacted' row and keeps its ``docs_parsed = 0`` commit; a sink
    without rows commits nothing and keeps no attempt dir."""
    committed = _log_state(spark, os.path.join(out_dir, "checkpoint"))[1]
    attempt = 1 + max(committed.values(), default=0)
    t0 = time.time()
    clean_at, bands_at = _fresh_attempt(spark, out_dir, ("clean", "bands"),
                                        attempt)
    src = _read_committed(spark, out_dir, "clean", CLEAN_DDL, committed)
    rows = src.count()
    if not rows:
        return
    written = {clean_at: (CLEAN_DDL, rows)}
    src, stats = _observe_stats(src, sorted(committed))
    (src.repartition("bucket", "split")
     .sortWithinPartitions("bucket", "split", "doc_id")
     .write.mode("overwrite").partitionBy("bucket", "split")
     .parquet(clean_at))
    if fail_at == "clean_staged":
        raise RuntimeError("simulated crash at clean_staged")
    bands = _read_committed(spark, out_dir, "bands", BAND_DDL, committed)
    if n_bands := bands.count():
        written[bands_at] = (BAND_DDL, n_bands)
        _write_bands(bands, bands_at, "bucket", "bkp")
    if fail_at == "bands_staged":
        raise RuntimeError("simulated crash at bands_staged")
    for path, (ddl, n) in written.items():
        if spark.read.schema(ddl + ", bucket int").parquet(path).count() != n:
            raise IOError(f"compaction rewrite row mismatch: {path}")
    if fail_at == "pre_lineage":
        raise RuntimeError("simulated crash at pre_lineage")
    # the buckets with docs are exactly the dirs attempt M wrote
    stats = {b: s for b, s in stats().items() if s[0]}
    _append_lineage(spark, out_dir, run_id, stats, t0, attempt,
                    status="compacted", fail_at=fail_at)
    committed.update(dict.fromkeys(stats, attempt))
    _gc(spark, out_dir, ("clean", "bands"), committed)


def read_band_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reader over the committed MinHash band table written by
    ``write_docs_bucketed(write_bands=True)`` — (doc_id, band, band_key)
    plus the (bucket, bkp) partition columns, read from the committed
    ``attempt=N/bucket=K`` dirs only (``probe_band_table``'s bkp pruning
    stacks on that filter). An all-empty corpus, or a sink written
    without bands, reads back as an empty DataFrame with the same columns,
    not a read error."""
    return _read_committed(spark, out_dir, "bands", BAND_DDL, _log_state(
        spark, os.path.join(out_dir, "checkpoint"))[1])


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
      PartitionFilter, directories skipped — AND an OR of
      ``band_key IN (chunk)`` over chunks of at most the session's
      ``spark.sql.parquet.pushdown.inFilterThreshold`` keys (read, never
      written: a longer IN list would reach the reader as a useless
      min/max range over uniform hash keys). The literal keys reach the
      parquet reader, where the key-sorted row groups and the band_key
      bloom filter skip pages inside surviving partitions. The scan reads
      only the probed fraction (plan-asserted in tests/test_plans.py).
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
        n = max(1, int(spark.conf.get(
            "spark.sql.parquet.pushdown.inFilterThreshold")))
        member = functools.reduce(operator.or_, (
            F.col("band_key").isin(keys[i:i + n])
            for i in range(0, len(keys), n)), F.lit(False))
        pruned = bands.filter(F.col("bkp").isin(bkps) & member)
    else:
        bkp_rows = (batch_bands.select(
            F.pmod(F.col("band_key"), F.lit(BAND_PROBE_PARTS))
            .cast("int").alias("bkp")).distinct().collect())
        pruned = bands.filter(
            F.col("bkp").isin([r.bkp for r in bkp_rows])
        ).join(F.broadcast(keys_df), "band_key", "semi")
    return pruned.select("doc_id", "band", "band_key")
