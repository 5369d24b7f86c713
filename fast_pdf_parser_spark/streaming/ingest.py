"""Structured-Streaming ingest of arriving span documents.

The reference's ``parse_streaming`` (src/fast_pdf_parser.cpp:56-116) is a
synchronous pull-based callback loop — its batch analogue is the checkpoint
pipeline (plans/checkpoint.py). This module covers the genuinely streaming
case our engine adds beyond the reference: documents LANDING continuously
(e.g. a crawler dropping parquet files), extracted incrementally with
exactly-once sink semantics via ``foreachBatch`` + Spark's own streaming
checkpoint.

Stateless per-document extraction needs no watermark or state store — each
micro-batch runs the same zero-shuffle mapInArrow pipeline. (Watermarked
windowed aggregation is demonstrated on the metrics stream.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.operators.pipeline import extract_documents
from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
from fast_pdf_parser_spark.sources.synth import SPANS_DDL


def _watch(spark: SparkSession, path: str, max_files_per_trigger: int,
           schema=None) -> DataFrame:
    """A file-watcher stream over the parquet files under *path*. Pass
    *schema* when the dir may start EMPTY (a watcher's normal first
    state); omitted, it is inferred from the files already present."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(path))


def _to_memory(df: DataFrame, name: str) -> tuple[StreamingQuery, str]:
    """(query, name): *df* appended to the in-memory sink *name* over
    every file available at start."""
    return (df.writeStream.outputMode("append").format("memory")
            .queryName(name).trigger(availableNow=True).start(), name)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    chunk_options: ChunkOptions = ChunkOptions(),
    parse_options: ParseOptions = ParseOptions(),
    max_files_per_trigger: int = 8,
    fail_at_epoch: int | None = None,  # test hook: crash mid-stream
) -> StreamingQuery:
    """Watch ``input_dir`` for span-document parquet files; extract each
    micro-batch and append results exactly-once to ``output_dir/spans``.

    Exactly-once across RESTARTS, not just within a run: Spark's streaming
    checkpoint (``checkpointLocation``) records committed batch ids, and
    the sink write is idempotent per epoch (mode("overwrite") into the
    epoch's own directory) — a batch replayed after a crash overwrites its
    own partial output instead of duplicating it, and committed batches
    are never re-offered. Pinned by
    tests/test_streaming.py::test_restart_mid_stream_is_exactly_once,
    which kills the query mid-stream and resumes on the same checkpoint.
    """
    spans_out = os.path.join(output_dir, "spans")
    ckpt = os.path.join(output_dir, "_stream_checkpoint")

    stream = _watch(spark, input_dir, max_files_per_trigger, SPANS_DDL)

    def process_batch(batch_df, epoch_id: int) -> None:
        result = extract_documents(batch_df, chunk_options, parse_options)
        # idempotent per-epoch append: overwrite the epoch's own directory
        result.write.mode("overwrite").parquet(
            os.path.join(spans_out, f"epoch={epoch_id}")
        )
        if fail_at_epoch is not None and epoch_id >= fail_at_epoch:
            # crash AFTER the data write but BEFORE Spark commits the
            # batch — the worst-case window: the restarted query must
            # replay this epoch over its own partial output
            raise RuntimeError(f"simulated crash at epoch {epoch_id}")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def fold_user_sessions(user_id, ts_chunks, state, gap_seconds):
    """The per-key session fold of stream_sessionize_events.

    ``ts_chunks``: iterable of pandas-timestamp sequences (one per chunk of
    the micro-batch). Timestamps are sorted across ALL chunks before
    folding — a key's rows may arrive split over several chunks (multiple
    files per trigger, Arrow batch boundaries) in arbitrary order, and a
    per-chunk sort would fold out-of-order events into wrong sessions.
    ``state``: (last_epoch, session_id, n_events) or None.
    Returns (closed_sessions, new_state).
    """
    if state is not None:
        last_epoch, session_id, n_events = state
    else:
        last_epoch, session_id, n_events = None, 0, 0
    all_ts = []
    for chunk in ts_chunks:
        all_ts.extend(chunk)
    all_ts.sort()
    closed: list[tuple] = []
    for ts in all_ts:
        epoch = ts.timestamp()
        if last_epoch is not None and epoch - last_epoch > gap_seconds:
            closed.append((user_id, session_id, n_events))
            session_id += 1
            n_events = 0
        n_events += 1
        last_epoch = epoch
    return closed, (last_epoch, session_id, n_events)


def stream_sessionize_events(
    spark: SparkSession,
    events_path: str,
    gap_seconds: int = 1800,
    max_files_per_trigger: int = 4,
):
    """Custom stateful streaming operator: incremental sessionization of an
    event stream with ``applyInPandasWithState``.

    The batch twin is the events_sessionize oracle query (lead + cumulative
    sum); here the per-user state (last event ts, session counter, events in
    current session) survives across micro-batches — the pattern for any
    stateful per-key operator Spark lacks natively. Returns (query, sink
    table name): read results from the in-memory sink after
    ``processAllAvailable``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _watch(spark, events_path, max_files_per_trigger)

    output_ddl = "user_id bigint, session_id int, n_events bigint"
    state_ddl = "last_epoch double, session_id int, n_events bigint"

    def fold(key, batches, state: GroupState):
        (user_id,) = key
        closed, new_state = fold_user_sessions(
            user_id, (pdf["ts"].tolist() for pdf in batches),
            state.get if state.exists else None, gap_seconds)
        state.update(new_state)
        # emit closed sessions; the open session stays in state
        yield pd.DataFrame(closed,
                           columns=["user_id", "session_id", "n_events"])

    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fold, output_ddl, state_ddl, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return _to_memory(out, "stream_sessions")


def stream_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    window_minutes: int = 60,
    watermark_minutes: int = 10,
    max_files_per_trigger: int = 4,
):
    """Watermarked windowed aggregation over the event stream — the
    late-data-tolerant counterpart of a batch group-by: events later than
    the watermark are dropped, finalized windows are emitted in append mode.
    Returns (query, sink name)."""
    stream = _watch(spark, events_dir, max_files_per_trigger)
    agg = (
        # event-time watermarks require TIMESTAMP (not NTZ); session TZ is
        # pinned to UTC so the cast is value-preserving
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{watermark_minutes} minutes")
        .groupBy(F.window("ts", f"{window_minutes} minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type",
                "n", F.round("total_value", 4).alias("total_value"))
    )
    return _to_memory(agg, "stream_windowed_counts")


def stream_dedup_docs(
    spark: SparkSession,
    docs_dir: str,
    watermark_minutes: int = 60,
    max_files_per_trigger: int = 1,
    schema=None,
):
    """Streaming exact dedup — the online counterpart of the batch
    ``dedup_exact`` operator (relational.py): the FIRST document seen per
    60-bit content hash is emitted, any duplicate arriving in a later
    micro-batch is dropped by the state store. The event-time watermark
    bounds state (dropDuplicatesWithinWatermark): at 100 TB/day a stream
    cannot keep every hash forever, so the dedup guarantee is scoped to
    the watermark horizon — exactly the published behavior of production
    online dedup (state TTL), not a local-mode shortcut.

    Input schema needs (doc_id, text, ts). Returns (query, sink_name);
    results land in an in-memory sink for test interrogation.

    ``schema`` should be passed explicitly (DDL string or StructType) when
    the watched directory may start EMPTY — the normal initial state of a
    file-watcher stream; batch inference over an empty dir throws. When
    omitted, the schema is inferred from files already present.
    """
    stream = _watch(spark, docs_dir, max_files_per_trigger, schema)
    hashed = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "content_hash",
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long"),
        )
        .withWatermark("ts", f"{watermark_minutes} minutes")
    )
    deduped = hashed.dropDuplicatesWithinWatermark(["content_hash"])
    return _to_memory(deduped.select("doc_id", "content_hash", "ts"),
                      "stream_dedup_docs")


def _clean_capped_stream(
    spark: SparkSession,
    docs_dir: str,
    domain_cap: int,
    watermark_minutes: int,
    max_files_per_trigger: int,
    schema,
    carry_text: bool,
):
    """Shared gate chain of the two streaming cleaners (memory-sink probe
    and durable sink): exact dedup → PII scrub → quality gate → doc-stable
    98/1/1 split → per-source first-K cap. With ``carry_text`` the capped
    rows keep the scrubbed text and its 60-bit hash, matching the batch
    sink's (doc_id, source, split, clean_hash, clean_text) contract
    (plans/checkpoint.write_docs_bucketed)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from fast_pdf_parser_spark.operators.relational import (
        _PII_EMAIL_SPARK,
        _PII_IP_SPARK,
        _PII_SCRUB,
    )

    # the ONE 60-bit content-hash definition (relational._HASH60_SPARK):
    # the batch capstone, the batch sink and both streaming hashes must
    # stay in sync or the claimed batch/stream contract parity breaks
    hash60 = F.expr(_HASH60_SPARK.format(x="text"))  # already BIGINT

    stream = _watch(spark, docs_dir, max_files_per_trigger, schema)
    hashed = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("content_hash", hash60)
        .withWatermark("ts", f"{watermark_minutes} minutes")
    )
    deduped = hashed.dropDuplicatesWithinWatermark(["content_hash"])
    scrub = _PII_SCRUB.format(email=_PII_EMAIL_SPARK, ip=_PII_IP_SPARK, g="")
    cols = ["doc_id", "source", "split", "ts"]
    out_cols = ["doc_id", "source", "split"]
    out_ddl = "doc_id bigint, source string, split string"
    if carry_text:
        cols += ["text", "clean_hash"]
        out_cols += ["clean_hash", "clean_text"]
        out_ddl += ", clean_hash bigint, clean_text string"
    gated = (
        deduped.withColumn("text", F.expr(scrub))
        .withColumn("nwords", F.size(F.split("text", " ")))
        .withColumn("ndistinct",
                    F.size(F.array_distinct(F.split("text", " "))))
        .filter("nwords >= 50 AND ndistinct * CAST(1.0 AS DOUBLE) / nwords "
                "> CAST(0.1 AS DOUBLE)")
        .withColumn("clean_hash", hash60)
        .withColumn(
            "split_coin",
            F.expr("CAST(conv(substr(md5(concat('p:', "
                   "CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn(
            "split",
            F.expr("CASE WHEN split_coin % 100 < 98 THEN 'train' "
                   "WHEN split_coin % 100 < 99 THEN 'val' "
                   "ELSE 'test' END"))
        .select(*cols)
    )

    def cap_fold(key, pdfs, state):
        (source,) = key
        taken = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "doc_id"])  # deterministic replay
        out = []
        for _, r in rows.iterrows():
            if taken < domain_cap:
                taken += 1
                rec = (int(r["doc_id"]), source, r["split"])
                if carry_text:
                    rec += (int(r["clean_hash"]), r["text"])
                out.append(rec)
        state.update((taken,))
        yield pd.DataFrame(out, columns=out_cols)

    return gated.groupBy("source").applyInPandasWithState(
        cap_fold, out_ddl, "taken int", "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_clean_docs(
    spark: SparkSession,
    docs_dir: str,
    domain_cap: int = 20,
    watermark_minutes: int = 60,
    max_files_per_trigger: int = 1,
    schema=None,
):
    """Streaming cleaning pipeline — the online twin of the batch capstone
    (relational.pipeline_clean_corpus), stage for stage:

    - exact dedup: ``dropDuplicatesWithinWatermark`` on the 60-bit content
      hash (first arrival survives; state bounded by the watermark);
    - PII scrub + quality gate: stateless projections, the SAME
      expressions as the batch capstone (scrub before gating);
    - per-source cap: the batch capstone ranks the WHOLE corpus per
      source — a stream cannot rank the future, so the streaming-native
      semantic is first-``domain_cap`` KEPT arrivals per source, held as
      one counter per source in ``applyInPandasWithState`` (16 bytes/
      source of state, hash-partitioned by source);
    - split: the same doc-stable hash coin (98/1/1).

    Two stateful operators chained in one append-mode query (dedup →
    per-key counter) — supported since Spark 3.5's multi-stateful-operator
    work. Returns (query, sink_name); results land in a memory sink.
    """
    capped = _clean_capped_stream(
        spark, docs_dir, domain_cap, watermark_minutes,
        max_files_per_trigger, schema, carry_text=False)
    return _to_memory(capped, "stream_clean_docs")


def stream_clean_write(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    domain_cap: int = 20,
    watermark_minutes: int = 60,
    max_files_per_trigger: int = 1,
    schema=None,
    fail_at_epoch: int | None = None,  # test hook: crash mid-stream
) -> StreamingQuery:
    """Durable twin of stream_clean_docs — the online path into the
    clean-corpus sink, closing the loop from "cleaning stream in a memory
    sink" to "cleaning stream that lands a resumable training corpus":

    - each micro-batch's kept rows write to ``out/clean/epoch=<id>/
      split=S/`` with mode=overwrite into the epoch's own directory —
      idempotent under Spark's replay of a failed epoch (a restarted query
      re-offers the batch with the SAME epoch id);
    - one lineage row (plans/checkpoint._append_lineage, partition_id =
      epoch id, attempt null, doc/byte totals observed during the data
      write) is committed by the driver as ``out/checkpoint/
      epoch-NNNNN.parquet`` AFTER the data write and only if that epoch
      has no 'done' row yet — the same data-then-lineage ordering and
      idempotence story as the batch sink (write_docs_bucketed): a crash
      between the two replays the epoch over its own partial output,
      never skips or duplicates it;
    - Spark's own ``checkpointLocation`` (``out/_stream_checkpoint``)
      carries source offsets + dedup/cap state across restarts.

    Returns the StreamingQuery. Read the corpus back with
    ``spark.read.parquet(out/clean)`` (epoch and split appear as partition
    columns) and the lineage with ``plans.checkpoint.lineage``.
    """
    import time as _time

    from fast_pdf_parser_spark.plans.checkpoint import (
        _append_lineage,
        _observe_stats,
        completed_buckets,
    )

    clean_dir = os.path.join(out_dir, "clean")
    capped = _clean_capped_stream(
        spark, docs_dir, domain_cap, watermark_minutes,
        max_files_per_trigger, schema, carry_text=True)

    def sink(batch_df, epoch_id: int) -> None:
        t0 = _time.time()
        edir = os.path.join(clean_dir, f"epoch={epoch_id}")
        batch_df, stats = _observe_stats(batch_df, [int(epoch_id)],
                                         F.lit(int(epoch_id)))
        batch_df.write.mode("overwrite").partitionBy("split").parquet(edir)
        if fail_at_epoch is not None and epoch_id >= fail_at_epoch:
            # crash AFTER the data write but BEFORE the lineage append —
            # the worst-case window the replay must absorb
            raise RuntimeError(f"simulated crash at epoch {epoch_id}")
        if int(epoch_id) in completed_buckets(
                spark, os.path.join(out_dir, "checkpoint"), "stream"):
            return  # replay after a crash between lineage and commit
        _append_lineage(spark, out_dir, "stream", stats(), t0, None)

    return (
        capped.writeStream.foreachBatch(sink)
        .option("checkpointLocation",
                os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


# The per-row MinHash band expression — the SAME signature definition as
# the batch operator (relational._MINHASH_SPARK + _LSH_MEMBER_SPARK: 16
# seeds of hash60(seed:word) over DISTINCT words, 4 bands x 4 rows,
# band_key = hash60 of the lexicographically-sorted 'seed=minhash' list) —
# but computed as a pure PROJECTION (nested transform/array_min), no
# groupBy: a streaming DataFrame in append mode cannot pre-aggregate per
# doc, and at any scale this shape also skips the batch path's
# explode(words x 16)->groupBy shuffle entirely.
_WORD_HASH = _HASH60_SPARK.format(x="concat(CAST(s AS STRING), ':', w)")
_MINHASH = ("array_min(transform(array_distinct(split(text, ' ')), "
            f"w -> {_WORD_HASH}))")
_SEED_KEY = f"concat(CAST(s AS STRING), '=', CAST({_MINHASH} AS STRING))"
_BAND_KEY = _HASH60_SPARK.format(
    x="array_join(array_sort(transform(sequence(b * 4, b * 4 + 3), "
      f"s -> {_SEED_KEY})), ',')")
_BANDS_EXPR = ("transform(sequence(0, 3), b -> named_struct("
               f"'band', CAST(b AS INT), 'band_key', {_BAND_KEY}))")


def stream_dedup_near_docs(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    schema=None,
    max_files_per_trigger: int = 1,
):
    """Streaming NEAR-duplicate dedup — the online counterpart of the
    batch MinHash/LSH family: a document is dropped when ANY of its 4
    MinHash band keys was already claimed by an earlier document, so a
    near-dup (not byte-identical — exact dedup is stream_dedup_docs) that
    arrives in a later micro-batch is caught by the band state store.

    Shape: per-row band projection (no shuffle) → explode to (band,
    band_key) → applyInPandasWithState keyed by the band bucket (the
    claim: first owner wins; within a micro-batch the smallest doc_id
    claims an unowned band — deterministic under replay) → foreachBatch
    per-doc verdict (keep iff no band hit a foreign owner) appended
    idempotently per epoch.

    State scale: one (band, band_key) -> owner row per distinct band
    bucket — 4 rows of ~24 bytes per unique doc, hash-partitioned by the
    state key; RocksDB-backed on a cluster.

    Returns (query, out_dir); kept docs land under out_dir/epoch=N as
    (doc_id) rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _watch(spark, docs_dir, max_files_per_trigger, schema)
    exploded = (
        stream.select("doc_id", F.explode(F.expr(_BANDS_EXPR)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"))
    )

    def claim(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        ids = sorted(int(i) for i in rows["doc_id"])
        owner = state.get[0] if state.exists else None
        out = []
        for doc_id in ids:
            if owner is None:
                owner = doc_id
            out.append((doc_id, 1 if owner != doc_id else 0))
        state.update((owner,))
        yield pd.DataFrame(out, columns=["doc_id", "hit"])

    verdicts = exploded.groupBy("band", "band_key").applyInPandasWithState(
        claim, "doc_id bigint, hit int", "owner bigint", "append",
        GroupStateTimeout.NoTimeout,
    )

    def per_doc_keep(batch_df, epoch_id: int) -> None:
        # a doc's 4 band verdicts all ride the micro-batch it arrived in,
        # so the per-doc verdict is a plain batch aggregate; the epoch's
        # own directory makes the append idempotent under replay
        keep = (batch_df.groupBy("doc_id")
                .agg(F.max("hit").alias("any_hit"))
                .filter(F.col("any_hit") == 0).select("doc_id"))
        keep.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}"))

    query = (
        verdicts.writeStream.foreachBatch(per_doc_keep)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return query, out_dir
