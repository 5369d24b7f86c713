"""Token-id materialization: encode + concat-then-split sequence packing.

``text_pack_manifest`` (operators/relational.py) computes WHERE every
document's tokens land in the packed training stream — but a training run
consumes the token ids themselves. This module materializes them with the
REAL greedy longest-match tokenizer (functions/tokenizer.py, the Spark
re-expression of the reference's tiktoken_tokenizer.h:150-186 encode
loop):

1. ``encode_token_ids`` — zero-shuffle Arrow-batched mapInPandas: one
   ``array<int>`` of ids per document (byte fallback included, so any
   input byte sequence encodes; ``decode`` inverts it exactly).
2. ``pack_token_ids`` — the distributed concat-then-split pack of one
   encoded relation (materialize a real-tokenizer encoding first: the
   pack reads it twice), the way a 1000-executor cluster must run it: per-shard prefix-sum windows in
   parallel (shards are contiguous doc_id ranges, so shard order ==
   global order), a tiny one-row-per-shard totals relation turned into
   base offsets by a trivially small running sum, a broadcast equi-join
   back, then ONE bounded explode (each doc overlaps at most
   ceil(n_ids/seq_len)+1 sequences) and a groupBy(seq_id) that reassembles
   each training sequence's ids in order. No corpus-wide window, no
   corpus-wide sort.

The ids themselves aren't SQL-derivable (greedy vocab walk), so the
driver row is rows-only; the exact contract is pinned by
tests/test_packing.py against a single-process reference pack
(concatenate ``encode()`` in doc_id order, cut every seq_len).
``text_pack_manifest`` oracle-checks the SAME concat-then-split
ALGORITHM (shards, prefix sums, seq assignment) over a whitespace token
count both SQL engines can compute — its offsets are a proxy geometry,
NOT this module's (real-tokenizer counts differ from word counts on
essentially every document); the real geometry is pinned here by the
reference-pack equality test
(tests/test_packing.py::test_pack_matches_reference_exactly), whose exact
equality also implies seqs == ceil(tokens/seq_len).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fast_pdf_parser_spark.functions.tokenizer import driver_vocab

SEQ_LEN = 128          # tokens per packed training sequence
SHARD_WIDTH = 100      # contiguous doc_ids per prefix-sum shard


def encode_token_ids(docs: DataFrame, vocab_path: str | None = None,
                     num_partitions: int = 0) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, ids array<int>, n_ids int) via the
    real greedy tokenizer. Zero-shuffle by default; input pruned to
    (doc_id, text); empty/whitespace-only texts are dropped (they pack
    zero tokens). NOTE: this drop uses full str.strip() whitespace
    semantics incl. Unicode (see _pruned), matching the serial reference
    pack; text_pack_manifest's SQL filter is the
    space-trim proxy — its geometry is a word-count proxy anyway, never
    this module's.

    ``num_partitions``: at 100 TB the parquet scan yields plenty of
    splits and the encoder parallelizes for free — leave 0 (no shuffle).
    A SMALL corpus (one parquet file = one split) would serialize the
    compute-bound encoder on one core; pass the cluster's parallelism to
    spread it (the same knob extract_documents exposes via
    ParseOptions.num_partitions)."""
    import pandas as pd

    from fast_pdf_parser_spark.util import ship_package

    ship_package(docs.sparkSession)  # workers need the tokenizer module
    # one tokenization per encoding: a mixed one would corrupt every
    # slice offset downstream
    vocab_path = driver_vocab(vocab_path)
    pruned = _pruned(docs)
    if num_partitions:
        pruned = pruned.repartition(num_partitions, "doc_id")

    def encode_fold(batches):
        from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer

        tok = get_tokenizer(vocab_path)
        for pdf in batches:
            ids = [tok.encode(t) for t in pdf["text"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "ids": ids,
                "n_ids": [len(x) for x in ids],
            })

    return pruned.mapInPandas(
        encode_fold, schema="doc_id bigint, ids array<int>, n_ids int")


def _pruned(docs: DataFrame) -> DataFrame:
    # full str.strip() semantics, matching the serial reference pack's
    # drop (tests/test_packing.py): F.trim strips only ' ', so a
    # whitespace-only document would otherwise be kept here but dropped
    # by the reference — a silent geometry divergence. Python's
    # str.strip()/isspace() set = the Unicode White_Space property
    # (covers \t \n \x0B \f \r \xa0 \u2028 \u2029 \x85 ...) PLUS the
    # C0 separators \x1c-\x1f, which Unicode does NOT mark White_Space
    # but Python does — hence the explicit union class (advice finding,
    # round 7: the ASCII-only class missed e.g. a \xa0-only doc).
    # rlike (find-first, short-circuits at the first non-whitespace char)
    # instead of length(regexp_replace(..)) > 0, which rewrites the WHOLE
    # document per row — the replace form cost text_encode_pack ~50% wall
    # at sf0.1 when this class went Unicode.
    return (docs.select("doc_id", "text")
            .filter(F.col("text").rlike(
                r"[^\p{IsWhite_Space}\x1c-\x1f]")))


def pack_token_ids(encoded: DataFrame, seq_len: int = SEQ_LEN,
                   shard_width: int = SHARD_WIDTH) -> DataFrame:
    """Packed training sequences with materialized ids: one row per
    sequence — (seq_id, n_docs, n_tokens, ids array<int>). Every sequence
    except the last has exactly ``seq_len`` tokens; ids concatenate the
    member documents' encodings in doc_id order.

    ``encoded`` is (doc_id, ids array<int>, n_ids int) — encode_token_ids'
    output or any other encoding (the pack is encoder-agnostic: the
    driver's text_pack_write row packs a SQL-derivable ids = 1..n).
    Documents with ``n_ids = 0`` pack nothing. The pack reads ``encoded``
    in two plan branches, the ids and the shard totals, so an expensive
    encoding must come in materialized (``util.materialize``), or the
    encoder runs once per branch.

    Scale note: the shard-offset running sum below is a single-partition
    window, but over the SHARD-TOTALS relation (one row per
    ``shard_width`` docs), not the corpus — at 10^9 docs the default
    shard_width=100 makes that a 10^7-row window on one core (~seconds);
    raise shard_width to shrink it linearly (10^4 → 10^5 rows) without
    touching the packed output, since shard boundaries only affect WHERE
    prefix sums are stitched, not the doc_id-ordered token stream."""
    shard = (F.col("doc_id") / shard_width).cast("long")
    enc = (encoded.select("doc_id", "ids", "n_ids")
           .filter(F.col("n_ids") > 0))

    w_local = (Window.partitionBy("shard").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = (enc.withColumn("shard", shard)
             .withColumn("local_end", F.sum("n_ids").over(w_local)))

    shard_tot = (enc.withColumn("shard", shard).groupBy("shard")
                 .agg(F.sum("n_ids").alias("shard_tokens")))
    w_off = (Window.orderBy("shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = shard_tot.select(
        "shard",
        F.coalesce(F.sum("shard_tokens").over(w_off), F.lit(0))
        .alias("shard_start"))

    placed = (local.join(F.broadcast(offsets), "shard")
              .withColumn("start",
                          F.col("shard_start") + F.col("local_end")
                          - F.col("n_ids"))
              .withColumn("end", F.col("shard_start") + F.col("local_end")))

    seq = F.col("seq_id")
    lo = F.greatest(F.col("start"), seq * seq_len)
    hi = F.least(F.col("end"), (seq + 1) * seq_len)
    exploded = placed.select(
        "start", "end", "ids",
        F.explode(F.sequence(
            F.floor(F.col("start") / seq_len),
            F.floor((F.col("end") - 1) / seq_len))).alias("seq_id"))
    pieces = exploded.select(
        "seq_id",
        F.struct(
            F.col("start").alias("start"),
            F.slice("ids", (lo - F.col("start") + 1).cast("int"),
                    (hi - lo).cast("int")).alias("piece"),
        ).alias("p"))

    # reassemble each sequence: pieces sorted by their global start offset
    return (pieces.groupBy("seq_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.flatten(F.transform(F.array_sort(F.collect_list("p")),
                              lambda s: s["piece"])).alias("ids"))
        .select("seq_id", "n_docs",
                F.size("ids").alias("n_tokens"), "ids"))


SEQS_PER_SHARD = 8192  # sequences per training-shard file group


def write_packed_sequences(encoded: DataFrame, out_dir: str,
                           seq_len: int = SEQ_LEN,
                           seqs_per_shard: int = SEQS_PER_SHARD,
                           shard_width: int = SHARD_WIDTH) -> DataFrame:
    """The last mile of the training-data path: pack_token_ids landed on
    disk as shard-partitioned parquet (``out/shard=K/``) — the artifact a
    data loader actually opens. Shards are contiguous seq_id ranges
    (``seq_id // seqs_per_shard``), so a loader streams shard K and reads
    sequences in order without touching the rest of the corpus, and
    partition pruning serves "give me shards 17-20" for free.

    Returns the reader over the written table (shard is a partition
    column). Validation belongs to the caller/test: total tokens and the
    all-full-but-last invariant survive the round trip
    (tests/test_packing.py::test_write_packed_sequences_roundtrip)."""
    packed = pack_token_ids(encoded, seq_len, shard_width)
    # sort key must start with the dynamic-partition column: otherwise
    # the writer inserts its own SortExec(shard) and within-shard seq_id
    # order would rest on unspecified sort stability
    (packed.withColumn(
        "shard", (F.col("seq_id") / seqs_per_shard).cast("long"))
        .repartition("shard")
        .sortWithinPartitions("shard", "seq_id")
        .write.mode("overwrite").partitionBy("shard").parquet(out_dir))
    # explicit schema: an all-filtered corpus writes only _SUCCESS and a
    # schema-inferred read would raise AFTER the write durably succeeded
    # (the write_docs_bucketed guard, plans/checkpoint.py)
    return encoded.sparkSession.read.schema(
        "seq_id bigint, n_docs int, n_tokens int, ids array<int>, "
        "shard bigint").parquet(out_dir)


def pack_bestfit(docs: DataFrame, capacity: int | None = None,
                 n_shards: int | None = None) -> DataFrame:
    """Doc-preserving next-fit-decreasing bin packing: whole documents
    into fixed-capacity bins, none split across a bin boundary — the
    "example packing" an instruction-tuning / per-doc-loss-masked
    pipeline needs where pack_token_ids' concat-then-split would let a
    document straddle two sequences. NFD is the classic one-pass
    2-approximation: sort descending, keep a single open bin, open a new
    one when the next item doesn't fit.

    The sequential fold is not window-expressible (every bin break
    depends on all previous breaks), so this is the documented
    custom-operator escape hatch: ONE hash shuffle on the portable-md5
    shard key, then applyInPandas folds each shard independently in
    (toks DESC, doc_id ASC) order. Per-shard work is bounded and the
    shard count scales with the corpus — constant per-task cost at
    100 TB, and the shard layout is what a loader wants on disk anyway.
    Oversize docs (toks > capacity) sort first and each occupies its own
    bin with no special-casing (nothing ever fits after one). The DuckDB
    twin (relational.HYBRID_ORACLES['text_pack_bestfit']) replays the
    identical fold as a recursive CTE, so the driver gate value-checks
    every bin boundary cross-engine. Defaults come from
    relational.BESTFIT_CAP / BESTFIT_SHARDS (capacity == SEQ_LEN)."""
    from .relational import _HASH60_SPARK, BESTFIT_CAP, BESTFIT_SHARDS

    cap = BESTFIT_CAP if capacity is None else capacity
    shards = BESTFIT_SHARDS if n_shards is None else n_shards
    shard_h = _HASH60_SPARK.format(
        x="concat('bf:', CAST(doc_id AS STRING))")
    base = docs.selectExpr(
        "doc_id",
        "CAST(floor((length(text) + 3) / 4) AS BIGINT) AS toks",
        f"CAST({shard_h} % {shards} AS INT) AS shard",
    ).where("toks > 0")

    def fold(pdf):
        pdf = pdf.sort_values(["toks", "doc_id"],
                              ascending=[False, True],
                              kind="mergesort")
        bins, bin_id, fill = [], 0, None
        for t in pdf["toks"]:
            if fill is None:          # first row of the shard
                fill = int(t)
            elif fill + t <= cap:     # fits the open bin
                fill += int(t)
            else:                     # open the next bin
                bin_id += 1
                fill = int(t)
            bins.append(bin_id)
        pdf = pdf.assign(bin_id=bins)
        # bin stats here, NOT as a downstream window: the pandas group
        # already holds the whole shard, and FlatMapGroupsInPandas does
        # not propagate its child's partitioning (fresh attribute ids),
        # so a Window.partitionBy(shard, bin_id) would re-shuffle what
        # is already colocated — one Exchange total, plan-asserted
        grp = pdf.groupby("bin_id")["toks"]
        return pdf.assign(
            bin_toks=grp.transform("sum"),
            bin_docs=grp.transform("size").astype("int32"),
            oversize=(pdf["toks"] > cap).astype("int32"),
        )[["shard", "doc_id", "toks", "bin_id",
           "bin_toks", "bin_docs", "oversize"]]

    return base.groupBy("shard").applyInPandas(
        fold, "shard int, doc_id bigint, toks bigint, bin_id bigint, "
              "bin_toks bigint, bin_docs int, oversize int")
