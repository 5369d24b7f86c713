"""The Spark extraction pipeline: interleaved spans in → ordered chunk/media
spans out.

Spark-first design (SURVEY.md §3.1 "Spark lifecycle equivalent"):

- The input table has ONE ROW PER DOCUMENT with the span array inline, so the
  whole-document locality the 7 sequential passes need (SURVEY.md §2.7) is
  already present — the pipeline is a single ``mapInArrow`` stage with
  **zero shuffles**. No groupBy, no join, no sort: at 100 TB the only data
  movement is the optional salted repartition for skew.
- Everything crossing the JVM↔Python boundary moves as Arrow batches; the
  per-row work inside the UDF is the per-document sequential fold that
  defines the algorithm (the "loops inside a vectorized UDF" contract,
  SURVEY.md §4). Both input shapes — one row per document and the giant-doc
  split's one row per span — run through the same fold loop
  (``_fold_batches``) and the same Arrow processor.
- Column pruning: only (doc_id, spans) are selected before the UDF — Catalyst
  prunes the parquet scan to exactly those (the analogue of
  extract_positions=false/extract_fonts=false, hierarchical_chunker.cpp:562-563).
- Page-limit pushdown: offset-ordered ``F.slice(array_sort(spans), 1, N)``
  BEFORE the UDF — true pushdown the reference cannot do (it stops between
  thread-pool batches, src/hierarchical_chunker.cpp:592-594). The slice
  selects exactly the spans process_document would keep, regardless of the
  array's stored order.
- Skew: documents range from 1 to >1000 pages (chunk_test_summary.md:9-44).
  ``repartition_for_skew`` salts doc rows uniformly and AQE re-coalesces;
  ``arrow_max_records_per_batch`` bounds how many docs share one Arrow batch
  (the analogue of the reference's batch_size=10 / 50MB-per-page budget).

Interleaving contract (SURVEY.md §1.3, FIXTURES.md §2): per doc_id the output
is an ordered span sequence where each maximal RUN of text/pdf spans is
replaced by that run's chunks (media spans interrupt the text flow and act as
run boundaries) and media spans pass through unmodified at their
document-order positions. Output offsets are renumbered 0..n-1.

Error semantics: a pdf span that fails to lex never fails the document or the
job — the page is skipped for chunking (src/fast_pdf_parser.cpp:84-91
semantics), the error is counted in ``doc_parse_failures`` and the first
message kept in ``doc_error`` (analogue of the per-page error rows,
src/text_extractor.cpp:108-114). A document whose spans produce NO output
(every page failed, or blank/zero-page inputs only) emits a single
``kind='meta'`` row so its counters still reach ``results_meta`` — a doc
never silently vanishes.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame, functions as F

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer

# Output: one row per output span, plus ChunkResult metadata
# (hierarchical_chunker.h:19-26) and doc-level lineage metrics.
OUTPUT_DDL = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "token_count int, start_page int, end_page int, "
    "has_major_heading boolean, min_heading_level int, "
    "overlap_text string, overlap_tokens int, "
    "doc_total_pages int, doc_parse_failures int, doc_bytes_decoded bigint, "
    "doc_error string"
)


class _DocFold:
    """Incremental per-document fold: spans pushed ONE AT A TIME in
    document order (the (offset, kind, text) sort order), CORE rows
    (OUTPUT_DDL minus the four doc_* meta columns) come back from each
    push, page by page, via StreamingChunker — peak memory tracks a
    constant number of in-flight chunks plus the largest single span,
    never the whole document's output (the Spark-side analogue of the
    reference's batch-bounded consume, src/fast_pdf_parser.cpp:75-115).

    ``finish()`` flushes the tail; ``doc_meta()`` then reads the doc
    totals (pages, parse failures, bytes decoded, first error) — they only
    exist at doc end, which is exactly why they can't ride on
    incrementally-emitted rows (see _FlushState for where they attach).

    The incremental form exists so _fold_batches can feed a document whose
    spans arrive as MULTIPLE shuffled rows (the giant-doc split path)
    through the identical fold the one-row-per-doc path runs.
    """

    def __init__(self, doc_id: str, tokenizer,
                 chunk_options: ChunkOptions) -> None:
        self.doc_id = doc_id
        self._tok = tokenizer
        self._opt = chunk_options
        self.total_pages = 0
        self.parse_failures = 0
        self.bytes_decoded = 0
        self.first_error: str | None = None
        self._emitted = 0
        self._pushed = 0
        self._chunker = None

    def _chunk_rows(self, chunks):
        rows = []
        for c in chunks:
            rows.append(
                (self.doc_id, self._emitted, "chunk", c.text, None,
                 c.tokens, c.start_page, c.end_page,
                 c.has_major_heading, c.min_heading_level,
                 c.overlap_text or None, c.overlap_tokens)
            )
            self._emitted += 1
        return rows

    def _passthrough_row(self, kind, text, media_ref):
        row = (self.doc_id, self._emitted, kind, text, media_ref,
               None, None, None, None, None, None, None)
        self._emitted += 1
        return row

    def push_span(self, s):
        """Consume one span (respecting the page_limit); yields rows."""
        from fast_pdf_parser_spark.operators.chunker import StreamingChunker

        if (self._opt.page_limit > 0
                and self._pushed >= self._opt.page_limit):
            return
        self._pushed += 1
        kind = s["kind"]
        if kind == "media":
            if self._chunker is not None:
                yield from self._chunk_rows(self._chunker.finish())
                self._chunker = None
            yield self._passthrough_row("media", None, s["media_ref"])
        elif kind == "pdf":
            span_offset = s["offset"]
            try:
                from fast_pdf_parser_spark.sources.pdf_lexer import (
                    extract_pdf_pages_lines,
                )
                raw = base64.b64decode(s["text"])
                self.bytes_decoded += len(raw)
                del s
                # line-list form: the lexer builds lines and the chunker
                # consumes lines — joining to page text in between would
                # be two string copies per line (push_lines is pinned
                # equal to the joined push_page)
                pdf_pages = extract_pdf_pages_lines(raw)
                del raw
            except Exception as exc:  # error containment per page
                self.total_pages += 1
                self.parse_failures += 1
                if self.first_error is None:
                    self.first_error = f"page {span_offset}: {exc}"
            else:
                # total_pages counts REAL pdf pages (ChunkingResult
                # semantics, hierarchical_chunker.h:29-35): a multi-page
                # pdf span contributes each page as its own chunking page
                # (page-boundary units), all sharing the span's offset
                self.total_pages += max(1, len(pdf_pages))
                if self._chunker is None:
                    self._chunker = StreamingChunker(self._tok, self._opt)
                for j in range(len(pdf_pages)):
                    page_lines = pdf_pages[j]
                    pdf_pages[j] = None  # free each page once chunked
                    yield from self._chunk_rows(
                        self._chunker.push_lines(page_lines, span_offset)
                    )
        elif kind == "text":
            self.total_pages += 1
            text = s["text"] or ""
            self.bytes_decoded += len(text.encode("utf-8"))
            if self._chunker is None:
                self._chunker = StreamingChunker(self._tok, self._opt)
            yield from self._chunk_rows(
                self._chunker.push_page(text, s["offset"]))
        elif kind == "html":
            # HTML member of the main-content extraction family:
            # boilerplate strip + DOM heuristics (sources/html_extractor),
            # same per-span error containment as the pdf path
            self.total_pages += 1
            try:
                from fast_pdf_parser_spark.sources.html_extractor import (
                    html_main_content,
                )
                raw_html = s["text"] or ""
                self.bytes_decoded += len(raw_html.encode("utf-8"))
                main = html_main_content(raw_html)
                del raw_html
            except Exception as exc:
                self.parse_failures += 1
                if self.first_error is None:
                    self.first_error = f"page {s['offset']}: {exc}"
            else:
                if self._chunker is None:
                    self._chunker = StreamingChunker(self._tok, self._opt)
                yield from self._chunk_rows(
                    self._chunker.push_page(main, s["offset"]))
        else:
            # Unknown kinds pass through unmodified (forward-compat: never
            # reinterpret or drop data we don't understand at 10^12 docs).
            if self._chunker is not None:
                yield from self._chunk_rows(self._chunker.finish())
                self._chunker = None
            yield self._passthrough_row(kind, s["text"], s["media_ref"])

    def finish(self):
        """Flush the tail and emit the no-output meta row if needed;
        yields the remaining rows."""
        if self._chunker is not None:
            yield from self._chunk_rows(self._chunker.finish())
            self._chunker = None
        if self._emitted == 0 and self._pushed > 0:
            # a document whose spans produced no output (every page failed
            # to parse, or zero-page/blank pages only) must NOT vanish: its
            # meta counters (pages seen, failures, first error) are the
            # error-containment contract. One kind='meta' row carries them.
            yield self._passthrough_row("meta", None, None)

    def doc_meta(self) -> tuple:
        """The four doc_* meta columns (final after finish())."""
        return (self.total_pages, self.parse_failures,
                self.bytes_decoded, self.first_error)


def _in_fold_order(spans):
    """Yield a document's spans in fold order, releasing each one as it is
    consumed (ordered[i] = None): once the caller has dropped its own
    reference to ``spans``, a giant document's span text becomes
    collectable span by span."""
    # (offset, kind, text) — offset is THE document order; the null-safe
    # kind/text tiebreak only matters for (out-of-contract) duplicate
    # offsets and exists so the page-limit pushdown's comparator sort in
    # extract_documents keeps byte-identical span subsets (Spark's
    # comparator sort is not stable; Python's sorted() is)
    ordered = sorted(
        spans,
        key=lambda s: (s["offset"], s["kind"] or "", s["text"] or ""),
    )
    del spans
    for i in range(len(ordered)):
        s = ordered[i]
        ordered[i] = None  # release the span (and its text) once consumed
        yield s


def process_document(
    doc_id: str,
    spans,
    tokenizer,
    chunk_options: ChunkOptions,
) -> list[tuple]:
    """Pure-Python per-document fold: spans → output span rows.

    ``spans`` is an iterable of dict-like {kind, text, media_ref, offset}.
    Returns rows matching OUTPUT_DDL. Unit-testable without Spark. This is
    the materialized view of the streaming fold (_fold_batches): every
    row carries the doc's final meta columns.
    """
    fold = _DocFold(doc_id, tokenizer, chunk_options)
    rows = []
    for s in _in_fold_order(spans):
        rows.extend(fold.push_span(s))
    rows.extend(fold.finish())
    doc_meta = fold.doc_meta()
    return [row + doc_meta for row in rows]


# Output-side memory bound for the fold: accumulated result rows are
# flushed as their own Arrow batch once their text payload crosses this
# many characters (or _FLUSH_ROWS rows) — both BETWEEN documents and,
# since round 5, INSIDE a document: _DocFold streams chunk rows out
# page by page, so a giant document's output leaves the worker in
# ~_FLUSH_CHARS slices instead of accumulating whole. Peak worker memory
# therefore tracks the input batch plus O(_FLUSH_CHARS), not ~15x the
# largest document's decoded bytes (BENCH/GIANT_DOC_r5.json vs _r4).
#
# Meta-column contract under mid-doc streaming: doc totals (pages,
# failures, bytes, first error) exist only at doc end, so rows flushed
# mid-document carry NULL doc_* meta. Two guarantees keep consumers
# simple: (1) the offset==0 row of every document ALWAYS carries the
# final meta (it is withheld until the doc completes — one bounded row),
# so `WHERE offset = 0` reads stay exact; (2) any document whose output
# fits under the flush budget — everything but the giant-doc tail — has
# meta on EVERY row, byte-identical to the pre-streaming output.
_FLUSH_CHARS = 32 << 20
_FLUSH_ROWS = 20_000

_NULL_META = (None, None, None, None)


class _FlushState:
    """Budget-bounded row buffering of the fold loop (_fold_batches), for
    both input shapes: rows go in via ``add_row`` /
    ``end_doc`` / ``end``, each of which yields zero or more row-tuple
    BATCHES honoring the _FLUSH_CHARS/_FLUSH_ROWS budget and the meta
    contract (offset-0 row withheld to doc end so it always carries final
    meta; mid-doc-streamed rows carry NULL meta).

    Every emitted batch is bounded by ONE flush budget (plus at most one
    row of overshoot): completed-doc rows and a giant doc's mid-doc rows
    flush as separate batches when their sum would cross the budget.
    NULL-meta rows occur ONLY for documents whose own output exceeds the
    budget, never because unrelated completed rows shared the buffer."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []  # completed-doc rows, meta attached
        self.pending_chars = 0
        self.first_row: tuple | None = None  # withheld offset-0 row
        self.doc_rows: list[tuple] = []
        self.doc_chars = 0

    def add_row(self, row: tuple):
        """One CORE row of the current document; yields flush batches."""
        if self.first_row is None:
            self.first_row = row
            return
        self.doc_rows.append(row)
        if row[3]:
            self.doc_chars += len(row[3])
        if (self.doc_chars >= _FLUSH_CHARS
                or len(self.doc_rows) >= _FLUSH_ROWS):
            # mid-doc flush (giant doc): stream what we have; these rows
            # carry NULL meta (not known yet). Completed rows go out as
            # their own batch so the two buffers never stack.
            if self.rows:
                yield self.rows
                self.rows, self.pending_chars = [], 0
            yield [r + _NULL_META for r in self.doc_rows]
            self.doc_rows, self.doc_chars = [], 0

    def end_doc(self, doc_meta: tuple):
        """The current document is complete: attach its final meta."""
        done_rows: list[tuple] = []
        if self.first_row is not None:
            done_rows.append(self.first_row + doc_meta)
            if self.first_row[3]:
                self.doc_chars += len(self.first_row[3])
        done_rows.extend(r + doc_meta for r in self.doc_rows)
        # if appending this doc's rows would cross the budget, flush the
        # already-pending completed rows first — batch stays ~one budget
        if self.rows and (
            self.pending_chars + self.doc_chars >= _FLUSH_CHARS
            or len(self.rows) + len(done_rows) >= _FLUSH_ROWS
        ):
            yield self.rows
            self.rows, self.pending_chars = [], 0
        self.rows.extend(done_rows)
        self.pending_chars += self.doc_chars
        self.first_row, self.doc_rows, self.doc_chars = None, [], 0
        if (self.pending_chars >= _FLUSH_CHARS
                or len(self.rows) >= _FLUSH_ROWS):
            yield self.rows
            self.rows, self.pending_chars = [], 0

    def end(self):
        """End of an input batch (or of the input): flush the completed-doc
        rows; an open document's rows stay buffered."""
        if self.rows:
            yield self.rows
            self.rows, self.pending_chars = [], 0


def _whole_docs(doc_ids, spans_col):
    """Input adapter of the contiguous path: each row is ONE complete
    document (two rows with the same doc_id stay two folds)."""
    for j, doc_id in enumerate(doc_ids):
        spans = _in_fold_order(spans_col[j])
        spans_col[j] = None  # the fold holds the only reference now
        yield doc_id, spans, True


def _span_rows(doc_ids, span_col):
    """Input adapter of the split path: one span per row, clustered by
    doc_id and already in fold order; a document may continue into the
    next input batch, so it completes only on a doc_id change."""
    for j, doc_id in enumerate(doc_ids):
        span = span_col[j]
        span_col[j] = None  # release as consumed
        yield doc_id, (span,), False


def _fold_batches(inputs, tokenizer, chunk_options: ChunkOptions):
    """The one fold loop: ``inputs`` yields, per input Arrow batch, an
    iterable of (doc_id, spans in fold order, complete) pieces (from
    _whole_docs or _span_rows); row-tuple batches come out via _FlushState.

    A piece continues the open document when its doc_id matches and the
    previous piece was not ``complete``; the open document carries across
    input batches. Completed-doc rows are flushed at the end of EVERY
    input batch, so output never waits on the next input batch's fold."""
    state = _FlushState()
    fold: _DocFold | None = None

    def close():
        for row in fold.finish():
            yield from state.add_row(row)
        yield from state.end_doc(fold.doc_meta())

    for pieces in inputs:
        for doc_id, spans, complete in pieces:
            if fold is not None and fold.doc_id != doc_id:
                yield from close()
                fold = None
            if fold is None:
                fold = _DocFold(doc_id, tokenizer, chunk_options)
            for s in spans:
                for row in fold.push_span(s):
                    yield from state.add_row(row)
            if complete:
                yield from close()
                fold = None
        yield from state.end()
    if fold is not None:
        yield from close()
        yield from state.end()


def _make_processor(chunk_options: ChunkOptions, vocab_path: str | None,
                    column: str, pieces_of):
    """The mapInArrow processor of every extraction path: (doc_id,
    ``column``) Arrow batches in, OUTPUT_DDL Arrow batches out.
    ListArray.to_pylist is the single input conversion; ``pieces_of``
    (_whole_docs or _span_rows) says what one input row is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(OUTPUT_DDL))
    n_cols = len(arrow_schema)

    def rows_to_batch(rows: list[tuple]) -> "pa.RecordBatch":
        cols = list(zip(*rows)) if rows else [[]] * n_cols
        arrays = [
            pa.array(cols[i], type=arrow_schema.field(i).type)
            for i in range(n_cols)
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    def process_batches(batches):
        tokenizer = get_tokenizer(vocab_path)  # per-worker singleton

        def inputs():
            for batch in batches:
                doc_ids = batch.column("doc_id").to_pylist()
                values = batch.column(column).to_pylist()
                del batch  # spans free as they are folded
                yield pieces_of(doc_ids, values)

        for rows in _fold_batches(inputs(), tokenizer, chunk_options):
            yield rows_to_batch(rows)

    return process_batches


def _span_cmp(a, b):
    """JVM-side comparator matching the fold's (offset, kind, text) sort
    key: a deterministic tiebreak keeps span subsets byte-identical to the
    Python sorted() order even for (out-of-contract) duplicate offsets
    (comparator sorts are not stable)."""
    ka, kb = (F.coalesce(x["kind"], F.lit("")) for x in (a, b))
    ta, tb = (F.coalesce(x["text"], F.lit("")) for x in (a, b))
    return (
        F.when(a["offset"] < b["offset"], F.lit(-1))
        .when(a["offset"] > b["offset"], F.lit(1))
        .when(ka < kb, F.lit(-1)).when(ka > kb, F.lit(1))
        .when(ta < tb, F.lit(-1)).when(ta > tb, F.lit(1))
        .otherwise(F.lit(0))
    )


def repartition_for_skew(df: DataFrame, num_partitions: int) -> DataFrame:
    """Salted uniform redistribution of doc rows.

    Documents cannot be split (the passes need whole-doc locality), so the
    best general strategy is statistically uniform placement of doc rows —
    ``repartition`` on a hash of doc_id — plus AQE coalescing of the small
    partitions afterwards. The arrow batch cap bounds per-batch memory.

    When the input is already well-distributed parquet, prefer
    ``num_partitions=0`` (no shuffle) and control task granularity with
    ``spark.sql.files.maxPartitionBytes`` instead: Spark packs small files
    into ~128MB splits by default, which can leave a small corpus with fewer
    tasks than cores (at 100 TB splits are plentiful and this is moot).
    """
    return df.repartition(num_partitions, F.xxhash64("doc_id"))


def doc_bytes_estimate(spans_col: str = "spans"):
    """Cheap JVM-side per-document size estimate: total span-text bytes
    (media spans' NULL text counts 0). The routing analogue of the A2
    token estimate (functions/tokenizer.estimate_tokens) and of the
    reference's memory budget (fast_pdf_parser.h:15-18) — evaluated
    entirely inside whole-stage codegen, no Python.

    NULL-safe: a NULL spans column estimates 0, NOT NULL. Routing
    filters compare est against the threshold in both directions
    (`< thr` / `>= thr`); a NULL estimate would fail both predicates
    and silently drop the document from the routed union, diverging
    from the unrouted path (which hands the row to the fold)."""
    return F.coalesce(
        F.aggregate(
            spans_col,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.coalesce(F.octet_length(s["text"]), F.lit(0)).cast("long"),
        ),
        F.lit(0).cast("long"),
    )


def extract_documents(
    df: DataFrame,
    chunk_options: ChunkOptions = ChunkOptions(),
    parse_options: ParseOptions = ParseOptions(),
    vocab_path: str | None = None,
    split_df: DataFrame | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → output span rows (OUTPUT_DDL).

    The flagship operator: the Spark re-expression of
    HierarchicalChunker::chunk_file (src/hierarchical_chunker.cpp:552-634)
    over every document at once.

    Skew-tail routing (``parse_options.giant_doc_bytes > 0``): the input
    is size-bucketed with :func:`doc_bytes_estimate` and documents at or
    above the threshold take the one-shuffle split path
    (:func:`extract_documents_split`) instead of the zero-shuffle
    contiguous path; results union back into one DataFrame. The bulk
    keeps the plan you want at 100 TB (no Exchange, pruned scan, one
    Arrow-batched fold) while a skewed giant stops dictating executor
    memory shape. The source is scanned once per bucket (twice total) —
    scan is the cheap term next to parse, and the single-scan alternative
    would shuffle the whole corpus. Plan shape is pinned by
    tests/test_plans.py.

    ``split_df``: an optional PRE-SPLIT store (doc_id, pos, span) authored
    at ingest with :func:`split_spans_table` — the storage layout for docs
    too large to ever materialize as one row (BENCH/GIANT_DOC_r6.json:
    512 MB/1 GB docs at 1 g heap). It is routed through the split path
    with ``pre_split=True`` and unioned in, making this the ONE entry
    point over a corpus stored as contiguous-bulk + pre-split-tail.

    Session conf: sets ``spark.sql.execution.arrow.maxRecordsPerBatch``
    to ``parse_options.arrow_max_records_per_batch`` on the caller's
    session and leaves it set. The conf is read when the plan executes,
    so two lazy extracts built with different values both run with the
    one set last.
    """
    chunk_options.validate()
    spark = df.sparkSession
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(parse_options.arrow_max_records_per_batch),
    )
    if vocab_path is None:
        # resolve the vocab ONCE, on the driver, and thread the explicit
        # path into the UDF closure: per-worker discovery (env var / data
        # dir) can resolve differently on executors than on the driver,
        # silently mixing two tokenizations within one job. An explicit
        # path an executor cannot read fails loudly instead.
        from fast_pdf_parser_spark.functions.tokenizer import find_real_vocab

        vocab_path = find_real_vocab()

    base = df.select("doc_id", "spans")
    parts: list[DataFrame] = []
    if parse_options.giant_doc_bytes > 0:
        est = doc_bytes_estimate()
        parts.append(_extract_contiguous(
            base.filter(est < parse_options.giant_doc_bytes),
            chunk_options, parse_options, vocab_path))
        parts.append(extract_documents_split(
            base.filter(est >= parse_options.giant_doc_bytes),
            chunk_options, parse_options, vocab_path))
    else:
        parts.append(_extract_contiguous(
            base, chunk_options, parse_options, vocab_path))
    if split_df is not None:
        parts.append(extract_documents_split(
            split_df, chunk_options, parse_options, vocab_path,
            pre_split=True))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _extract_contiguous(
    pruned: DataFrame,
    chunk_options: ChunkOptions,
    parse_options: ParseOptions,
    vocab_path: str | None,
) -> DataFrame:
    """The zero-shuffle one-row-per-document fold (the default plan)."""
    if chunk_options.page_limit > 0:
        # true limit pushdown below the parse UDF (SURVEY.md §4): keep only
        # the first N spans per document before any decoding happens.
        # "First" means offset order — the same order process_document uses —
        # so the array is sorted by offset before slicing (stored order is
        # not guaranteed). Like process_document, the limit counts spans of
        # every kind including media: the limit bounds per-doc work, and a
        # media span occupies a document-order slot just as a page does.
        by_offset = F.array_sort("spans", _span_cmp)
        pruned = pruned.withColumn(
            "spans", F.slice(by_offset, 1, chunk_options.page_limit)
        )
    if parse_options.num_partitions > 0:
        pruned = repartition_for_skew(pruned, parse_options.num_partitions)

    return pruned.mapInArrow(
        _make_processor(chunk_options, vocab_path, "spans", _whole_docs),
        schema=OUTPUT_DDL,
    )


def split_spans_table(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → the pre-split layout (doc_id, pos, span):
    spans sorted into fold order (the (offset, kind, text) comparator) and
    exploded one row per span. This is the STORAGE layout for the giant-doc
    skew tail: authored ONCE at ingest (the author pays the whole-row
    materialization once, on a node sized for it), after which every
    pipeline run over the tail reads span-sized rows only — see
    extract_documents_split(pre_split=True)."""
    ordered = F.array_sort(F.col("spans"), _span_cmp)
    return df.select("doc_id", F.posexplode(ordered).alias("pos", "span"))


def extract_documents_split(
    df: DataFrame,
    chunk_options: ChunkOptions = ChunkOptions(),
    parse_options: ParseOptions = ParseOptions(),
    vocab_path: str | None = None,
    pre_split: bool = False,
) -> DataFrame:
    """Skew-tail variant of extract_documents for GIANT documents: one row
    per SPAN instead of one row per document, so no single Arrow batch —
    and, with ``pre_split``, no single JVM row — ever holds a whole
    document.

    Why it exists: the zero-shuffle path materializes each document as one
    JVM row feeding one Arrow batch — a 512 MB document needs ~5 GB of
    executor heap (BENCH/GIANT_DOC_r5.json brackets), which at the 100x
    skew tail dictates executor shape. Here the spans flow as (doc_id,
    pos, span) rows, hash-repartitioned by doc_id and sorted within
    partitions by (doc_id, pos) — each document arrives at the Python
    worker as a consecutive run of span-sized rows, and _DocFold carries
    the fold state across Arrow batch boundaries. Output is byte-identical
    to extract_documents (pinned by test).

    Two input shapes:

    - ``pre_split=False``: ``df`` is the standard (doc_id, spans) table;
      the span array is sorted and exploded here. Convenience form — the
      scan + explode still materializes each source row ONCE in the JVM
      (UnsafeRow projection), so the heap floor stays ~2.5-3x the largest
      document (vs ~10x on the contiguous path).
    - ``pre_split=True``: ``df`` is already (doc_id, pos, span) in fold
      order (author it with split_spans_table — one-time, at ingest).
      No giant row exists anywhere: the JVM floor collapses to ordinary
      row sizes (BENCH/GIANT_DOC_r6.json).

    Cost: ONE shuffle of the span data (as bounded-size rows) — this is
    NOT the default path. At 100 TB, size-bucket the corpus (the A2 token
    estimate is the cheap proxy), store the giant-doc bucket pre-split,
    and route only it here; the bulk keeps the zero-shuffle plan.

    Session conf: sets ``spark.sql.execution.arrow.maxRecordsPerBatch``
    as :func:`extract_documents` does, and leaves it set.
    """
    chunk_options.validate()
    spark = df.sparkSession
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(parse_options.arrow_max_records_per_batch),
    )

    if pre_split:
        flat = df.select("doc_id", "pos", "span")
        if chunk_options.page_limit > 0:
            # pos is the fold order, so the pushdown is a plain filter —
            # on a pos-partitioned store this also prunes whole files
            flat = flat.filter(F.col("pos") < chunk_options.page_limit)
    else:
        ordered = F.array_sort(F.col("spans"), _span_cmp)
        if chunk_options.page_limit > 0:
            # same pushdown as the contiguous path; _DocFold's own limit
            # check then never triggers (the slice already applied it)
            ordered = F.slice(ordered, 1, chunk_options.page_limit)
        flat = df.select("doc_id",
                         F.posexplode(ordered).alias("pos", "span"))
    n = parse_options.num_partitions \
        or spark.sparkContext.defaultParallelism
    # pos only orders the rows: the fold reads (doc_id, span)
    flat = (flat.repartition(n, "doc_id")
            .sortWithinPartitions("doc_id", "pos")
            .select("doc_id", "span"))

    if vocab_path is None:
        from fast_pdf_parser_spark.functions.tokenizer import find_real_vocab

        vocab_path = find_real_vocab()

    return flat.mapInArrow(
        _make_processor(chunk_options, vocab_path, "span", _span_rows),
        schema=OUTPUT_DDL,
    )


def to_span_table(result: DataFrame) -> DataFrame:
    """Re-nest exploded output rows into the FIXTURES.md §2 golden shape:
    expected_spans(doc_id, spans array<struct<kind,text,media_ref,offset>>)."""
    span = F.struct(
        F.col("kind"), F.col("text"), F.col("media_ref"), F.col("offset")
    )
    return (
        result.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("offset", span.alias("s"))))
             .alias("ordered"))
        .select(
            "doc_id",
            F.transform(F.col("ordered"), lambda x: x["s"]).alias("spans"),
        )
    )


def results_meta(result: DataFrame) -> DataFrame:
    """Per-doc aggregate mirroring ChunkingResult
    (hierarchical_chunker.h:29-35): total_pages, total_chunks.

    Uses max() not first(): rows streamed out mid-document (giant docs
    crossing the flush bound) carry NULL meta, and the per-doc meta is
    constant-or-null, so the null-ignoring max IS the doc value."""
    return result.groupBy("doc_id").agg(
        F.max("doc_total_pages").alias("total_pages"),
        F.sum(F.when(F.col("kind") == "chunk", 1).otherwise(0))
        .cast("int").alias("total_chunks"),
        F.max("doc_parse_failures").alias("parse_failures"),
        F.max("doc_bytes_decoded").alias("bytes_decoded"),
    )
