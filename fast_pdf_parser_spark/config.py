"""Option dataclasses mirroring the reference's public configuration.

Reference:
- ``ChunkOptions`` defaults: include/fast_pdf_parser/hierarchical_chunker.h:11-16
  (max_tokens=512, min_tokens=150, overlap_tokens=0, thread_count=0).
- Internal constants: src/hierarchical_chunker.cpp:19-21
  (DEFAULT_MAX_TOKENS=512, DEFAULT_OVERLAP_TOKENS=50, DEFAULT_MIN_TOKENS=150)
  — the internal overlap default of 50 is kept only as a named constant; the
  public default remains 0.
- ``ParseOptions``: include/fast_pdf_parser/fast_pdf_parser.h:12-19
  (thread_count=hw, max_memory_per_page=50MB, batch_size=10).
  ``thread_count`` maps to Spark task parallelism, ``batch_size`` to the
  fold's working slice (``arrow_max_records_per_batch`` rows of each Arrow
  input batch), the per-page memory budget to Spark's own Arrow byte cap
  (``spark.sql.execution.arrow.maxBytesPerBatch``) and the giant-doc
  routing threshold. No option is applied by writing session conf. The
  reference's extract_positions/fonts projection flags are not options
  here: the pipeline selects only (doc_id, spans) before the fold, and
  ``pdf_lexer.extract_page_structured`` takes them as its own parameters.
"""

from __future__ import annotations

from dataclasses import dataclass, fields, replace


class _PartialUpdate:
    """setOptions-style partial update (src/binding.cc:136-161): only the
    fields present in the update change, the rest keep their current
    values; unknown names are rejected. Returns a NEW instance (these
    dataclasses are frozen — the getOptions/setOptions pair of the
    reference maps to value semantics here)."""

    def updated(self, **changes):
        known = {f.name for f in fields(self)}
        unknown = set(changes) - known
        if unknown:
            raise TypeError(
                f"unknown option(s): {sorted(unknown)}; valid: {sorted(known)}"
            )
        return replace(self, **changes)

# src/hierarchical_chunker.cpp:19-21
DEFAULT_MAX_TOKENS = 512
DEFAULT_INTERNAL_OVERLAP_TOKENS = 50  # never the public default
DEFAULT_MIN_TOKENS = 150


@dataclass(frozen=True)
class ChunkOptions(_PartialUpdate):
    """Chunking configuration (hierarchical_chunker.h:11-16)."""

    max_tokens: int = 512
    min_tokens: int = 150
    overlap_tokens: int = 0
    page_limit: int = 0  # 0 = no limit (src/hierarchical_chunker.cpp:592-594)

    def validate(self) -> None:
        # CLI validation semantics: src/chunk_pdf_cli.cpp:142-156
        if self.min_tokens > self.max_tokens:
            raise ValueError("min_tokens must be <= max_tokens")
        if self.overlap_tokens >= self.max_tokens:
            raise ValueError("overlap_tokens must be < max_tokens")


@dataclass(frozen=True)
class ParseOptions(_PartialUpdate):
    """Extraction/scale configuration (fast_pdf_parser.h:12-19), re-expressed
    as Spark knobs."""

    # Spark analogue of the reference thread pool size; 0 = leave the
    # session's parallelism alone.
    num_partitions: int = 0
    # Rows of each Arrow input batch the fold converts and folds at once
    # (zero-copy slices; <= 0 = the whole batch) — the analogue of the
    # reference's batch_size=10 (fast_pdf_parser.h:18). The JVM→Python
    # batch itself is bounded by Spark's maxBytesPerBatch, the analogue
    # of its 50MB-per-page budget (fast_pdf_parser.h:15).
    arrow_max_records_per_batch: int = 64
    # Giant-doc auto-routing threshold in span-text bytes (the Spark
    # analogue of the reference's per-page/batch memory budget,
    # fast_pdf_parser.h:15-18). 0 = off (every doc takes the zero-shuffle
    # contiguous path). When > 0, extract_documents size-buckets the
    # input with the cheap JVM-side span-bytes estimate and routes docs
    # at/above the threshold through the one-shuffle split path, so one
    # skewed document stops dictating executor memory shape for the
    # whole corpus (BENCH/GIANT_DOC_r6.json brackets the two paths).
    giant_doc_bytes: int = 0
