"""Convenience-API tests (the reference's chunkPdf-style surface)."""

from fast_pdf_parser_spark.api import (
    chunk_document,
    chunk_markdown,
    chunk_pdf_bytes,
)
from fast_pdf_parser_spark.config import ChunkOptions
from fast_pdf_parser_spark.sources.pdf_builder import build_pdf
from fast_pdf_parser_spark.sources.synth import page_text


def test_chunk_pdf_bytes_success():
    pdf = build_pdf(page_text(2, 0), "api-1")
    res = chunk_pdf_bytes(pdf)
    assert res["error"] == ""
    assert res["total_pages"] == 1
    assert res["total_chunks"] == len(res["chunks"]) > 0
    c = res["chunks"][0]
    assert c["text"] and c["token_count"] > 0
    assert c["start_page"] == c["end_page"] == 0
    assert res["processing_time_ms"] >= 0


def test_chunk_pdf_bytes_error_contained():
    res = chunk_pdf_bytes(b"not a pdf at all")
    assert res["chunks"] == [] and res["total_chunks"] == 0
    assert res["error"].startswith("Error chunking PDF:")


def test_chunk_pdf_page_limit():
    pdf = build_pdf(page_text(2, 0), "api-2")
    res = chunk_pdf_bytes(pdf, ChunkOptions(page_limit=0))
    res_limited = chunk_pdf_bytes(pdf, ChunkOptions(page_limit=1))
    assert res_limited["total_pages"] == 1
    assert res_limited["chunks"] == res["chunks"]  # single-page doc


def test_chunk_markdown_matches_core():
    text = page_text(3, 0)
    res = chunk_markdown(text)
    assert res["total_chunks"] > 0
    joined = "".join(c["text"] for c in res["chunks"])
    assert "# Chapter 1" in joined


def test_chunk_document_media_interleave():
    spans = [
        {"kind": "media", "text": None, "media_ref": "m://a", "offset": 0},
        {"kind": "text", "text": "# T\nsome body text", "media_ref": None,
         "offset": 1},
    ]
    rows = chunk_document(spans, ChunkOptions(min_tokens=1))
    assert [r[2] for r in rows] == ["media", "chunk"]


def test_options_partial_update():
    # setOptions semantics (src/binding.cc:136-161): only provided fields
    # change; unknown names rejected; original instance untouched (frozen)
    import pytest

    from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions

    base = ChunkOptions(max_tokens=400)
    upd = base.updated(min_tokens=200)
    assert upd == ChunkOptions(max_tokens=400, min_tokens=200)
    assert base.min_tokens == 150
    with pytest.raises(TypeError, match="threadCount"):
        base.updated(threadCount=4)
    upd.validate()
    with pytest.raises(ValueError):
        base.updated(min_tokens=500).validate()
    assert ParseOptions().updated(num_partitions=8).num_partitions == 8
    for removed in ("arrow_native", "extract_positions", "extract_fonts"):
        with pytest.raises(TypeError, match=removed):
            ParseOptions().updated(**{removed: True})
