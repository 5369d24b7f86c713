"""End-to-end pipeline tests: span-sequence equality (kind, text, media_ref,
order) per doc_id — the north-rule invariant (BASELINE.json).

Golden sequences are computed doc-by-doc with the pure-Python path
(process_document) — which is itself pinned by the hand-computed pass tests —
and the Spark pipeline must reproduce them EXACTLY through mapInArrow,
including media passthrough positions and output offset renumbering.
Edge-case docs from FIXTURES.md §3.2 are asserted literally.
"""

import pandas as pd
import pytest

from fast_pdf_parser_spark.config import ChunkOptions
from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
from fast_pdf_parser_spark.operators.pipeline import (
    extract_documents,
    process_document,
    results_meta,
    to_span_table,
)
from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs, make_doc


def golden_sequence(doc: dict, opts: ChunkOptions = ChunkOptions()):
    tok = get_tokenizer()
    rows = process_document(doc["doc_id"], doc["spans"], tok, opts)
    return [(r[1], r[2], r[3], r[4]) for r in rows]  # (offset, kind, text, ref)


@pytest.fixture(scope="module")
def corpus_df(spark):
    docs = list(iter_docs(40, seed=42))
    pdf = pd.DataFrame(docs, columns=["doc_id", "spans"])
    return spark.createDataFrame(pdf, schema=SPANS_DDL), docs


def test_span_sequence_equality(spark, corpus_df):
    df, docs = corpus_df
    result = extract_documents(df)
    got = {}
    for row in result.collect():
        got.setdefault(row.doc_id, []).append(
            (row.offset, row.kind, row.text, row.media_ref)
        )
    for doc in docs:
        expected = golden_sequence(doc)
        actual = sorted(got.get(doc["doc_id"], []))
        assert actual == expected, f"span mismatch for {doc['doc_id']}"


def test_media_interleave_positions(spark):
    # FIXTURES.md edge_media_interleave: head/middle/tail media pass through
    page = "# T\n" + "alpha beta gamma delta. " * 60
    doc = {
        "doc_id": "edge_media_interleave",
        "spans": [
            {"kind": "media", "text": None, "media_ref": "media://a", "offset": 0},
            {"kind": "text", "text": page, "media_ref": None, "offset": 1},
            {"kind": "media", "text": None, "media_ref": "media://b", "offset": 2},
            {"kind": "text", "text": page, "media_ref": None, "offset": 3},
            {"kind": "media", "text": None, "media_ref": "media://c", "offset": 4},
        ],
    }
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    rows = sorted(extract_documents(df).collect(), key=lambda r: r.offset)
    kinds = [r.kind for r in rows]
    refs = [r.media_ref for r in rows if r.kind == "media"]
    # media at head/tail, chunks between; media b separates the two runs
    assert kinds[0] == "media" and kinds[-1] == "media"
    assert refs == ["media://a", "media://b", "media://c"]
    assert [r.offset for r in rows] == list(range(len(rows)))
    # a media span between text spans breaks the chunking run: the two text
    # pages never merge into one chunk
    b_pos = kinds.index("media", 1)
    assert "chunk" in kinds[1:b_pos] and "chunk" in kinds[b_pos + 1 : -1]


def test_all_media_doc(spark):
    doc = {
        "doc_id": "edge_all_media",
        "spans": [
            {"kind": "media", "text": None, "media_ref": f"media://{i}", "offset": i}
            for i in range(3)
        ],
    }
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    rows = sorted(extract_documents(df).collect(), key=lambda r: r.offset)
    assert [(r.kind, r.media_ref) for r in rows] == [
        ("media", "media://0"), ("media", "media://1"), ("media", "media://2")
    ]


def test_empty_pages_dropped(spark):
    doc = {
        "doc_id": "edge_empty_pages",
        "spans": [
            {"kind": "text", "text": "", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "some real content here", "media_ref": None,
             "offset": 1},
            {"kind": "text", "text": "", "media_ref": None, "offset": 2},
        ],
    }
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    rows = extract_documents(df, ChunkOptions(max_tokens=512, min_tokens=1)).collect()
    assert len(rows) == 1 and rows[0].kind == "chunk"
    assert rows[0].start_page == 1 and rows[0].end_page == 1


def test_page_limit_pushdown(spark):
    doc = make_doc(7, seed=42)
    n = 2
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    limited = extract_documents(df, ChunkOptions(page_limit=n))
    expected = golden_sequence(doc, ChunkOptions(page_limit=n))
    actual = sorted(
        (r.offset, r.kind, r.text, r.media_ref) for r in limited.collect()
    )
    assert actual == expected
    # the slice sits below the UDF in the declared plan (on a LocalRelation
    # source Catalyst may then constant-fold it — also fine)
    plan = limited._jdf.queryExecution().analyzed().toString()
    assert "slice" in plan
    assert plan.index("slice") > plan.index("MapInArrow")  # UDF's child


def test_span_sequence_equality_all_kinds(spark):
    # the "everything" corpus: pdf + html + text + media spans interleaved
    # in the same documents — the full north-rule invariant in one run
    docs = [make_doc(i, seed=99, include_pdf=True, include_html=True)
            for i in range(30)]
    kinds = {s["kind"] for d in docs for s in d["spans"]}
    assert {"text", "pdf", "html", "media"} <= kinds
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    got = {}
    for row in extract_documents(df).collect():
        got.setdefault(row.doc_id, []).append(
            (row.offset, row.kind, row.text, row.media_ref))
    for doc in docs:
        expected = golden_sequence(doc)
        assert sorted(got.get(doc["doc_id"], [])) == expected, doc["doc_id"]


def test_page_limit_pushdown_unordered_storage(spark):
    # the pushdown slice must select by OFFSET order, not stored order:
    # a doc whose span array is stored reversed yields the same output as
    # the in-order doc, with and without page_limit
    doc = make_doc(6, seed=7)
    reversed_doc = {
        "doc_id": doc["doc_id"],
        "spans": list(reversed(doc["spans"])),
    }
    for opts in (ChunkOptions(page_limit=3), ChunkOptions()):
        expected = golden_sequence(doc, opts)
        df = spark.createDataFrame(
            pd.DataFrame([reversed_doc]), schema=SPANS_DDL
        )
        actual = sorted(
            (r.offset, r.kind, r.text, r.media_ref)
            for r in extract_documents(df, opts).collect()
        )
        assert actual == expected


def test_page_limit_duplicate_offsets_deterministic(spark):
    # (out-of-contract) duplicate offsets: the pushdown's comparator sort
    # and process_document's stable sorted() share the (offset, kind, text)
    # tiebreak, so the limited subset is byte-identical however the array
    # is stored
    spans = [
        {"kind": "text", "text": "bbb page", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "aaa page", "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "media://img/x.png",
         "offset": 0},
        {"kind": "text", "text": "ccc page", "media_ref": None, "offset": 1},
    ]
    opts = ChunkOptions(page_limit=2, min_tokens=1)
    for order in (spans, list(reversed(spans))):
        doc = {"doc_id": "dup", "spans": order}
        expected = golden_sequence(
            {"doc_id": "dup", "spans": spans}, opts)
        df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
        actual = sorted(
            (r.offset, r.kind, r.text, r.media_ref)
            for r in extract_documents(df, opts).collect()
        )
        assert actual == expected


def test_overlap_configured(spark):
    # FIXTURES.md edge_overlap_on: overlap populated, text unchanged
    # multi-unit pages (headings every few lines) so chunks stay under max
    # and never take the pass-6 split path, which resets overlap fields on
    # oversized chunks (faithful to Chunk() re-creation at
    # hierarchical_chunker.cpp:321,337)
    def page(tag):
        blocks = []
        for i in range(8):
            blocks.append(f"### {tag} part {i}")
            blocks += [f"{tag} alpha beta gamma delta epsilon zeta."] * 2
        return "\n".join(blocks)

    pages = [
        {"kind": "text", "text": page("one"), "media_ref": None, "offset": 0},
        {"kind": "text", "text": page("two"), "media_ref": None, "offset": 1},
    ]
    doc = {"doc_id": "edge_overlap_on", "spans": pages}
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    opts = ChunkOptions(max_tokens=128, min_tokens=32, overlap_tokens=50)
    rows = sorted(extract_documents(df, opts).collect(), key=lambda r: r.offset)
    assert len(rows) >= 2
    assert rows[0].overlap_text is None  # first chunk has no overlap
    assert rows[1].overlap_tokens <= 50 and rows[1].overlap_text
    # overlap never concatenated into text (hierarchical_chunker.cpp:225-246)
    assert not rows[1].text.startswith(rows[1].overlap_text)


def test_results_meta_and_span_table(spark, corpus_df):
    df, docs = corpus_df
    result = extract_documents(df)
    meta = {r.doc_id: r for r in results_meta(result).collect()}
    doc = docs[0]
    n_pages = sum(1 for s in doc["spans"] if s["kind"] != "media")
    assert meta[doc["doc_id"]].total_pages == n_pages
    assert meta[doc["doc_id"]].parse_failures == 0

    nested = to_span_table(result)
    row = nested.filter(nested.doc_id == doc["doc_id"]).collect()[0]
    offsets = [s.offset for s in row.spans]
    assert offsets == list(range(len(offsets)))


def test_zero_shuffle_plan(spark, corpus_df):
    """The flagship pipeline must not shuffle: one Arrow-UDF stage."""
    df, _ = corpus_df
    plan = extract_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # no groupBy needed
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_unknown_kind_passthrough(spark):
    doc = {
        "doc_id": "edge_unknown_kind",
        "spans": [
            {"kind": "text", "text": "alpha beta gamma", "media_ref": None,
             "offset": 0},
            {"kind": "video", "text": None, "media_ref": "media://v/1.mp4",
             "offset": 1},
        ],
    }
    df = spark.createDataFrame(pd.DataFrame([doc]), schema=SPANS_DDL)
    rows = sorted(
        extract_documents(df, ChunkOptions(min_tokens=1)).collect(),
        key=lambda r: r.offset,
    )
    assert [r.kind for r in rows] == ["chunk", "video"]
    assert rows[1].media_ref == "media://v/1.mp4"
