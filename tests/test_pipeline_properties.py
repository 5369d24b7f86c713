"""Property-based tests for the full per-document fold (process_document)
and partition-invariance of the Spark pipeline.

Invariants for ARBITRARY interleaved span documents:

1. output offsets are exactly 0..n-1 (renumbered, contiguous);
2. the media subsequence (refs, in order) is preserved exactly;
3. chunk rows never carry media_ref, media rows never carry text;
4. doc-level meta is consistent: total_pages = #(text|pdf) spans,
   bytes_decoded > 0 iff any non-empty text;
5. the fold is a pure function of the ordered spans: shuffled input span
   order (same offsets) yields identical output;
6. (Spark) results are independent of physical partitioning.
"""

import string

import pandas as pd
from hypothesis import given, settings, strategies as st

from fast_pdf_parser_spark.config import ChunkOptions
from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
from fast_pdf_parser_spark.operators.pipeline import process_document

TOK = get_tokenizer()

text_body = st.text(alphabet=string.ascii_lowercase + " #\n-", max_size=120)
span = st.one_of(
    st.builds(lambda t: {"kind": "text", "text": t, "media_ref": None},
              text_body),
    st.builds(lambda i: {"kind": "media", "text": None,
                         "media_ref": f"media://{i}"},
              st.integers(0, 99)),
)
doc_spans = st.builds(
    lambda ss: [dict(s, offset=i) for i, s in enumerate(ss)],
    st.lists(span, min_size=0, max_size=10),
)


@settings(max_examples=80, deadline=None)
@given(spans=doc_spans)
def test_fold_invariants(spans):
    rows = process_document("d", spans, TOK, ChunkOptions(min_tokens=1))

    # 1. contiguous renumbered offsets
    assert [r[1] for r in rows] == list(range(len(rows)))

    # 2. media subsequence preserved in order
    expected_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    got_refs = [r[4] for r in rows if r[2] == "media"]
    assert got_refs == expected_refs

    # 3. column discipline
    for r in rows:
        if r[2] == "chunk":
            assert r[4] is None and r[3] is not None
        if r[2] == "media":
            assert r[3] is None

    # 4. doc meta
    if rows:
        total_pages = rows[0][12]
        assert total_pages == sum(1 for s in spans if s["kind"] != "media")

    # 5. input span order irrelevant (offsets define order)
    rows2 = process_document("d", list(reversed(spans)), TOK,
                             ChunkOptions(min_tokens=1))
    assert rows == rows2


def test_flush_batches_bounded_by_one_budget(monkeypatch):
    """Every batch _fold_batches emits must stay within ONE flush budget
    (plus at most one row of overshoot): completed-doc rows and a giant
    doc's mid-doc rows must never stack into a ~2x batch. Docs that
    individually fit under the budget must keep meta on every row, and
    the union of all batches must equal the non-streaming fold. Both input
    shapes: whole docs in one input batch, and the split path's one span
    per row across small input batches (the giant doc straddling them)."""
    from fast_pdf_parser_spark.operators import pipeline as P

    budget = 2000
    monkeypatch.setattr(P, "_FLUSH_CHARS", budget)
    monkeypatch.setattr(P, "_FLUSH_ROWS", 10 ** 9)

    # 8 docs x 3 pages x ~300 chars: each doc ~900 chars (< budget) but
    # any two stacked cross it; one giant doc (~5x budget) forces the
    # mid-doc path in the middle of the stream
    def page(i, n):
        return " ".join(f"w{i}x{k}" for k in range(n))

    docs = []
    for d in range(8):
        docs.append((f"d{d}", [
            {"kind": "text", "text": page(d * 3 + p, 40), "offset": p}
            for p in range(3)
        ]))
    docs.insert(4, ("giant", [
        {"kind": "text", "text": page(100 + p, 200), "offset": p}
        for p in range(8)
    ]))

    whole = [P._whole_docs([d[0] for d in docs], [d[1] for d in docs])]
    span_rows = [(doc_id, s) for doc_id, ss in docs for s in ss]
    split = [P._span_rows([r[0] for r in span_rows[i:i + 5]],
                          [r[1] for r in span_rows[i:i + 5]])
             for i in range(0, len(span_rows), 5)]
    for inputs in (whole, split):
        batches = list(P._fold_batches(inputs, TOK,
                                       ChunkOptions(min_tokens=1)))
        assert len(batches) > 3  # the budget actually exercised

        flat = []
        for b in batches:
            chars = sum(len(r[3] or "") for r in b)
            max_row = max((len(r[3] or "") for r in b), default=0)
            assert chars <= budget + max_row, (chars, budget, max_row)
            flat.extend(b)

        # non-giant docs: meta on EVERY row (never NULL-streamed just
        # because unrelated completed rows shared the buffer)
        for r in flat:
            if r[0] != "giant":
                assert r[12] is not None, r

        # union equality with the materialized fold, doc by doc
        by_doc: dict = {}
        for r in flat:
            by_doc.setdefault(r[0], []).append(r)
        for doc_id, doc_spans_ in docs:
            expect = P.process_document(doc_id, doc_spans_, TOK,
                                        ChunkOptions(min_tokens=1))
            got = sorted(by_doc[doc_id], key=lambda r: r[1])
            assert [g[:12] for g in got] == [e[:12] for e in expect]
            # the offset-0 row always carries final meta
            assert got[0][12:] == expect[0][12:]


def test_fold_flushes_completed_rows_per_input_batch():
    """On the contiguous path every completed row of input batch k leaves
    _fold_batches before batch k+1 is pulled: output never accumulates
    across input batches up to the flush budget."""
    from fast_pdf_parser_spark.operators import pipeline as P

    batches = [[(f"b{k}d{d}", [{"kind": "text", "media_ref": None,
                                "text": f"batch {k} doc {d} words",
                                "offset": 0}])
                for d in range(2)] for k in range(3)]
    pulled = []

    def inputs():
        for k, docs in enumerate(batches):
            pulled.append(k)
            yield P._whole_docs([d[0] for d in docs], [d[1] for d in docs])

    emitted = []  # (input batches pulled so far, doc_id) per output row
    for rows in P._fold_batches(inputs(), TOK, ChunkOptions(min_tokens=1)):
        emitted.extend((len(pulled), r[0]) for r in rows)
    assert sorted(d for _, d in emitted) == \
        sorted(d[0] for docs in batches for d in docs)
    for n_pulled, doc_id in emitted:
        assert n_pulled == int(doc_id[1]) + 1, (n_pulled, doc_id)


def test_spark_partition_invariance(spark):
    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs

    docs = list(iter_docs(30, seed=9))
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    key = ["doc_id", "offset", "kind", "text", "media_ref", "token_count"]
    a = sorted(tuple(r) for r in
               extract_documents(df.coalesce(1)).select(*key).collect())
    b = sorted(tuple(r) for r in
               extract_documents(df.repartition(11)).select(*key).collect())
    assert a == b


def test_split_path_byte_identical(spark):
    """The giant-doc split path (one row per span, shuffled by doc_id,
    fold state carried across input slices) must produce BYTE-IDENTICAL
    output to the zero-shuffle one-row-per-doc path — every column
    including the doc_* meta — with and without a page limit, over a
    corpus with text+pdf+media+html spans."""
    from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
    from fast_pdf_parser_spark.operators.pipeline import (
        extract_documents,
        extract_documents_split,
    )
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs

    docs = list(iter_docs(24, seed=13, include_pdf=True, include_html=True))
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    # 3-row fold slices make documents straddle slice boundaries in the
    # split processor (one span per row, so every document of more than
    # 3 spans crosses one) — the cross-slice fold-state carry is the point
    popts = ParseOptions(arrow_max_records_per_batch=3)
    from fast_pdf_parser_spark.operators.pipeline import split_spans_table

    pre = split_spans_table(df)  # the skew-tail STORAGE layout
    for opts in (ChunkOptions(), ChunkOptions(page_limit=3)):
        a = sorted(tuple(r) for r in
                   extract_documents(df, opts, popts).collect())
        b = sorted(tuple(r) for r in
                   extract_documents_split(df, opts, popts).collect())
        assert a == b
        c = sorted(tuple(r) for r in
                   extract_documents_split(pre, opts, popts).collect())
        assert a == c


def test_routed_extraction_byte_identical(spark):
    """ONE entry point, three physical routes: with giant_doc_bytes set,
    extract_documents size-buckets docs between the contiguous and split
    paths (threshold chosen so BOTH buckets are non-empty) and optionally
    unions a pre-split store — and the merged output must be
    byte-identical, every column, to the unrouted run over the same
    corpus."""
    from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
    from fast_pdf_parser_spark.operators.pipeline import (
        doc_bytes_estimate,
        extract_documents,
        split_spans_table,
    )
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs

    docs = list(iter_docs(24, seed=21, include_pdf=True, include_html=True))
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    opts = ChunkOptions()
    # median span-bytes threshold: both buckets genuinely populated
    sizes = sorted(r[0] for r in df.select(doc_bytes_estimate()).collect())
    thr = sizes[len(sizes) // 2]
    n_tail = sum(1 for s in sizes if s >= thr)
    assert 0 < n_tail < len(sizes)

    want = sorted(tuple(r) for r in extract_documents(df, opts).collect())
    routed = extract_documents(
        df, opts, ParseOptions(giant_doc_bytes=thr))
    assert sorted(tuple(r) for r in routed.collect()) == want

    # the pre-split store rides the SAME call: route a corpus whose tail
    # half lives pre-split and whose bulk half is contiguous
    est = doc_bytes_estimate()
    bulk_df = df.filter(est < thr)
    pre = split_spans_table(df.filter(est >= thr))
    merged = extract_documents(
        bulk_df, opts, ParseOptions(giant_doc_bytes=thr), split_df=pre)
    assert sorted(tuple(r) for r in merged.collect()) == want


def test_doc_bytes_estimate_null_safe(spark):
    """A NULL spans column must estimate 0, not NULL: the giant-doc
    routing filters compare the estimate in both directions
    (`est < thr` / `est >= thr`), and a NULL estimate fails BOTH
    predicates — the document would vanish from the routed union with no
    error, while the unrouted path hands the row to the fold (which
    fails loudly). Review finding, round 7."""
    from fast_pdf_parser_spark.operators.pipeline import doc_bytes_estimate
    from fast_pdf_parser_spark.sources.synth import SPANS_DDL

    df = spark.createDataFrame(
        [("d_null", None),
         ("d_page", [{"kind": "page", "text": "hello world",
                      "media_ref": None, "offset": 0}])],
        schema=SPANS_DDL,
    )
    est = dict(df.select("doc_id", doc_bytes_estimate()).collect())
    assert est["d_null"] == 0  # NOT None
    assert est["d_page"] == len(b"hello world")
    # bucket completeness: every row lands in exactly one routing bucket
    thr = 1
    bulk = df.filter(doc_bytes_estimate() < thr).count()
    tail = df.filter(doc_bytes_estimate() >= thr).count()
    assert bulk + tail == df.count() == 2
