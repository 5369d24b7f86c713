"""Session hygiene: the library leaves the caller's session as it found it.

The fold bounds its own working slice (``arrow_max_records_per_batch``
travels in the processor's closure) and the band probe reads the parquet
In-pushdown threshold instead of raising it, so no library call writes
session conf, and two lazy extracts with different options each run with
their own.
"""

import pathlib

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

import fast_pdf_parser_spark
from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions
from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
from fast_pdf_parser_spark.operators import pipeline as P
from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs


def _snapshot(session):
    return (dict(session.conf.getAll),
            {t.name for t in session.catalog.listTables() if t.isTemporary})


def test_library_writes_no_session_conf():
    """No module of the package writes or unsets session conf."""
    root = pathlib.Path(fast_pdf_parser_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".conf.set(" in line or ".conf.unset(" in line
    ]
    assert offenders == []


def test_fold_slices_each_input_batch(spark):
    """One Arrow batch of 12 documents is folded in slices of at most
    ``max_records`` rows, with the completed rows flushed after each
    slice; the rows themselves do not depend on the slice size
    (<= 0: the whole batch is one slice). Runs in-process: the session is
    needed only to parse the DDL."""
    docs = list(iter_docs(12, seed=5, include_pdf=True, include_html=True))
    schema = to_arrow_schema(_parse_datatype_string(SPANS_DDL))
    batch = pa.RecordBatch.from_pylist(docs, schema=schema)

    def fold(max_records):
        proc = P._make_processor(ChunkOptions(), None, "spans",
                                 P._whole_docs, max_records)
        return [b.to_pylist() for b in proc(iter([batch]))]

    # every document emits at least one row, so every slice flushes
    runs = {n: fold(n) for n in (1, 5, 64, 0)}
    assert [len(runs[n]) for n in (1, 5, 64, 0)] == [12, 3, 1, 1]
    rows = [sum(runs[n], []) for n in runs]
    assert all(r == rows[0] for r in rows[1:])


def test_two_extracts_keep_their_own_batch_size(spark):
    """Two lazy extracts built with different ``arrow_max_records_per_batch``
    before either runs both equal process_document, and the session conf
    is unchanged."""
    from fast_pdf_parser_spark.operators.pipeline import (
        extract_documents,
        process_document,
    )

    docs = list(iter_docs(12, seed=7, include_pdf=True, include_html=True))
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    before = dict(spark.conf.getAll)
    one, many = (
        extract_documents(df, ChunkOptions(),
                          ParseOptions(arrow_max_records_per_batch=n))
        for n in (1, 64))
    tok = get_tokenizer()
    want = sorted(row for d in docs for row in process_document(
        d["doc_id"], d["spans"], tok, ChunkOptions()))
    assert sorted(tuple(r) for r in one.collect()) == want
    assert sorted(tuple(r) for r in many.collect()) == want
    assert dict(spark.conf.getAll) == before


def test_extract_and_probe_leave_both_sessions_alone(spark, tmp_path):
    """An extract and a band probe on ``spark.newSession()`` change neither
    that session's nor the parent session's conf or temp views."""
    from fast_pdf_parser_spark.operators.pipeline import extract_documents
    from fast_pdf_parser_spark.plans.checkpoint import (
        probe_band_table,
        read_band_table,
        write_docs_bucketed,
    )

    texts = [f"doc {i} " + " ".join(f"w{(i * 7 + j) % 40}" for j in range(30))
             for i in range(8)]
    clean = spark.createDataFrame(
        [(i, "web", i, t, "train") for i, t in enumerate(texts)],
        "doc_id bigint, source string, clean_hash bigint, "
        "clean_text string, split string")
    out = str(tmp_path / "sink")
    write_docs_bucketed(spark, clean, out, run_id="iso", num_buckets=2,
                        write_bands=True)

    other = spark.newSession()
    before = [_snapshot(spark), _snapshot(other)]
    docs = list(iter_docs(6, seed=3))
    corpus = other.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    assert extract_documents(corpus).count() > 0
    # 3 documents x 4 bands: more keys than the default In threshold (10)
    batch = read_band_table(other, out).filter("doc_id < 3")
    probed = probe_band_table(other, out, batch)
    assert probed.count() >= batch.count() == 12
    assert [_snapshot(spark), _snapshot(other)] == before
