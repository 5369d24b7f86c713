"""pack_token_ids vs a single-process reference pack — exact equality.

The distributed pack (per-shard prefix sums + bounded explode +
group-reassembly) must produce BYTE-IDENTICAL sequences to the obvious
serial algorithm: concatenate ``encode(text)`` in doc_id order, cut every
seq_len tokens. Any drift in shard offsets, slice arithmetic, or piece
ordering shows up as a wrong id at some position.
"""

import pytest

from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
from fast_pdf_parser_spark.operators.packing import (
    encode_token_ids,
    pack_token_ids,
    write_packed_sequences,
)
from fast_pdf_parser_spark.util import materialize

TEXTS = [
    "The quick brown fox jumps over the lazy dog.",
    "Unicode: naïve café — 日本語テキスト 🚀 done.",
    "short",
    "   ",          # whitespace-only: must pack zero tokens
    "line one\nline two\n\nline four",
    "a " * 300,     # long doc straddling several sequences
    "punctuation!!! (parens) [brackets] {braces} #hash",
    "",             # empty: dropped
    "numbers 12345 67890 3.14159",
    "MiXeD CaSe TeXt WiTh OdD sPacing   and\ttabs",
    "\t\n \t\r\n",  # tab/newline-only: dropped (full whitespace strip,
                    # not just F.trim's ASCII-space semantics)
    "\xa0\u2028\x1c \x85",  # UNICODE-whitespace-only (+C0 seps): Python
                    # str.strip() drops it, so _pruned must too (r7 advice:
                    # the ASCII-only regex silently kept it)
]


def reference_pack(texts, seq_len):
    tok = get_tokenizer()
    stream = []
    for t in texts:
        if t.strip():
            stream.extend(tok.encode(t))
    return [stream[i:i + seq_len] for i in range(0, len(stream), seq_len)]


@pytest.fixture(scope="module")
def docs(spark):
    # doc_ids deliberately sparse + out of insertion order across several
    # prefix-sum shards (shard_width=3 below puts ~2 docs per shard)
    ids = [7, 2, 11, 23, 5, 17, 31, 13, 29, 3, 19, 37]
    assert len(ids) == len(TEXTS)  # zip would silently drop new fixtures
    rows = [(i, t) for i, t in zip(ids, TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def encoded(docs):
    """The real-tokenizer encoding, materialized as every costly encoding
    handed to the pack must be: the pack reads it in two plan branches."""
    enc = materialize(encode_token_ids(docs))
    try:
        yield enc
    finally:
        enc.unpersist()


def test_encode_matches_tokenizer_and_roundtrips(docs):
    tok = get_tokenizer()
    by_id = {r["doc_id"]: list(r["ids"])
             for r in encode_token_ids(docs).collect()}
    expect = {i: tok.encode(t)
              for i, t in zip([7, 2, 11, 23, 5, 17, 31, 13, 29, 3, 19, 37], TEXTS)
              if t.strip()}
    assert by_id == expect
    for i, t in zip([7, 2, 11, 23, 5, 17, 31, 13, 29, 3, 19, 37], TEXTS):
        if t.strip():
            assert tok.decode(by_id[i]) == t  # byte fallback inverts


@pytest.mark.parametrize("seq_len", [16, 64])
def test_pack_matches_reference_exactly(encoded, seq_len):
    got = {r["seq_id"]: r
           for r in pack_token_ids(encoded, seq_len=seq_len,
                                   shard_width=3).collect()}
    order = sorted(zip([7, 2, 11, 23, 5, 17, 31, 13, 29, 3, 19, 37], TEXTS))
    want = reference_pack([t for _, t in order], seq_len)
    assert set(got) == set(range(len(want)))
    for s, ids in enumerate(want):
        assert list(got[s]["ids"]) == ids, f"seq {s}"
        assert got[s]["n_tokens"] == len(ids)
    # every sequence except the last is exactly full
    for s in range(len(want) - 1):
        assert got[s]["n_tokens"] == seq_len


def test_write_packed_sequences_roundtrip(encoded, spark, tmp_path):
    """The durable training shards must read back byte-identical to the
    in-memory pack: same sequences, same ids, correct shard assignment,
    ordered streamable ranges."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "shards")
    back = write_packed_sequences(encoded, out, seq_len=16, seqs_per_shard=4,
                                  shard_width=3)
    mem = {r["seq_id"]: list(r["ids"])
           for r in pack_token_ids(encoded, seq_len=16, shard_width=3)
           .collect()}
    got = back.collect()
    assert {r["seq_id"]: list(r["ids"]) for r in got} == mem
    # shard = seq_id // seqs_per_shard, and partition pruning works
    assert all(r["shard"] == r["seq_id"] // 4 for r in got)
    # the documented loader contract: within a shard FILE, sequences are
    # stored in seq_id order (no .orderBy — raw file order is the claim)
    per_shard = {}
    for r in back.collect():  # collect preserves file row order per split
        per_shard.setdefault(r["shard"], []).append(r["seq_id"])
    for shard, seqs in per_shard.items():
        assert seqs == sorted(seqs), (shard, seqs)
    # an all-filtered corpus must read back empty, not crash
    empty = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    assert write_packed_sequences(
        encode_token_ids(empty), str(tmp_path / "empty_shards")).count() == 0
    pruned = back.filter(F.col("shard") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == min(4, len(mem))
    assert "PartitionFilters: [isnotnull(shard" in plan


def test_pack_plan_no_corpus_wide_single_partition(encoded):
    """The only SinglePartition exchange feeds the tiny one-row-per-shard
    offsets relation (same contract as text_pack_manifest's plan pin);
    the documents-scale stages are hash-partitioned, and the offsets join
    is a broadcast."""
    plan = pack_token_ids(encoded)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    singles = plan.split("Exchange SinglePartition")
    # at most the one shard-offsets running-sum stage
    assert len(singles) - 1 <= 1, plan
    # the pack runs no tokenizer: both branches read the materialized ids
    assert "encode_fold" not in plan and "count_fold" not in plan, plan
