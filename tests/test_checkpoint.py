"""Checkpoint/resume tests: per-partition lineage rows, crash simulation,
resume-from-partition against the log's 'done' buckets, idempotent
re-runs."""

import os

import pandas as pd
import pytest

from fast_pdf_parser_spark.plans.checkpoint import (
    completed_buckets,
    lineage,
    run_with_checkpoint,
    with_bucket,
)
from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs


@pytest.fixture(scope="module")
def corpus(spark):
    docs = list(iter_docs(30, seed=7))
    return spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)


def test_bucket_assignment_stable(spark, corpus):
    a = {r.doc_id: r.bucket for r in with_bucket(corpus, 8).collect()}
    b = {r.doc_id: r.bucket
         for r in with_bucket(corpus.repartition(13), 8).collect()}
    assert a == b  # content-derived, independent of physical layout


def test_crash_and_resume(spark, corpus, tmp_path):
    out = str(tmp_path / "run")
    n_buckets = 4

    # first attempt crashes on the 3rd bucket (sequential mode so exactly
    # the buckets before the crash are durable)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(spark, corpus, out, run_id="r1",
                            num_buckets=n_buckets, fail_on_bucket=2,
                            max_concurrent_buckets=1)
    done_before = completed_buckets(spark, out + "/checkpoint", "r1")
    assert done_before == {0, 1}

    # resume completes only the remaining buckets
    result = run_with_checkpoint(spark, corpus, out, run_id="r1",
                                 num_buckets=n_buckets)
    done_after = completed_buckets(spark, out + "/checkpoint", "r1")
    assert done_after == {0, 1, 2, 3}

    # output covers every doc exactly once
    n_docs = result.select("doc_id").distinct().count()
    assert n_docs == corpus.count()

    # lineage metrics are populated and per-bucket
    lin = lineage(spark, out).filter("run_id = 'r1'").collect()
    assert sorted(r.partition_id for r in lin) == [0, 1, 2, 3]
    assert all(r.status == "done" and r.wall_ms >= 0 for r in lin)
    assert sum(r.docs_parsed for r in lin) == n_docs
    assert all(r.bytes_decoded > 0 for r in lin)


def test_rerun_is_noop(spark, corpus, tmp_path):
    out = str(tmp_path / "run2")
    run_with_checkpoint(spark, corpus, out, run_id="r2", num_buckets=2)
    lin1 = lineage(spark, out).count()
    run_with_checkpoint(spark, corpus, out, run_id="r2", num_buckets=2)
    assert lineage(spark, out).count() == lin1  # nothing re-processed


def _job_count(spark, fn) -> int:
    """Spark jobs *fn* runs, counted under its own job group (a fresh
    name: an ``id()`` can be reused and would count an older group's
    jobs too)."""
    import uuid

    sc = spark.sparkContext
    group = f"job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_reads_log_once(spark, corpus, tmp_path):
    """Every log consumer goes through ONE driver-side read of the log:
    resuming a completed sink runs exactly one Spark job (the log
    collect), and a log that does not exist yet runs none."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        _log_state,
        write_docs_bucketed,
    )

    out = str(tmp_path / "run_once")
    assert _job_count(spark, lambda: _log_state(
        spark, out + "/checkpoint", "r")) == 0
    assert _job_count(spark, lambda: lineage(spark, out).filter(
        "status = 'done'").collect()) == 0
    run_with_checkpoint(spark, corpus, out, run_id="r", num_buckets=8,
                        max_concurrent_buckets=4)
    assert _job_count(spark, lambda: run_with_checkpoint(
        spark, corpus, out, run_id="r", num_buckets=8,
        max_concurrent_buckets=4)) == 1

    clean = str(tmp_path / "clean_once")
    docs = _clean_docs(spark, n=6)
    write_docs_bucketed(spark, docs, clean, run_id="c", num_buckets=3,
                        write_bands=True)
    assert _job_count(spark, lambda: write_docs_bucketed(
        spark, docs, clean, run_id="c", num_buckets=3,
        write_bands=True)) == 1


@pytest.mark.parametrize("wave,jobs", [(4, 3), (1, 9)])
def test_wave_is_one_job(spark, corpus, tmp_path, wave, jobs):
    """A fresh 8-bucket run is the staging write plus ONE write job per
    wave: stats are observed during the write and the driver commits the
    lineage file without a job."""
    out = str(tmp_path / f"one_job_{wave}")
    assert _job_count(spark, lambda: run_with_checkpoint(
        spark, corpus, out, run_id="r", num_buckets=8,
        max_concurrent_buckets=wave)) == jobs
    assert completed_buckets(spark, out + "/checkpoint", "r") == set(range(8))


def _stats_corpus(spark):
    """Five docs over 8 buckets (so some bucket is empty); doc 0's first
    pdf span is truncated, i.e. a parse failure."""
    from fast_pdf_parser_spark.sources.synth import make_doc

    docs = [make_doc(i, 3, include_pdf=True, corrupt_doc_idx=0)
            for i in range(5)]
    return spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)


@pytest.mark.parametrize("sink", ["extract", "clean", "compact"])
def test_lineage_stats_equal_written_rows(spark, tmp_path, sink):
    """Each writer's lineage stats, observed during its write, equal the
    per-bucket (docs, bytes, failures) recomputed from what it wrote; a
    bucket without docs has a zero row (a 'compacted' commit names only
    buckets with docs)."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        compact_sink,
        read_clean,
        write_docs_bucketed,
    )

    out = str(tmp_path / f"stats_{sink}")
    n = 8 if sink == "extract" else 4
    status = "compacted" if sink == "compact" else "done"
    want = dict.fromkeys(range(n), (0, 0, 0))
    if sink == "extract":
        result = run_with_checkpoint(spark, _stats_corpus(spark), out,
                                     run_id="s", num_buckets=n,
                                     max_concurrent_buckets=3)
        per_doc = {(r.bucket, r.doc_id): (r.doc_bytes_decoded,
                                          r.doc_parse_failures)
                   for r in result.collect()}
        for (b, _), (nbytes, fails) in per_doc.items():
            d, y, f = want[b]
            want[b] = (d + 1, y + nbytes, f + fails)
        assert any(f for _, _, f in want.values())
    else:
        write_docs_bucketed(spark, _clean_docs(spark, n=3), out, run_id="s",
                            num_buckets=n, write_bands=True)
        if sink == "compact":
            compact_sink(spark, out, run_id="opt")
        for r in read_clean(spark, out).collect():
            d, y, _ = want[r.bucket]
            want[r.bucket] = (d + 1, y + len(r.clean_text.encode()), 0)
        if sink == "compact":
            want = {b: w for b, w in want.items() if w[0]}
    assert len(want) < n or any(not w[0] for w in want.values())
    got = {r.partition_id: (r.docs_parsed, r.bytes_decoded, r.parse_failures)
           for r in lineage(spark, out).filter(f"status = '{status}'")
           .collect()}
    assert got == want


def test_matches_direct_pipeline(spark, corpus, tmp_path):
    from fast_pdf_parser_spark.operators.pipeline import extract_documents

    out = str(tmp_path / "run3")
    ck = run_with_checkpoint(spark, corpus, out, run_id="r3", num_buckets=3)
    direct = extract_documents(corpus)
    key = ["doc_id", "offset", "kind", "text", "media_ref"]
    a = sorted(tuple(r) for r in ck.select(*key).collect())
    b = sorted(tuple(r) for r in direct.select(*key).collect())
    assert a == b


def test_concurrent_crash_and_resume(spark, corpus, tmp_path):
    """With concurrent buckets, a crash still never records a lineage row
    for the failed bucket, and resume completes exactly the missing ones."""
    out = str(tmp_path / "run_cc")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(spark, corpus, out, run_id="cc",
                            num_buckets=4, fail_on_bucket=1,
                            max_concurrent_buckets=3)
    done = completed_buckets(spark, out + "/checkpoint", "cc")
    assert 1 not in done  # the failed bucket is never 'done'

    result = run_with_checkpoint(spark, corpus, out, run_id="cc",
                                 num_buckets=4, max_concurrent_buckets=3)
    assert completed_buckets(spark, out + "/checkpoint", "cc") == {0, 1, 2, 3}
    assert result.select("doc_id").distinct().count() == corpus.count()
    # exactly one lineage row per bucket despite concurrency
    lin = lineage(spark, out).filter("run_id = 'cc'")
    assert sorted(r.partition_id for r in lin.collect()) == [0, 1, 2, 3]


def test_wave_crash_commits_only_earlier_waves(spark, corpus, tmp_path):
    """Buckets commit in waves of max_concurrent_buckets: a failure in the
    second wave leaves exactly the first wave durable (no later bucket
    slips in), and resume completes the rest with every doc once."""
    from fast_pdf_parser_spark.operators.pipeline import extract_documents

    out = str(tmp_path / "run_wave")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(spark, corpus, out, run_id="rw", num_buckets=4,
                            fail_on_bucket=2, max_concurrent_buckets=2)
    assert completed_buckets(spark, out + "/checkpoint", "rw") == {0, 1}

    result = run_with_checkpoint(spark, corpus, out, run_id="rw",
                                 num_buckets=4, max_concurrent_buckets=2)
    assert completed_buckets(spark, out + "/checkpoint", "rw") == {0, 1, 2, 3}
    lin = lineage(spark, out).collect()
    assert sorted(r.partition_id for r in lin) == [0, 1, 2, 3]
    key = ["doc_id", "offset", "kind", "text", "media_ref"]
    got = sorted(tuple(r) for r in result.select(*key).collect())
    want = sorted(tuple(r) for r in
                  extract_documents(corpus).select(*key).collect())
    assert got == want


def _assert_only_committed(spark, out, *roots):
    """Every ``attempt=N/bucket=K`` dir on disk under *roots* is the
    committed pair for K: N is the highest attempt K's lineage rows name."""
    import glob as globmod

    committed = {}
    for r in lineage(spark, out).filter("attempt IS NOT NULL").collect():
        committed[r.partition_id] = max(r.attempt,
                                        committed.get(r.partition_id, 0))
    for root in roots:
        for d in globmod.glob(f"{out}/{root}/attempt=*/bucket=*"):
            n, k = (int(p.split("=")[1]) for p in d.split("/")[-2:])
            assert committed[k] == n, d


def _lose_log_file(path):
    """Lose one lineage file as a real loss would: with its Hadoop
    ``.crc`` sidecar (a stale sidecar would block the rerun's commit of
    the same ``attempt-NNNNN.parquet`` name)."""
    os.remove(path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_recommit_over_a_stale_crc_sidecar(spark, tmp_path):
    """A lineage file deleted without its Hadoop ``.crc`` sidecar (a plain
    ``rm``) leaves the sidecar behind: the rerun's commit of the same name
    drops it, lands, and the log reads back — instead of moving the data
    onto the stale sidecar, raising, and failing every later read's
    checksum."""
    import time

    from fast_pdf_parser_spark.plans.checkpoint import _append_lineage

    out = str(tmp_path / "stale_crc")
    _append_lineage(spark, out, "r", {0: (1, 2, 0)}, time.time(), 1)
    os.remove(out + "/checkpoint/attempt-00001.parquet")
    assert os.path.exists(out + "/checkpoint/.attempt-00001.parquet.crc")
    _append_lineage(spark, out, "r", {0: (3, 4, 0)}, time.time(), 1)
    assert [(r.docs_parsed, r.bytes_decoded)
            for r in lineage(spark, out).collect()] == [(3, 4)]


def _crash_before_lineage(out, root, bucket):
    """The state a crash after a wave's data write and before its lineage
    append leaves, here on a rerun whose job also died between task commit
    and job commit: the lineage file(s) holding *bucket*'s row are gone,
    and a committed task's copy of the bucket's files waits under
    ``<root>/_temporary`` — which must never surface."""
    import glob as globmod
    import shutil

    dropped = 0
    for f in globmod.glob(out + "/checkpoint/*.parquet"):
        if bucket in set(pd.read_parquet(f)["partition_id"]):
            _lose_log_file(f)
            dropped += 1
    assert dropped >= 1
    base = os.path.join(out, root)
    task = os.path.join(base, "_temporary", "0",
                        "task_202601010000_0001_m_000000")
    files = globmod.glob(f"{base}/attempt=*/bucket={bucket}/**/*.parquet",
                         recursive=True)
    assert files
    for f in files:
        dst = os.path.join(task, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)


@pytest.mark.parametrize("sink", ["extract", "clean"])
def test_lost_lineage_reruns_wave_without_duplicates(spark, corpus, tmp_path,
                                                     sink):
    """Data durable, lineage lost: the rerun of the same run_id recommits
    the wave in a fresh attempt (stale uncommitted job output never
    surfaces) — output equal to the first run (no duplicated rows, bands
    included), one 'done' row per bucket, and only committed attempts left
    on disk."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        write_docs_bucketed,
    )

    out = str(tmp_path / f"lost_{sink}")
    if sink == "extract":
        n = 4

        def run():
            res = run_with_checkpoint(spark, corpus, out, run_id="ll",
                                      num_buckets=n, max_concurrent_buckets=2)
            return sorted(tuple(r) for r in res.drop("bucket").collect())
    else:
        n = 3
        docs = _clean_docs(spark)

        def run():
            res = write_docs_bucketed(spark, docs, out, run_id="ll",
                                      num_buckets=n, write_bands=True)
            return (sorted(tuple(r) for r in res.collect()),
                    sorted(tuple(r) for r in
                           read_band_table(spark, out).collect()))

    first = run()
    _crash_before_lineage(out, "spans" if sink == "extract" else "clean",
                          n - 1)
    assert completed_buckets(spark, out + "/checkpoint", "ll") != set(range(n))
    assert run() == first
    done = lineage(spark, out).filter("status = 'done'").collect()
    assert sorted(r.partition_id for r in done) == list(range(n))
    _assert_only_committed(spark, out, "spans", "clean", "bands")


def test_staged_copy_cleaned_up_after_completion(spark, corpus, tmp_path):
    """ADVICE r3: the staged bucketed copy must not outlive the run — it
    doubles input-sized storage per run configuration otherwise."""
    import os

    out = str(tmp_path / "run_clean")
    run_with_checkpoint(spark, corpus, out, run_id="rc", num_buckets=2)
    assert not os.path.exists(os.path.join(out, "staged", "rc_b2"))
    # ...while the actual output and checkpoint remain durable
    assert os.path.exists(os.path.join(out, "spans"))
    assert os.path.exists(os.path.join(out, "checkpoint"))


def test_staged_copy_survives_crash_for_resume(spark, corpus, tmp_path):
    """Cleanup happens only after ALL pending buckets complete: a crashed
    run keeps the staged copy so the resume doesn't pay a second full
    scan+write of the input."""
    import os

    out = str(tmp_path / "run_crash_keep")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_with_checkpoint(spark, corpus, out, run_id="rk", num_buckets=3,
                            fail_on_bucket=1, max_concurrent_buckets=1)
    assert os.path.exists(os.path.join(out, "staged", "rk_b3", "_SUCCESS"))
    run_with_checkpoint(spark, corpus, out, run_id="rk", num_buckets=3)
    assert not os.path.exists(os.path.join(out, "staged", "rk_b3"))


def test_clean_corpus_write_crash_and_resume(spark, tmp_path):
    """write_clean_corpus end-to-end: a crash mid-write resumes with no
    duplicates and no losses (bucket anti-join idiom), the written corpus
    equals the direct final_keep=1 query, lineage covers every bucket,
    and the gates staging does not outlive the run."""
    import os

    import pytest

    import __spark_entry__ as entrymod
    from fast_pdf_parser_spark.operators.relational import spark_sql
    from fast_pdf_parser_spark.plans.checkpoint import (
        lineage,
        write_clean_corpus,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("driver testdata not present")
    entrymod._prepare(spark, sf)

    out = str(tmp_path / "clean_run")
    with pytest.raises(RuntimeError, match="simulated failure"):
        write_clean_corpus(spark, out, run_id="cw", num_buckets=3,
                           fail_on_bucket=1)
    # crashed run keeps the staged gates for the resume
    assert os.path.exists(os.path.join(out, "gates", "cw_b3", "_SUCCESS"))

    clean = write_clean_corpus(spark, out, run_id="cw", num_buckets=3)
    got = [r.doc_id for r in clean.select("doc_id").collect()]
    want = {r.doc_id for r in
            spark.sql(spark_sql("pipeline_clean_corpus"))
            .filter("final_keep = 1").select("doc_id").collect()}
    assert len(got) == len(set(got)), "duplicate docs after resume"
    assert set(got) == want, "written corpus != final_keep=1 set"
    # split is a real partition column on the artifact
    assert set(clean.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"}
    # lineage: one done row per bucket; gates staging collected
    done = lineage(spark, out).filter("status = 'done'")
    assert {r.partition_id for r in done.collect()} == {0, 1, 2}
    assert not os.path.exists(os.path.join(out, "gates", "cw_b3"))
    # idempotent no-op rerun: same corpus, nothing rewritten as dupes
    again = write_clean_corpus(spark, out, run_id="cw", num_buckets=3)
    assert again.count() == len(got)


def test_clean_corpus_all_filtered_reads_back_empty(spark, tmp_path):
    """A corpus where NO document reaches final_keep=1 must still complete
    durably and read back as an EMPTY DataFrame with the real schema —
    not crash schema inference over _SUCCESS-only bucket dirs."""
    import pandas as pd

    from fast_pdf_parser_spark.plans.checkpoint import write_clean_corpus

    # every doc fails the >=50-words quality gate
    docs = pd.DataFrame({
        "doc_id": range(6),
        "source": ["s"] * 6,
        "text": ["too short to pass"] * 6,
    })
    spark.createDataFrame(docs).createOrReplaceTempView("documents")
    out = str(tmp_path / "clean_empty")
    clean = write_clean_corpus(spark, out, run_id="ce", num_buckets=2)
    assert clean.count() == 0
    assert set(clean.columns) >= {"doc_id", "source", "split", "clean_text"}


def test_orphaned_staged_dir_collected_on_noop_resume(spark, corpus, tmp_path):
    """ADVICE r4: a crash AFTER the last bucket's lineage append but BEFORE
    staged cleanup leaves pending=[] on resume — the resume must still
    delete the orphaned staged directory, not skip cleanup."""
    import os

    out = str(tmp_path / "run_orphan")
    run_with_checkpoint(spark, corpus, out, run_id="ro", num_buckets=2)
    # simulate the crash window: resurrect the staged dir post-completion
    staged = os.path.join(out, "staged", "ro_b2")
    os.makedirs(staged)
    with open(os.path.join(staged, "_SUCCESS"), "w"):
        pass
    run_with_checkpoint(spark, corpus, out, run_id="ro", num_buckets=2)
    assert not os.path.exists(staged)


def test_fs_probes_are_scheme_aware(spark, tmp_path):
    """The existence probes go through the Hadoop FileSystem API (resolved
    per path scheme) — a driver-local os.path check is blind on HDFS/S3
    and turned missing-visibility into silent empty output (ADVICE r3)."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        _fs_delete,
        _fs_exists,
        _list_attempts,
    )

    d = tmp_path / "probe"
    (d / "attempt=1" / "bucket=0").mkdir(parents=True)
    (d / "attempt=1" / "bucket=3").mkdir()
    (d / "attempt=1" / "notabucket").mkdir()
    (d / "attempt=2").mkdir()
    (d / "notanattempt").mkdir()
    # explicit scheme-qualified path exercises the scheme resolution path
    uri = "file://" + str(d)
    assert _fs_exists(spark, uri)
    assert _list_attempts(spark, uri) == {1: {0, 3}, 2: set()}
    _fs_delete(spark, uri)
    assert not d.exists()
    assert not _fs_exists(spark, uri)


def test_empty_bucket_is_known_empty_not_lost(spark, tmp_path):
    """A bucket with no documents still gets a lineage row (docs=0) and
    contributes no rows — distinguishable from data loss because every
    document lands in exactly one bucket of the output."""
    import pandas as pd

    from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs

    docs = list(iter_docs(3, seed=11))  # 3 docs over 16 buckets
    tiny = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    out = str(tmp_path / "run_sparse")
    result = run_with_checkpoint(spark, tiny, out, run_id="rs",
                                 num_buckets=16)
    assert result.select("doc_id").distinct().count() == 3
    lin = lineage(spark, out).collect()
    assert len(lin) == 16
    assert sum(r.docs_parsed for r in lin) == 3
    assert sum(1 for r in lin if r.docs_parsed == 0) == 13

    # a 0-document corpus: every bucket is known-empty by its lineage row,
    # and the read-back keeps the full output column set
    none = spark.createDataFrame([], schema=SPANS_DDL)
    out0 = str(tmp_path / "run_zero")
    result0 = run_with_checkpoint(spark, none, out0, run_id="rz",
                                  num_buckets=16)
    assert result0.count() == 0
    assert result0.columns == result.columns
    lin0 = lineage(spark, out0).collect()
    assert len(lin0) == 16 and all(r.docs_parsed == 0 for r in lin0)


def _mini_documents(spark, n=24):
    """Tiny documents view with enough distinct words for band tests."""
    import pandas as pd

    rows = []
    for i in range(n):
        words = [f"w{i}x{j}" for j in range(12)] + ["common", "tail"]
        rows.append({"doc_id": i, "source": f"s{i % 3}",
                     "text": " ".join(words)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    df.createOrReplaceTempView("documents")
    return df


def _clean_docs(spark, n=24):
    """write_docs_bucketed input over every ``_mini_documents`` row."""
    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK

    _mini_documents(spark, n)
    h = _HASH60_SPARK.format(x="text")
    return spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents""")


def test_band_sink_stored_equals_derived(spark, tmp_path):
    """write_docs_bucketed(write_bands=True): the persisted band table is
    row-identical to band_signatures_spark_sql derived from the written
    corpus — ONE band definition shared by sink and serve (r7 verdict #1:
    stored bands must never drift from what on-read derivation yields)."""
    from fast_pdf_parser_spark.operators.relational import (
        _HASH60_SPARK,
        band_signatures_spark_sql,
        near_incremental_spark_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        write_docs_bucketed,
    )

    _mini_documents(spark)
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "band_sink")
    corpus = write_docs_bucketed(spark, prev, out, run_id="b1",
                                 num_buckets=3, write_bands=True)
    corpus.createOrReplaceTempView("band_corpus")
    stored = read_band_table(spark, out)
    derived = spark.sql(band_signatures_spark_sql("band_corpus"))
    s = sorted((r.doc_id, r.band, r.band_key)
               for r in stored.collect())
    d = sorted((r.doc_id, r.band, r.band_key)
               for r in derived.collect())
    assert s == d and len(s) == corpus.count() * 4  # 16 seeds / 4 per band

    # and the PRUNED probe (r8 verdict #1 — the serve path the driver
    # row uses) yields verdicts byte-identical to the derived-on-read
    # form over the same sink, on both the key-pushdown shape and the
    # big-batch semi-join fallback
    via_derive = spark.sql(
        near_incremental_spark_sql("band_corpus")).collect()
    key = lambda r: (r.doc_id, r.near_in_corpus, r.best_jaccard_x1e4)  # noqa: E731
    from fast_pdf_parser_spark.operators.relational import (
        near_batch_spark_sql,
        near_verdict_prebanded_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import probe_band_table

    spark.sql(near_batch_spark_sql()).createOrReplaceTempView("bc_batch")
    bb = spark.sql(band_signatures_spark_sql("bc_batch", text_col="text"))
    bb.createOrReplaceTempView("bc_batch_bands")
    for max_keys in (4096, 1):  # pushdown path, then semi-join fallback
        probe_band_table(spark, out, bb, max_pushdown_keys=max_keys) \
            .createOrReplaceTempView("bc_bands_pruned")
        via_pruned = spark.sql(near_verdict_prebanded_sql(
            "bc_batch", "bc_batch_bands",
            "band_corpus", "bc_bands_pruned")).collect()
        assert sorted(map(key, via_pruned)) == sorted(map(key, via_derive))


def test_band_sink_crash_resume_and_empty_bucket(spark, tmp_path):
    """Bands ride the bucket crash story: a crash re-processes the bucket
    (bands rewritten with the data, no dupes), and an all-empty corpus
    reads back an empty band table with the real schema."""
    import pandas as pd
    import pytest as _pytest

    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        write_docs_bucketed,
    )

    _mini_documents(spark)
    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
    h = _HASH60_SPARK.format(x="text")
    prev = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "band_crash")
    with _pytest.raises(RuntimeError, match="simulated failure"):
        write_docs_bucketed(spark, prev, out, run_id="bc", num_buckets=3,
                            write_bands=True, fail_on_bucket=1)
    corpus = write_docs_bucketed(spark, prev, out, run_id="bc",
                                 num_buckets=3, write_bands=True)
    stored = read_band_table(spark, out)
    assert stored.count() == corpus.count() * 4
    per_doc = stored.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc), "dupe bands after resume"

    # empty corpus: durable empty band table, real schema
    empty = spark.createDataFrame(
        pd.DataFrame(columns=["doc_id", "source", "split", "clean_hash",
                              "clean_text"]).astype(
            {"doc_id": "int64", "clean_hash": "int64"}),
        schema=("doc_id bigint, source string, split string, "
                "clean_hash bigint, clean_text string"))
    out2 = str(tmp_path / "band_empty")
    write_docs_bucketed(spark, empty, out2, run_id="be", num_buckets=2,
                        write_bands=True)
    eb = read_band_table(spark, out2)
    assert eb.count() == 0
    assert set(eb.columns) == {"doc_id", "band", "band_key", "bkp",
                               "bucket"}


def test_bandless_rewrite_drops_stale_band_buckets(spark, tmp_path):
    """A later write_bands=False run over a sink that previously wrote
    bands must not leave day-old signatures next to the new clean data —
    the invariant is bands-match-clean OR bands-absent, never
    bands-for-documents-that-no-longer-exist."""
    import glob as globmod

    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        write_docs_bucketed,
    )

    _mini_documents(spark)
    h = _HASH60_SPARK.format(x="text")
    day0 = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 0""")
    out = str(tmp_path / "bandless_rewrite")
    write_docs_bucketed(spark, day0, out, run_id="day0",
                        num_buckets=3, write_bands=True)
    assert read_band_table(spark, out).count() > 0

    day1 = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents WHERE doc_id % 2 = 1""")
    # day1 first crashes banded after every wave's data (its lineage files
    # are lost), then reruns bandless: the rerun reuses those attempt
    # numbers and must not commit the crashed attempts' bands
    write_docs_bucketed(spark, day1, out, run_id="day1",
                        num_buckets=3, write_bands=True)
    for f in globmod.glob(out + "/checkpoint/*.parquet"):
        if set(pd.read_parquet(f)["run_id"]) == {"day1"}:
            _lose_log_file(f)
    corpus = write_docs_bucketed(spark, day1, out, run_id="day1",
                                 num_buckets=3, write_bands=False)
    assert corpus.count() > 0
    assert read_band_table(spark, out).count() == 0  # no stale signatures


def _compact_fixture(spark, tmp_path, name):
    """A band-writing sink whose buckets carry MANY small part files
    (the after-N-increments shape compaction exists for)."""
    from fast_pdf_parser_spark.operators.relational import _HASH60_SPARK
    from fast_pdf_parser_spark.plans.checkpoint import write_docs_bucketed

    _mini_documents(spark)
    h = _HASH60_SPARK.format(x="text")
    docs = spark.sql(f"""
        SELECT doc_id, source, 'train' AS split,
               {h} AS clean_hash, text AS clean_text
        FROM documents""").repartition(8)
    out = str(tmp_path / name)
    # tiny split size while writing: the staged bucket read then fans
    # out to many tasks and every bucket lands MANY small part files —
    # the fragmented after-N-increments shape compaction exists for
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        write_docs_bucketed(spark, docs, out, run_id="c0", num_buckets=3,
                            write_bands=True)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    return out


def _sink_state(spark, out):
    """(sorted clean rows, sorted band rows) — the content identity."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        read_band_table,
        read_clean,
    )

    rows = sorted((r.doc_id, r.split, r.clean_hash, r.clean_text)
                  for r in read_clean(spark, out).collect())
    bands = sorted((r.doc_id, r.band, r.band_key)
                   for r in read_band_table(spark, out).collect())
    return rows, bands


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    """compact_sink: every row (clean AND bands) survives byte-identically,
    stored==derived band equality holds post-compaction, file counts
    drop to one per partition dir, and ONE lineage file gains 'compacted'
    rows naming one attempt that do NOT disturb resume (status filter is
    'done')."""
    import glob as globmod

    from fast_pdf_parser_spark.operators.relational import (
        band_signatures_spark_sql,
    )
    from fast_pdf_parser_spark.plans.checkpoint import (
        compact_sink,
        completed_buckets,
        lineage,
    )

    out = _compact_fixture(spark, tmp_path, "compact_ok")
    before_rows, before_bands = _sink_state(spark, out)
    files = out + "/clean/attempt=*/bucket=*/split=*/*.parquet"
    files_before = len(globmod.glob(files))
    logs_before = set(globmod.glob(out + "/checkpoint/*.parquet"))

    compact_sink(spark, out, run_id="opt1")

    after_rows, after_bands = _sink_state(spark, out)
    assert after_rows == before_rows and len(after_rows) > 0
    assert after_bands == before_bands and len(after_bands) > 0
    files_after = len(globmod.glob(files))
    assert files_after < files_before
    assert files_after <= 3  # one file per (bucket, lone split) dir
    _assert_only_committed(spark, out, "clean", "bands")

    # stored == derived still holds over the compacted copy
    spark.read.parquet(out + "/clean").createOrReplaceTempView("cmp_corpus")
    derived = sorted(
        (r.doc_id, r.band, r.band_key)
        for r in spark.sql(
            band_signatures_spark_sql("cmp_corpus")).collect())
    assert derived == after_bands

    lin = lineage(spark, out)
    assert lin.filter("status = 'compacted' AND run_id = 'opt1'").count() == 3
    assert len(set(globmod.glob(out + "/checkpoint/*.parquet"))
               - logs_before) == 1
    assert lin.filter("status = 'compacted'").select("attempt") \
        .distinct().count() == 1
    # resume still sees exactly the original 'done' rows
    assert completed_buckets(spark, out + "/checkpoint", "c0") == {0, 1, 2}


def test_compaction_handles_empty_bucket(spark, tmp_path):
    """compact_sink over a sink with lineage-known empty buckets (a
    docs_parsed = 0 row and no data dir) must COMPLETE — the r9 code
    re-crashed on an empty bucket forever (advice r9) — with content
    unchanged, no data dir created for an empty bucket, one 'compacted'
    row per non-empty bucket and none for an empty one, and a convergent
    rerun. A sink with zero docs compacts to nothing: no lineage file,
    no attempt dir."""
    import glob as globmod

    from fast_pdf_parser_spark.plans.checkpoint import (
        compact_sink,
        write_docs_bucketed,
    )

    docs = _clean_docs(spark, n=3)  # 3 docs over 4 buckets: one+ empty
    out = str(tmp_path / "compact_empty")
    write_docs_bucketed(spark, docs, out, run_id="c0", num_buckets=4,
                        write_bands=True)
    empty = {r.partition_id for r in lineage(spark, out).collect()
             if r.docs_parsed == 0}
    assert empty
    before = _sink_state(spark, out)
    assert len(before[0]) == 3

    def data_dirs():
        return {int(d.rsplit("=", 1)[1]) for root in ("clean", "bands")
                for d in globmod.glob(f"{out}/{root}/attempt=*/bucket=*")}

    assert not data_dirs() & empty
    compact_sink(spark, out, run_id="opt_e")

    assert _sink_state(spark, out) == before
    assert not data_dirs() & empty
    compacted = lineage(spark, out).filter(
        "status = 'compacted' AND run_id = 'opt_e'").collect()
    assert sorted(r.partition_id for r in compacted) == \
        sorted({0, 1, 2, 3} - empty)
    assert not {r.partition_id for r in compacted} & empty
    compact_sink(spark, out, run_id="opt_e2")
    assert _sink_state(spark, out) == before
    assert not data_dirs() & empty
    _assert_only_committed(spark, out, "clean", "bands")

    nothing = str(tmp_path / "compact_nothing")
    write_docs_bucketed(spark, docs.limit(0), nothing, run_id="c0",
                        num_buckets=4, write_bands=True)
    logs = set(globmod.glob(nothing + "/checkpoint/*.parquet"))
    compact_sink(spark, nothing, run_id="opt_n")
    assert set(globmod.glob(nothing + "/checkpoint/*.parquet")) == logs
    assert not globmod.glob(nothing + "/*/attempt=*")
    assert _sink_state(spark, nothing) == ([], [])


def test_compaction_of_bandless_sink(spark, tmp_path):
    """A sink written without bands has no ``bands/`` root at all:
    compaction rewrites its clean rows, commits them and writes no band
    dir."""
    import glob as globmod

    from fast_pdf_parser_spark.plans.checkpoint import (
        compact_sink,
        read_clean,
        write_docs_bucketed,
    )

    out = str(tmp_path / "compact_bandless")
    write_docs_bucketed(spark, _clean_docs(spark, n=6), out, run_id="c0",
                        num_buckets=3)

    def rows():
        return sorted(tuple(r) for r in read_clean(spark, out).collect())

    before = rows()
    compact_sink(spark, out, run_id="opt_b")
    assert rows() == before and len(before) == 6
    assert lineage(spark, out).filter("status = 'compacted'").count() > 0
    assert not globmod.glob(out + "/bands")
    _assert_only_committed(spark, out, "clean")


def test_bandless_sink_reads_empty_band_table(spark, tmp_path):
    """A sink written without bands has no ``bands/`` root: its band
    table reads back empty with BAND_DDL's columns, not PATH_NOT_FOUND."""
    from fast_pdf_parser_spark.plans.checkpoint import (
        BAND_DDL,
        read_band_table,
        write_docs_bucketed,
    )

    out = str(tmp_path / "bandless_read")
    write_docs_bucketed(spark, _clean_docs(spark, n=6), out, run_id="c0",
                        num_buckets=3)
    bands = read_band_table(spark, out)
    assert bands.count() == 0
    assert set(bands.columns) == {
        c.split()[0] for c in BAND_DDL.split(", ")} | {"bucket"}


@pytest.mark.parametrize("fail_at", [
    "clean_staged", "bands_staged", "pre_lineage", "lineage_hidden"])
def test_compaction_crash_matrix(spark, tmp_path, fail_at):
    """A crash at EVERY step between compaction's data write and its
    lineage commit — the last one between the hidden lineage write and
    its rename — leaves the committed content and the log exactly as
    before, with no recovery call; a rerun commits the compaction with
    content identical to the pre-crash sink and only committed attempts
    on disk. Committing an already committed attempt again raises and
    leaves no hidden file behind."""
    import glob as globmod
    import time

    from fast_pdf_parser_spark.plans.checkpoint import (
        _append_lineage,
        compact_sink,
    )

    out = _compact_fixture(spark, tmp_path, f"compact_{fail_at}")
    before = _sink_state(spark, out)

    def log():
        return sorted(tuple(r) for r in lineage(spark, out).collect())

    log_before = log()
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_sink(spark, out, run_id="opt", fail_at=fail_at)
    assert _sink_state(spark, out) == before
    assert log() == log_before
    hidden = globmod.glob(out + "/checkpoint/_attempt-*.parquet.tmp")
    assert len(hidden) == (fail_at == "lineage_hidden")
    compact_sink(spark, out, run_id="opt")
    assert _sink_state(spark, out) == before
    _assert_only_committed(spark, out, "clean", "bands")
    assert not globmod.glob(out + "/checkpoint/_*")

    committed = log()
    m = max(r[-1] for r in committed)
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        _append_lineage(spark, out, "again", {0: (1, 1, 0)}, time.time(), m)
    assert not globmod.glob(out + "/checkpoint/_attempt-*.parquet.tmp")
    assert not globmod.glob(out + "/checkpoint/._attempt-*.parquet.tmp.crc")
    assert log() == committed
    assert _sink_state(spark, out) == before


def test_train_bpe_releases_prior_checkpoints(spark):
    """functions/bpe.py: every step releases the previous checkpoint's
    blocks and the final snapshot is released before returning (the
    result is a plain list) — a deep vocabulary run is O(1) storage, not
    O(steps), and nothing outlives the call."""
    from fast_pdf_parser_spark.functions.bpe import train_bpe

    sc = spark.sparkContext

    def ids():
        return {int(k) for k in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    # set-based, not count-based: the ContextCleaner may asynchronously
    # unpersist PRIOR tests' blocks between the two snapshots
    before = ids()
    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "newer new wide wider")],
        "doc_id long, text string")
    merges = train_bpe(spark, docs, 6)
    assert len(merges) == 6
    assert ids() - before == set(), "train_bpe left persisted blocks"
