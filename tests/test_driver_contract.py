"""Driver-contract tests: entry()/queries()/oracle_sql() behave as the
driver expects, and a sample of oracle pairs actually matches DuckDB
(the full sweep lives in tools/check_oracles.py)."""

import os

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"doc_id", "offset", "kind", "text", "media_ref"} <= cols


def test_entry_leaves_only_the_batch_size_conf(spark):
    """Between two query boundaries the flagship query changes no session
    conf except the Arrow batch size extract_documents sets; any new leak
    between queries fails here."""
    entrymod._prepare(spark, SF_DIR)
    before = dict(spark.conf.getAll)
    assert entrymod.entry(spark).count() > 0
    entrymod._prepare(spark, SF_DIR)
    after = dict(spark.conf.getAll)
    changed = {k for k in before.keys() | after.keys()
               if before.get(k) != after.get(k)}
    assert changed <= {"spark.sql.execution.arrow.maxRecordsPerBatch"}


def test_prepare_registers_views_per_session(spark):
    """Temp views are session-scoped: _prepare on a second session that
    shares the SparkContext must register its views in THAT session, not
    reuse reader DataFrames bound to the first one."""
    entrymod._prepare(spark, SF_DIR)
    spark2 = spark.newSession()
    entrymod._prepare(spark2, SF_DIR)
    assert spark2.table("documents").count() == \
        spark.table("documents").count() > 0


@pytest.mark.parametrize("name", ["text_encode_pack", "dedup_lsh_pairs"])
def test_prepare_releases_prior_query_blocks(spark, name):
    """Blocks a query materialized are freed at the next query boundary
    even while its returned DataFrame is still held, and that DataFrame
    recomputes to the same value afterwards (its lineage is kept)."""
    def ids():
        return {int(k) for k in
                spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray()}

    entrymod._prepare(spark, SF_DIR)
    before = ids()
    df = entrymod.queries()[name](spark, SF_DIR)
    n = df.count()
    assert n > 0
    assert ids() - before, "the query materialized nothing"
    entrymod._prepare(spark, SF_DIR)
    # set-based: the ContextCleaner may drop older blocks concurrently
    assert ids() - before == set(), "query blocks survived the boundary"
    assert df.count() == n


def test_queries_and_oracles_consistent():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)  # every oracle has a query
    # stateful pipeline entries are rows-only by design
    assert "pipeline_extract_spans" in q and "pipeline_extract_spans" not in o
    assert len(o) >= 15
    # evidence-curation guards live UNGATED in tests/test_entry_curation.py
    # (this module is skipped without testdata; those need none)


@pytest.mark.parametrize(
    "name",
    ["p6_line_classify", "f4_semantic_units", "a5_distribution",
     "dedup_minhash_signatures", "ann_cosine_topk",
     "pipeline_meta_oracle", "dedup_lsh_pairs",
     "multimodal_media_features", "ann_ivf_grid",
     "pipeline_html_content_oracle", "text_pii_scrub",
     "text_decontaminate", "dedup_clusters", "dedup_substring_spans",
     "ann_recall_report", "pipeline_docling_meta_oracle"],
)
def test_oracle_parity_sample(spark, name):
    import duckdb

    from tools.check_oracles import TABLES, norm_rows

    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert norm_rows(srows, scols) == norm_rows(drows, dcols)


def test_substring_dedup_interval_semantics(spark):
    """Hand-built corpus: a known 8+-word run repeated across two docs must
    come back as ONE merged interval per doc covering exactly the repeated
    region; unique text produces no spans."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    dup_run = " ".join(f"dup{i}" for i in range(10))  # 10 shared words
    rows = [
        (0, dup_run + " " + " ".join(f"a{i}" for i in range(20))),
        (1, " ".join(f"b{i}" for i in range(5)) + " " + dup_run),
        (2, " ".join(f"c{i}" for i in range(30))),  # all unique
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    got = {(r.doc_id): (r.start_word, r.end_word, r.n_windows)
           for r in spark.sql(spark_sql("dedup_substring_spans")).collect()}
    # doc 0: windows at pos 0..2 (10-word run -> 3 full 8-grams) ->
    # interval [0, 9]; doc 1: run starts at word 5 -> [5, 14]; doc 2: none
    assert got[0] == (0, 9, 3), got
    assert got[1] == (5, 14, 3), got
    assert 2 not in got
    assert len(got) == 2


def test_domain_cap_semantics(spark):
    """Per-domain cap: at most 8 keeps per source, quality-ordered
    (n_chars desc), deterministic doc_id tiebreak."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    rows = [(i, "w " * (i % 13), f"site{i % 3}", (i * 7) % 100)
            for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = spark.sql(spark_sql("text_domain_cap")).collect()
    assert len(out) == 40
    n_chars = {i: (i * 7) % 100 for i in range(40)}
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        keeps = [r for r in rs if r.domain_gate == "keep"]
        assert len(keeps) == min(8, len(rs))
        # keeps are exactly the top-8 by (n_chars desc, doc_id asc)
        order = sorted(rs, key=lambda r: (-n_chars[r.doc_id], r.doc_id))
        assert {r.doc_id for r in keeps} == {r.doc_id for r in order[:8]}
        assert all(r.domain_total == len(rs) for r in rs)


def test_quality_sample_deterministic_and_rate_shaped(spark):
    """Sampling decisions are pure functions of doc_id (re-run identical),
    the keep rate tracks the quality score, and the split is 98/1/1 by an
    independent hash coin."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    rows = [(i, "w " * 20, f"site{i % 3}", 10 + (i * 13) % 490)
            for i in range(600)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    a = sorted(spark.sql(spark_sql("text_quality_sample")).collect())
    b = sorted(spark.sql(spark_sql("text_quality_sample")).collect())
    assert a == b  # no rand() anywhere: bit-identical on re-run
    assert len(a) == 600
    assert {r.split for r in a} <= {"train", "val", "test"}
    n_train = sum(r.split == "train" for r in a)
    assert n_train > 0.9 * len(a)
    # keep rate rises with quality: top score quartile keeps more than
    # the bottom quartile (hash coins are uniform; 150 docs per quartile)
    by_rate = sorted(a, key=lambda r: r.sample_rate_bp)
    lo = sum(r.kept for r in by_rate[:150])
    hi = sum(r.kept for r in by_rate[-150:])
    assert hi > lo
    # the decision is exactly coin < rate_bp, so rate_bp==max implies kept
    for r in a:
        assert r.kept in (0, 1)


def test_mixture_sample_sqrt_budgets_and_greedy_fill(spark):
    """text_mixture_sample: per-source token budgets follow the 1e6
    fixed-point sqrt reweighting exactly, and each source's kept set is
    the greedy quality-first prefix (n_chars desc, doc_id tiebreak)
    including the boundary doc that crosses the budget."""
    import math

    from fast_pdf_parser_spark.operators.relational import spark_sql

    # deliberately skewed masses: 50 / 8 / 2 docs per source
    rows = []
    for i in range(60):
        src = "big" if i < 50 else ("mid" if i < 58 else "small")
        n_words = 5 + (i * 3) % 11
        rows.append((i, "w " * (n_words - 1) + "w", src, (i * 17) % 200))
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = spark.sql(spark_sql("text_mixture_sample")).collect()
    assert len(out) == 60

    toks = {i: rows[i][1].count(" ") + 1 for i in range(60)}
    assert all(r.doc_toks == toks[r.doc_id] for r in out)
    src_of = {i: rows[i][2] for i in range(60)}
    masses = {}
    for i, t in toks.items():
        masses[src_of[i]] = masses.get(src_of[i], 0) + t
    w_fp = {s: math.floor(math.sqrt(float(t)) * 1_000_000)
            for s, t in masses.items()}
    z = sum(w_fp.values())
    global_budget = math.floor(0.5 * sum(masses.values()))
    budgets = {s: math.floor(w / z * global_budget)
               for s, w in w_fp.items()}
    for r in out:
        assert r.budget_toks == budgets[r.source], (r.source, r.budget_toks)

    # sqrt reweighting: the small source's budget share exceeds its mass
    # share, the big source's is below it
    assert budgets["small"] / global_budget > masses["small"] / sum(
        masses.values())
    assert budgets["big"] / global_budget < masses["big"] / sum(
        masses.values())

    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    n_chars = {i: rows[i][3] for i in range(60)}
    for src, rs in by_src.items():
        order = sorted(rs, key=lambda r: (-n_chars[r.doc_id], r.doc_id))
        cum = 0
        expect_kept = set()
        for r in order:
            if cum < budgets[src]:
                expect_kept.add(r.doc_id)  # boundary doc included
            cum += toks[r.doc_id]
        assert {r.doc_id for r in rs if r.kept == 1} == expect_kept, src


def test_mixture_epochs_over_budget_repetition(spark):
    """text_mixture_epochs: with the budget at 1.2x the corpus and sqrt
    reweighting, a dominant group is subsampled (0 full epochs) while
    small groups repeat (>=1 full epoch); the partial tail is
    budget mod mass, filled greedily with tail_docs documents."""
    import math

    from fast_pdf_parser_spark.operators.relational import spark_sql

    # one dominant lang, two small ones
    rows = []
    for i in range(64):
        lang = "en" if i < 48 else ("de" if i < 56 else "fr")
        n_words = 6 + (i * 5) % 9
        rows.append((i, "w " * (n_words - 1) + "w", lang, (i * 11) % 150))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = {r.lang: r
           for r in spark.sql(spark_sql("text_mixture_epochs")).collect()}
    assert set(out) == {"en", "de", "fr"}

    toks = {i: rows[i][1].count(" ") + 1 for i in range(64)}
    masses = {}
    for i in range(64):
        masses[rows[i][2]] = masses.get(rows[i][2], 0) + toks[i]
    w_fp = {s: math.floor(math.sqrt(float(t)) * 1_000_000)
            for s, t in masses.items()}
    z = sum(w_fp.values())
    global_budget = math.floor(1.2 * sum(masses.values()))
    for lang, r in out.items():
        budget = math.floor(w_fp[lang] / z * global_budget)
        assert r.lang_toks == masses[lang]
        assert r.budget_toks == budget
        assert r.full_epochs == budget // masses[lang]
        assert r.tail_toks == budget - r.full_epochs * masses[lang]
        # greedy tail: count of quality-first prefix docs filling tail_toks
        order = sorted((i for i in range(64) if rows[i][2] == lang),
                       key=lambda i: (-rows[i][3], i))
        cum, n_tail = 0, 0
        for i in order:
            if cum < r.tail_toks:
                n_tail += 1
            cum += toks[i]
        assert r.tail_docs == n_tail, lang
    # the regime is genuinely mixed on this fixture
    assert out["en"].full_epochs == 0
    assert out["de"].full_epochs >= 1 and out["fr"].full_epochs >= 1


def test_corpus_datacard_dups_median_and_modal_lang(spark):
    """corpus_datacard: dup_docs counts every holder of a corpus-wide
    duplicate text (cross-source included), p50_toks is the index-based
    sorted[(n-1)//2] median, top_lang is the modal language with a
    deterministic lang-asc tiebreak."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    rows = [
        # srcA: 5 docs, toks 3/5/7/9/11 -> median 7; langs en,en,de,de,fr
        (0, "a b c", "srcA", "en"),
        (1, "a b c d e", "srcA", "en"),
        (2, "a b c d e f g", "srcA", "de"),
        (3, "a b c d e f g h i", "srcA", "de"),
        (4, "a b c d e f g h i j k", "srcA", "fr"),
        # srcB: 2 docs; one duplicates doc 0's text cross-source
        (5, "a b c", "srcB", "zh"),
        (6, "x y", "srcB", "zh"),
        # srcB intra-source dup pair
        (7, "x y", "srcB", "es"),
    ]
    spark.createDataFrame(
        [(i, t, s, lg, len(t)) for i, t, s, lg in rows],
        "doc_id long, text string, source string, lang string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = {r.source: r
           for r in spark.sql(spark_sql("corpus_datacard")).collect()}
    a, b = out["srcA"], out["srcB"]
    assert (a.n_docs, a.total_toks) == (5, 35)
    assert a.p50_toks == 7  # sorted[(5-1)//2] = third value
    assert a.dup_docs == 1  # doc 0's text also lives in srcB
    # en and de tie at 2 -> lang-asc picks 'de'
    assert a.top_lang == "de"
    assert (b.n_docs, b.dup_docs) == (3, 3)  # docs 5 (x-source), 6, 7
    assert b.p50_toks == 2  # sorted toks [2,2,3] -> index 1
    assert b.top_lang == "zh"


def test_pack_manifest_sharded_prefix_sum_equals_global_window(spark):
    """The distributed (per-shard + base-offset) prefix sum must emit
    byte-identical offsets to the naive single-window packing."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    rows = [(i, ("tok " * (1 + (i * 7) % 40)).strip(), "s", 0)
            for i in range(350) if i % 11 != 3]  # doc_id gaps on purpose
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    got = {r.doc_id: r for r in
           spark.sql(spark_sql("text_pack_manifest")).collect()}
    naive = spark.sql("""
      WITH toks AS (
        SELECT doc_id,
               CAST(size(split(trim(text), '[ \\t\\n]+')) AS BIGINT)
                 AS n_tokens
        FROM documents WHERE length(trim(text)) > 0
      )
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM toks""").collect()
    assert len(got) == len(naive) == len(rows)
    for r in naive:
        g = got[r.doc_id]
        assert g.start_offset == r.start_offset, r.doc_id
        assert g.end_offset == r.start_offset + r.n_tokens
        assert g.first_seq == r.start_offset // 128
        assert g.last_seq == (r.start_offset + r.n_tokens - 1) // 128
        assert g.n_seqs == g.last_seq - g.first_seq + 1


def test_clean_corpus_composition(spark):
    """Capstone pipeline: injected exact clones are dropped by the dedup
    stage, per-source keeps respect the domain cap, and the split coin
    agrees doc-for-doc with the standalone text_quality_sample operator
    (same hash, same bucket — a doc's split never depends on which query
    assigned it)."""
    from fast_pdf_parser_spark.operators.relational import spark_sql

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(60)),
             f"site{i % 2}", 100 + i) for i in range(80)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = spark.sql(spark_sql("pipeline_clean_corpus")).collect()
    clones = [r for r in out if r.doc_id < 0]
    origs = [r for r in out if r.doc_id >= 0]
    assert len(clones) == 2 and len(origs) == 80  # doc_id 0, 50 cloned
    assert all(r.dedup_keep == 0 and r.final_keep == 0 for r in clones)
    assert all(r.dedup_keep == 1 for r in origs)
    # dedup-doomed clones rank after every kept doc in the domain window,
    # so they can never steal a cap slot from a real document
    assert all(r.domain_keep == 0 for r in clones)
    for src in ("site0", "site1"):
        assert sum(r.domain_keep for r in origs if r.source == src) == 20
    # split consistency with the standalone sampler (same 'p:' coin)
    sample_split = {r.doc_id: r.split for r in
                    spark.sql(spark_sql("text_quality_sample")).collect()}
    for r in origs:
        assert r.split == sample_split[r.doc_id], r.doc_id
