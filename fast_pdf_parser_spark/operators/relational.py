"""Relational (SQL-expressible) operator queries with DuckDB oracles.

Each entry pairs a Spark SQL text with a semantically identical DuckDB SQL
text over the driver-provided tables (documents, embeddings, events). The
driver runs both and compares row counts + schemas + order-insensitive value
hashes (CORRECTNESS_r{N}.json) — so every computed column carries the SAME
alias in both dialects, floats are rounded, and timestamps are avoided.

Operator coverage (SURVEY.md §2 keys in names):

- P3/P6/F3/F4/W2/O3/A2/A5/A6 re-express the reference's relational axes over
  a *derived lines* model: ``documents.text`` is a single-line word bag, so
  both dialects derive deterministic "pages" from it — 8-word lines with
  line_no-keyed markdown markers (headings/lists/code/blank) — giving the
  classifier and sessionization real structure. The derivation is part of
  the query (identical in both engines), so the cross-engine check validates
  the classification/lookahead/cumsum logic itself.
- Training-data ops (dedup exact/minhash/LSH/jaccard/simhash, ANN top-k,
  lang-id, quality, token counts, fingerprints) run over documents and
  embeddings directly.

Portability notes (why expressions look the way they do):

- 60-bit hash: Spark ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
  ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` (15 hex digits < 2^63).
- Quintiles replicate the reference's index-based ``sorted[p*(n-1)]``
  (hierarchical_chunker.cpp:480-483) via row_number, not percentile
  interpolation.
- DuckDB lacks WITH ORDINALITY; positions come from
  ``unnest(list_zip(xs, range(0, len(xs))))`` with numeric struct access.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Derived-lines CTE (the shared "page model" for line-based operators)
# ---------------------------------------------------------------------------

# Spark: posexplode → group words into 8-word lines (order restored via
# array_sort over (pos, word) structs), then line_no-keyed markers.
_SPARK_LINES = """
words AS (
  SELECT doc_id, pos, word
  FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
),
lines0 AS (
  SELECT doc_id, CAST(floor(pos / 8) AS INT) AS line_no,
         array_join(transform(array_sort(collect_list(struct(pos, word))),
                              x -> x.word), ' ') AS body
  FROM words GROUP BY doc_id, CAST(floor(pos / 8) AS INT)
),
lines AS (
  SELECT doc_id, line_no,
         CASE CAST(line_no % 7 AS INT)
           WHEN 0 THEN '# ' || body
           WHEN 1 THEN '## ' || body
           WHEN 2 THEN '### ' || body
           WHEN 3 THEN '- ' || body
           WHEN 4 THEN '  ' || body
           WHEN 5 THEN ''
           ELSE body END AS line
  FROM lines0
)
"""

_DUCK_LINES = """
words AS (
  SELECT doc_id, u.w[2] AS pos, u.w[1] AS word
  FROM (SELECT doc_id,
               unnest(list_zip(split(text, ' '),
                               range(0, length(split(text, ' '))))) AS w
        FROM documents) u
),
lines0 AS (
  SELECT doc_id, CAST(pos // 8 AS INT) AS line_no,
         string_agg(word, ' ' ORDER BY pos) AS body
  FROM words GROUP BY doc_id, CAST(pos // 8 AS INT)
),
lines AS (
  SELECT doc_id, line_no,
         CASE CAST(line_no % 7 AS INT)
           WHEN 0 THEN '# ' || body
           WHEN 1 THEN '## ' || body
           WHEN 2 THEN '### ' || body
           WHEN 3 THEN '- ' || body
           WHEN 4 THEN '  ' || body
           WHEN 5 THEN ''
           ELSE body END AS line
  FROM lines0
)
"""

# Line-type classification per detect_line_type precedence
# (src/hierarchical_chunker.cpp:82-113): BLANK → HEADING → LIST → CODE →
# NORMAL, with the heading level from the '#' run length.
_SPARK_CLASSIFY = """
classified AS (
  SELECT doc_id, line_no, line,
    CASE
      WHEN line RLIKE '^[ \\t]*$' THEN 'BLANK'
      WHEN line RLIKE '^#+[ \\t]+.+$' THEN
        CASE WHEN length(regexp_extract(line, '^(#+)[ \\t]+', 1)) <= 2
             THEN 'MAJOR_HEADING' ELSE 'MINOR_HEADING' END
      WHEN line RLIKE '^[ \\t]*[-*+][ \\t]+.+$'
        OR line RLIKE '^[ \\t]*[0-9]+\\.[ \\t]+.+$' THEN 'LIST_ITEM'
      WHEN line LIKE '%```%' OR line LIKE '  %' THEN 'CODE_BLOCK'
      ELSE 'NORMAL' END AS line_type,
    CASE WHEN line RLIKE '^#+[ \\t]+.+$'
         THEN length(regexp_extract(line, '^(#+)[ \\t]+', 1))
         ELSE 0 END AS heading_level
  FROM lines
)
"""

_DUCK_CLASSIFY = r"""
classified AS (
  SELECT doc_id, line_no, line,
    CASE
      WHEN regexp_matches(line, '^[ \t]*$') THEN 'BLANK'
      WHEN regexp_matches(line, '^#+[ \t]+.+$') THEN
        CASE WHEN length(regexp_extract(line, '^(#+)[ \t]+', 1)) <= 2
             THEN 'MAJOR_HEADING' ELSE 'MINOR_HEADING' END
      WHEN regexp_matches(line, '^[ \t]*[-*+][ \t]+.+$')
        OR regexp_matches(line, '^[ \t]*[0-9]+\.[ \t]+.+$') THEN 'LIST_ITEM'
      WHEN line LIKE '%```%' OR line LIKE '  %' THEN 'CODE_BLOCK'
      ELSE 'NORMAL' END AS line_type,
    CASE WHEN regexp_matches(line, '^#+[ \t]+.+$')
         THEN length(regexp_extract(line, '^(#+)[ \t]+', 1))
         ELSE 0 END AS heading_level
  FROM lines
)
"""

_HASH60_SPARK = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_HASH60_DUCK = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _pair(spark_sql: str, duck_sql: str) -> dict[str, str]:
    return {"spark": spark_sql, "duck": duck_sql}


QUERIES: dict[str, dict[str, str]] = {}

# --- P3: empty filter --------------------------------------------------------
QUERIES["p3_empty_filter"] = _pair(
    f"""WITH {_SPARK_LINES}
SELECT doc_id,
       CAST(sum(CASE WHEN line RLIKE '^[ \\t]*$' THEN 0 ELSE 1 END) AS BIGINT) AS nonblank_lines,
       count(*) AS total_lines
FROM lines GROUP BY doc_id""",
    f"""WITH {_DUCK_LINES}
SELECT doc_id,
       CAST(sum(CASE WHEN regexp_matches(line, '^[ \t]*$') THEN 0 ELSE 1 END) AS BIGINT) AS nonblank_lines,
       count(*) AS total_lines
FROM lines GROUP BY doc_id""",
)

# --- P6: line-type classification -------------------------------------------
QUERIES["p6_line_classify"] = _pair(
    f"""WITH {_SPARK_LINES}, {_SPARK_CLASSIFY}
SELECT doc_id, line_type, CAST(max(heading_level) AS INT) AS max_level,
       count(*) AS n_lines
FROM classified GROUP BY doc_id, line_type""",
    f"""WITH {_DUCK_LINES}, {_DUCK_CLASSIFY}
SELECT doc_id, line_type, CAST(max(heading_level) AS INT) AS max_level,
       count(*) AS n_lines
FROM classified GROUP BY doc_id, line_type""",
)

# --- F3: page text → lines split (posexplode with order kept) ---------------
QUERIES["f3_line_explode"] = _pair(
    f"""WITH {_SPARK_LINES}
SELECT doc_id, line_no, length(line) AS line_len
FROM lines WHERE doc_id % 10 = 0""",
    f"""WITH {_DUCK_LINES}
SELECT doc_id, line_no, length(line) AS line_len
FROM lines WHERE doc_id % 10 = 0""",
)

# --- W2 + F4: lookahead break flags → cumulative-sum sessionization ---------
# is_break per create_semantic_units (src/hierarchical_chunker.cpp:142-179):
# break on any heading, or on a blank whose NEXT line is a heading.
_SPARK_BREAKS = """
breaks AS (
  SELECT doc_id, line_no, line_type,
    CASE
      WHEN line_type IN ('MAJOR_HEADING', 'MINOR_HEADING') THEN 1
      WHEN line_type = 'BLANK' AND
           lead(line_type) OVER (PARTITION BY doc_id ORDER BY line_no)
             IN ('MAJOR_HEADING', 'MINOR_HEADING') THEN 1
      ELSE 0 END AS is_break
  FROM classified
)
"""
_DUCK_BREAKS = _SPARK_BREAKS  # identical dialect here

QUERIES["w2_lookahead_breaks"] = _pair(
    f"""WITH {_SPARK_LINES}, {_SPARK_CLASSIFY}, {_SPARK_BREAKS}
SELECT doc_id, line_no, is_break FROM breaks WHERE doc_id % 10 = 1""",
    f"""WITH {_DUCK_LINES}, {_DUCK_CLASSIFY}, {_DUCK_BREAKS}
SELECT doc_id, line_no, is_break FROM breaks WHERE doc_id % 10 = 1""",
)

QUERIES["f4_semantic_units"] = _pair(
    f"""WITH {_SPARK_LINES}, {_SPARK_CLASSIFY}, {_SPARK_BREAKS},
units AS (
  SELECT doc_id, line_no,
         sum(is_break) OVER (PARTITION BY doc_id ORDER BY line_no
                             ROWS UNBOUNDED PRECEDING) AS unit_id
  FROM breaks
)
SELECT doc_id, CAST(max(unit_id) + 1 AS BIGINT) AS n_units,
       count(*) AS n_lines
FROM units GROUP BY doc_id""",
    f"""WITH {_DUCK_LINES}, {_DUCK_CLASSIFY}, {_DUCK_BREAKS},
units AS (
  SELECT doc_id, line_no,
         sum(is_break) OVER (PARTITION BY doc_id ORDER BY line_no
                             ROWS UNBOUNDED PRECEDING) AS unit_id
  FROM breaks
)
SELECT doc_id, CAST(max(unit_id) + 1 AS BIGINT) AS n_units,
       count(*) AS n_lines
FROM units GROUP BY doc_id""",
)

# --- A2: O(1) token estimate (bytes+3)/4 (tiktoken_tokenizer.h:221-223) -----
QUERIES["a2_token_estimate"] = _pair(
    """SELECT doc_id,
       CAST(floor((octet_length(text) + 3) / 4) AS BIGINT) AS est_tokens
FROM documents""",
    """SELECT doc_id,
       CAST(floor((strlen(text) + 3) / 4) AS BIGINT) AS est_tokens
FROM documents""",
)

# --- A5: distribution analysis (hierarchical_chunker.cpp:464-533) -----------
# quintile = sorted[floor(p*(n-1))] exactly like the reference's get_quintile.
_A5_BODY = """
est AS (SELECT CAST(floor(({bytelen}(text) + 3) / 4) AS BIGINT) AS tokens
        FROM documents),
ranked AS (SELECT tokens, row_number() OVER (ORDER BY tokens) - 1 AS rn,
                  count(*) OVER () AS n FROM est)
SELECT min(tokens) AS min_tokens, max(tokens) AS max_tokens,
       CAST(floor(sum(tokens) * CAST(1.0 AS DOUBLE) / count(*)) AS BIGINT) AS avg_tokens,
       max(CASE WHEN rn = CAST(floor(0.2 * (n - 1)) AS BIGINT) THEN tokens END) AS p20,
       max(CASE WHEN rn = CAST(floor(0.4 * (n - 1)) AS BIGINT) THEN tokens END) AS p40,
       max(CASE WHEN rn = CAST(floor(0.6 * (n - 1)) AS BIGINT) THEN tokens END) AS p60,
       max(CASE WHEN rn = CAST(floor(0.8 * (n - 1)) AS BIGINT) THEN tokens END) AS p80
FROM ranked"""
QUERIES["a5_distribution"] = _pair(
    "WITH " + _A5_BODY.format(bytelen="octet_length"),
    "WITH " + _A5_BODY.format(bytelen="strlen"),
)

# histogram buckets exactly as hierarchical_chunker.cpp:498-509
_A5_HIST = """
est AS (SELECT CAST(floor(({bytelen}(text) + 3) / 4) AS BIGINT) AS tokens
        FROM documents)
SELECT CASE
         WHEN tokens <= 50 THEN '1-50'
         WHEN tokens <= 100 THEN '51-100'
         WHEN tokens <= 150 THEN '101-150'
         WHEN tokens <= 200 THEN '151-200'
         WHEN tokens <= 300 THEN '201-300'
         WHEN tokens <= 400 THEN '301-400'
         WHEN tokens <= 500 THEN '401-500'
         WHEN tokens <= 512 THEN '501-512'
         ELSE '513+' END AS bucket,
       count(*) AS n_docs
FROM est GROUP BY 1"""
QUERIES["a5_histogram"] = _pair(
    "WITH " + _A5_HIST.format(bytelen="octet_length"),
    "WITH " + _A5_HIST.format(bytelen="strlen"),
)

# --- A6: file/content hash (xxhash64-analogue, portable 60-bit md5) ---------
QUERIES["a6_content_hash"] = _pair(
    f"""SELECT doc_id, {_HASH60_SPARK.format(x='text')} AS binary_hash
FROM documents""",
    f"""SELECT doc_id, {_HASH60_DUCK.format(x='text')} AS binary_hash
FROM documents""",
)

# --- O3: chunk indexing analogue (row_number per group) ----------------------
QUERIES["o3_row_index"] = _pair(
    """SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
         AS chunk_index
FROM documents""",
    """SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
         AS chunk_index
FROM documents""",
)

# --- sessionization over events (the F4 cumsum pattern at scale) -------------
_SESSION_SPARK = """WITH gaps AS (
  SELECT user_id, event_id,
    CASE WHEN unix_timestamp(ts) -
              lag(unix_timestamp(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id"""

_SESSION_DUCK = """WITH gaps AS (
  SELECT user_id, event_id,
    CASE WHEN epoch(ts) -
              lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id"""

QUERIES["events_sessionize"] = _pair(_SESSION_SPARK, _SESSION_DUCK)

# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

# exact dedup: content-hash groups, keep min doc_id as representative
_DEDUP_EXACT = f"""
hashed AS (SELECT doc_id, {{h}} AS content_hash FROM documents)
SELECT content_hash, min(doc_id) AS keep_doc_id,
       count(*) AS group_size
FROM hashed GROUP BY content_hash"""
QUERIES["dedup_exact"] = _pair(
    "WITH " + _DEDUP_EXACT.format(h=_HASH60_SPARK.format(x="text")),
    "WITH " + _DEDUP_EXACT.format(h=_HASH60_DUCK.format(x="text")),
)

# word-set fingerprint dedup (near-dup on sorted distinct words)
QUERIES["dedup_wordset"] = _pair(
    f"""WITH norm AS (
  SELECT doc_id,
         array_join(array_sort(array_distinct(split(text, ' '))), ' ') AS ws
  FROM documents)
SELECT {_HASH60_SPARK.format(x='ws')} AS wordset_hash,
       min(doc_id) AS keep_doc_id, count(*) AS group_size
FROM norm GROUP BY 1""",
    f"""WITH norm AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(split(text, ' '))), ' ') AS ws
  FROM documents)
SELECT {_HASH60_DUCK.format(x='ws')} AS wordset_hash,
       min(doc_id) AS keep_doc_id, count(*) AS group_size
FROM norm GROUP BY 1""",
)

# MinHash signatures: 16 hash functions h_i(w) = hash60(i || ':' || w),
# signature element = min over the doc's distinct words (shingle size 1 —
# word unigrams; the banding below groups 4 consecutive elements per band).
#
# Spark-side execution shape (r10, guide §2.3/§2.4 — values unchanged, the
# DuckDB oracle is the proof): the 16 seed hashes are computed SIDE BY SIDE
# in the projection and ONE doc_id-keyed aggregation takes the 16 mins with
# map-side partials.  The previous form exploded every (doc, word) row 16x
# and shuffled the blowup to a (doc_id, seed) aggregation, after a global
# DISTINCT exchange of the word pairs; per-doc word dedup is array_distinct
# (no shuffle — min() is duplicate-immune anyway, dedup just skips repeat
# hashing), so the whole signature chain now carries exactly one exchange
# of 16 longs per doc instead of three exchanges of 16x word rows.


def _minhash_m_cte_spark(src: str, text_col: str = "text") -> str:
    """Parenthesized subquery: one row per doc with the 16 minhash slots
    as COLUMNS m0..m15 — value-identical to the exploded (doc_id, seed,
    minhash) form (seed i's hash input is the same '{i}:{word}' string)."""
    hashes = ",\n               ".join(
        _HASH60_SPARK.format(x=f"concat('{i}:', word)") + f" AS h{i}"
        for i in range(16))
    mins = ", ".join(f"min(h{i}) AS m{i}" for i in range(16))
    # Shape notes (measured, BENCH/MINHASH_VARIANTS_r10):
    # - REPARTITION(doc_id): ONE exchange of the raw doc rows ahead of the
    #   hash-heavy work — strictly fewer bytes than the word-pair exchange
    #   the old explode form paid for its global DISTINCT, and it spreads
    #   the md5 work across shuffle.partitions even when the source is a
    #   single scan split (the small-corpus serialization trap; at scale
    #   it is the same exchange the old shape needed anyway).
    # - the 16 hashes are computed in their OWN projection and the
    #   aggregate takes min() of plain columns: putting md5 inside the 16
    #   min() expressions measured ~1.6x slower (the wide aggregate falls
    #   out of the codegen fast path).
    return f"""(
  SELECT doc_id, {mins}
  FROM (SELECT doc_id,
               {hashes}
        FROM (SELECT doc_id, word
              FROM (SELECT doc_id, array_distinct(split(text, ' ')) AS ws
                    FROM (SELECT /*+ REPARTITION(doc_id) */ doc_id,
                                 {text_col} AS text FROM {src}) raw) d
              LATERAL VIEW explode(ws) t AS word) w) h
  GROUP BY doc_id
)"""


# the exploded (doc_id, seed, minhash) face: seed rows come from a plain
# sequence explode and minhash is a CASE over the 16 slot columns — chosen
# over posexplode(array(m0..m15)) so a consumer that only needs the ROW
# SHAPE (count/exists-style probes) lets Catalyst prune the whole hash
# chain away, exactly as the old explode-and-regroup form did
_MINHASH_SEED_CASE = ("CASE seed "
                      + " ".join(f"WHEN {i} THEN m{i}" for i in range(16))
                      + " END")

_MINHASH_SPARK = f"""WITH m AS {_minhash_m_cte_spark('documents')}
SELECT doc_id, CAST(seed AS INT) AS seed, {_MINHASH_SEED_CASE} AS minhash
FROM m LATERAL VIEW explode(sequence(0, 15)) s AS seed"""

_MINHASH_DUCK = f"""WITH w AS (
  SELECT DISTINCT doc_id, unnest(split(text, ' ')) AS word FROM documents
),
seeded AS (
  SELECT doc_id, seed,
         min({_HASH60_DUCK.format(x="concat(CAST(seed AS VARCHAR), ':', word)")}) AS minhash
  FROM w, unnest(range(0, 16)) AS t(seed)
  GROUP BY doc_id, seed
)
SELECT doc_id, CAST(seed AS INT) AS seed, minhash FROM seeded"""

QUERIES["dedup_minhash_signatures"] = _pair(_MINHASH_SPARK, _MINHASH_DUCK)

# LSH candidate pairs: 4 bands x 4 rows; docs sharing any band key pair up.
# Mega-buckets (>100 docs sharing a band key) are skipped — at web scale a
# bucket that common is boilerplate, not a duplicate candidate set, and
# pairing inside it is quadratic; exact-hash dedup (dedup_exact) already
# catches identical docs. Standard LSH practice, applied identically in
# both dialects so the oracle still matches.
_LSH_MEMBER_TAIL = """
bands AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         {h_band} AS band_key
  FROM (SELECT doc_id, seed, minhash FROM sig) s
  GROUP BY doc_id, CAST(floor(seed / 4) AS INT)
),
small_buckets AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND 100
),
member AS (
  SELECT b.doc_id, b.band, b.band_key
  FROM bands b JOIN small_buckets s
    ON b.band = s.band AND b.band_key = s.band_key
)"""

_LSH_PAIRS_SELECT = """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM member a JOIN member b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id"""

# Per-row band keys from the columnar signature (r10): band b's key hashes
# the SAME sorted 'seed=minhash' join the collect_list form produced — the
# four elements are built inline from m{4b}..m{4b+3} and array_sort'ed, so
# the (doc_id, band) aggregation exchange disappears entirely.  (The sort
# is over the same four strings collect_list gathered; string order of
# '10=..' vs '8=..' etc. is whatever array_sort says in BOTH forms.)


def _band_key_expr_spark(band: int) -> str:
    # sort_array, not array_sort: identical ascending order on these
    # never-null strings, but array_sort carries a default LAMBDA
    # comparator that keeps the whole expression interpreted (no codegen)
    # — measured ~0.4 ms/doc inside the Generate, the dominant cost of
    # the whole band derivation at bench scale
    elems = ", ".join(
        f"concat('{s}=', CAST(m{s} AS STRING))"
        for s in range(4 * band, 4 * band + 4))
    return _HASH60_SPARK.format(
        x=f"array_join(sort_array(array({elems})), ',')")


# band keys are computed in their OWN projection (k0..k3, whole-stage
# codegen) and the Generate only inlines precomputed values: putting the
# md5/concat chain inside the generator expression measured ~0.26 ms/doc
# (GenerateExec evaluates its generator interpreted, outside codegen)
_BAND_KEYS_PROJ_SPARK = ", ".join(
    f"{_band_key_expr_spark(b)} AS k{b}" for b in range(4))
_BANDS_INLINE_SPARK = (
    "LATERAL VIEW inline(array("
    + ", ".join(
        f"struct(CAST({b} AS INT) AS band, k{b} AS band_key)"
        for b in range(4))
    + ")) bt AS band, band_key"
)

# Spark member stage uses a WINDOW for the bucket cap instead of the
# HAVING+join formulation: `bands` is then referenced exactly once, so the
# signature chain below it executes once (the HAVING+join shape re-executes
# it for small_buckets AND member). The window partitioning (band, band_key)
# is the same key the self-join shuffles on. Semantically identical to the
# DuckDB HAVING formulation.
_LSH_MEMBER_SPARK = (
    f"WITH m AS {_minhash_m_cte_spark('documents')},"
    + f"""
bands AS (
  SELECT doc_id, band, band_key
  FROM (SELECT doc_id, {_BAND_KEYS_PROJ_SPARK} FROM m) km
  {_BANDS_INLINE_SPARK}
),
member AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bsize
    FROM bands) t
  WHERE bsize BETWEEN 2 AND 100
)
SELECT doc_id, band, band_key FROM member"""
)
_LSH_SPARK = _LSH_MEMBER_SPARK.replace(
    "\nSELECT doc_id, band, band_key FROM member", _LSH_PAIRS_SELECT
)
# the replace must actually fire: if a future edit reformats the member
# SELECT tail, a silent no-op here would make dedup_lsh_pairs return member
# rows instead of pairs and only be caught at oracle-run time
assert _LSH_SPARK != _LSH_MEMBER_SPARK, \
    "_LSH_MEMBER_SPARK tail marker not found; pairs SELECT was not spliced"
_LSH_DUCK = (
    "WITH sig AS (" + _MINHASH_DUCK + "), "
    + _LSH_MEMBER_TAIL.format(
        h_band=_HASH60_DUCK.format(
            x="array_to_string(list_sort(list("
              "concat(CAST(seed AS VARCHAR), '=', CAST(minhash AS VARCHAR)))), ',')"
        )
    )
    + _LSH_PAIRS_SELECT
)
QUERIES["dedup_lsh_pairs"] = _pair(_LSH_SPARK, _LSH_DUCK)


# ---- batch-incremental NEAR-dup (the daily-crawl twin of the streaming
# band-claim store, streaming/ingest.py:269-328): an incoming batch is
# checked for NEAR duplicates of the MATERIALIZED corpus — corpus band
# signatures derived on read (or stored in the sink at write time), a
# banded equi-join generates candidates, word-set jaccard verifies them.
# Scale shape: both signature passes are linear (explode words x 16
# seeds, group), the candidate join is an equi-join on (band, band_key)
# with the corpus-side mega-bucket cap bounding any bucket fanout, and
# the verify join touches only candidate pairs. Nothing is all-pairs.
NEAR_INCR_THRESHOLD_X1E4 = 9000
_NEAR_BUCKET_CAP = 100

_BAND_KEY_DUCK = _HASH60_DUCK.format(
    x="array_to_string(list_sort(list("
      "concat(CAST(seed AS VARCHAR), '=', CAST(minhash AS VARCHAR)))), ',')")


def _minhash_band_ctes_spark(tbl: str) -> str:
    """CTE chain {tbl}_mh/{tbl}_band over any (doc_id, text) relation —
    the _MINHASH_SPARK pipeline parameterized by table, in the columnar
    one-exchange form (see the _minhash_m_cte_spark comment; consumers
    reference only {tbl}_band, whose rows are value-identical to the old
    explode-and-regroup chain)."""
    return f"""{tbl}_mh AS {_minhash_m_cte_spark(tbl)},
{tbl}_band AS (
  SELECT doc_id, band, band_key
  FROM (SELECT doc_id, {_BAND_KEYS_PROJ_SPARK} FROM {tbl}_mh) km
  {_BANDS_INLINE_SPARK}
)"""


def _minhash_band_ctes_duck(tbl: str) -> str:
    h = _HASH60_DUCK.format(
        x="concat(CAST(seed AS VARCHAR), ':', word)")
    return f"""{tbl}_w AS (
  SELECT DISTINCT doc_id, unnest(split(text, ' ')) AS word FROM {tbl}
),
{tbl}_sig AS (
  SELECT doc_id, seed, min({h}) AS minhash
  FROM {tbl}_w, unnest(range(0, 16)) AS t(seed)
  GROUP BY doc_id, seed
),
{tbl}_band AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         {_BAND_KEY_DUCK} AS band_key
  FROM {tbl}_sig
  GROUP BY doc_id, CAST(floor(seed / 4) AS INT)
)"""


# incoming batch: the odd half of documents plus near-dup clones of the
# even (corpus) half — one appended word, so word-set jaccard with the
# original is n/(n+1) (above threshold for any doc with >9 distinct
# words). Clones carry NEGATIVE ids (never collide with real ids).
_NEAR_BATCH_CTE = """batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, concat(text, ' znearq') AS text
  FROM documents WHERE doc_id % 4 = 0
)"""

# verdict tail: corpus-side bucket cap (<= cap; size-1 buckets are valid
# here — this is a batch->corpus join, not a self-join), banded candidate
# join, word-set jaccard verify, per-batch-doc verdict. {cmember} differs
# per dialect (window vs HAVING+join — same reason as dedup_lsh_pairs);
# {inter}/{uni} are the set-function spellings.
# Split into CTE chain + verdict SELECT so the capstone composition
# (crawl_increment_e2e) can embed the verdict as its own CTE; the
# standalone form below concatenates them unchanged.
_NEAR_TAIL_CTES = """cand AS (
  SELECT DISTINCT b.doc_id AS bdoc, c.doc_id AS cdoc
  FROM batch_band b JOIN cmember c
    ON b.band = c.band AND b.band_key = c.band_key
),
bws AS (SELECT doc_id, {distinct_words} AS ws FROM batch),
cws AS (SELECT doc_id, {distinct_words} AS ws FROM corpus),
verified AS (
  SELECT cand.bdoc,
         max(CAST(floor({inter} * CAST(10000.0 AS DOUBLE) / {uni} + 0.5)
             AS BIGINT)) AS best_j
  FROM cand JOIN bws a ON cand.bdoc = a.doc_id
            JOIN cws c ON cand.cdoc = c.doc_id
  GROUP BY cand.bdoc
)"""

_NEAR_VERDICT_SELECT = """SELECT b.doc_id,
       CAST(CASE WHEN coalesce(v.best_j, 0) >= {thr} THEN 1 ELSE 0 END
            AS INT) AS near_in_corpus,
       CAST(coalesce(v.best_j, 0) AS BIGINT) AS best_jaccard_x1e4
FROM batch b LEFT JOIN verified v ON b.doc_id = v.bdoc"""

_NEAR_CTES_SPARK = (
    """cmember AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bsize
    FROM corpus_band) t
  WHERE bsize <= {cap}
),
""".format(cap=_NEAR_BUCKET_CAP)
    + _NEAR_TAIL_CTES.format(
        distinct_words="array_distinct(split(text, ' '))",
        inter="size(array_intersect(a.ws, c.ws))",
        uni="size(array_union(a.ws, c.ws))",
    )
)

_NEAR_VERDICT_SPARK = _NEAR_VERDICT_SELECT.format(
    thr=NEAR_INCR_THRESHOLD_X1E4)

_NEAR_TAIL_SPARK = _NEAR_CTES_SPARK + "\n" + _NEAR_VERDICT_SPARK

_NEAR_CTES_DUCK = (
    """cbuckets AS (
  SELECT band, band_key FROM corpus_band
  GROUP BY band, band_key HAVING count(*) <= {cap}
),
cmember AS (
  SELECT cb.doc_id, cb.band, cb.band_key
  FROM corpus_band cb JOIN cbuckets s
    ON cb.band = s.band AND cb.band_key = s.band_key
),
""".format(cap=_NEAR_BUCKET_CAP)
    + _NEAR_TAIL_CTES.format(
        distinct_words="list_distinct(split(text, ' '))",
        inter="length(list_intersect(a.ws, c.ws))",
        uni="length(list_distinct(list_concat(a.ws, c.ws)))",
    )
)

_NEAR_VERDICT_DUCK = _NEAR_VERDICT_SELECT.format(
    thr=NEAR_INCR_THRESHOLD_X1E4)

_NEAR_TAIL_DUCK = _NEAR_CTES_DUCK + "\n" + _NEAR_VERDICT_DUCK


def near_incremental_spark_sql(corpus_view: str) -> str:
    """Spark side of dedup_incremental_near with corpus bands DERIVED ON
    READ — kept as the storage-free form (and as the equality baseline
    for the stored-band path, tests/test_checkpoint.py), but at 100 TB
    this re-tokenizes and re-minhashes the ENTIRE corpus per batch; the
    product path is near_verdict_prebanded_sql over the band table the
    sink persists, pruned by plans/checkpoint.probe_band_table (r7
    verdict #1)."""
    return (
        "WITH " + _NEAR_BATCH_CTE + ",\n"
        + f"corpus AS (SELECT doc_id, clean_text AS text "
          f"FROM {corpus_view}),\n"
        + _minhash_band_ctes_spark("batch") + ",\n"
        + _minhash_band_ctes_spark("corpus") + ",\n"
        + _NEAR_TAIL_SPARK
    )


def band_signatures_spark_sql(view: str, text_col: str = "clean_text") -> str:
    """(doc_id, band, band_key) MinHash band signatures over any
    (doc_id, {text_col}) relation — THE band definition (16 seeds, 4x4
    bands, 60-bit band_key), shared verbatim with every consumer:
    dedup_minhash_signatures/dedup_lsh_pairs derive it ad hoc, the
    bucketed sink persists it per bucket at write time
    (plans/checkpoint.write_docs_bucketed(write_bands=True)), and
    near_verdict_prebanded_sql serves candidate generation from the
    persisted copy. One definition means stored and derived bands
    are equal by construction (asserted in tests/test_checkpoint.py)."""
    return (
        f"WITH corpus AS (SELECT doc_id, {text_col} AS text FROM {view}),\n"
        + _minhash_band_ctes_spark("corpus")
        + "\nSELECT doc_id, band, band_key FROM corpus_band"
    )


def near_batch_spark_sql() -> str:
    """The standalone near-dup row's synthetic batch (odd half + one-word
    near clones, negative clone ids) as its own statement — the pruned
    serve path derives the batch's band signatures OUTSIDE the candidate
    SQL (they drive the band-table scan pruning), so it needs the batch
    relation as a registrable view."""
    return "WITH " + _NEAR_BATCH_CTE + "\nSELECT doc_id, text FROM batch"


def near_verdict_prebanded_sql(batch_view: str, batch_band_view: str,
                               corpus_view: str,
                               corpus_band_view: str) -> str:
    """Near-dup verdicts with BOTH band sides pre-materialized: the batch's
    band signatures arrive as a view (derived once, also used to prune the
    stored band-table scan — plans/checkpoint.probe_band_table), and the
    corpus side is the PRUNED stored band table. Same _NEAR_TAIL chain, so
    verdict semantics are identical to near_incremental_spark_sql (bands
    derived on read) by construction: pruning drops only whole (band,
    band_key) groups whose key no batch row carries (the predicate is on
    band_key alone), which can never join in cand and never change a
    surviving group's bsize cap. Candidate generation scans only the
    band columns; the corpus text is read only by the jaccard verify
    join (plan-asserted in tests/test_plans.py)."""
    return (
        f"WITH batch AS (SELECT doc_id, text FROM {batch_view}),\n"
        f"corpus AS (SELECT doc_id, clean_text AS text "
        f"FROM {corpus_view}),\n"
        f"batch_band AS (SELECT doc_id, band, band_key "
        f"FROM {batch_band_view}),\n"
        f"corpus_band AS (SELECT doc_id, band, band_key "
        f"FROM {corpus_band_view}),\n"
        + _NEAR_TAIL_SPARK
    )


def _near_incremental_duck_sql() -> str:
    """DuckDB twin: re-derives the corpus (first occurrence per 60-bit
    hash among even ids — exactly what the Spark side wrote through the
    sink) and every band/jaccard verdict straight from `documents`."""
    h = _HASH60_DUCK.format(x="text")
    corpus = f"""corpus AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY {h} ORDER BY doc_id ASC) AS rn
    FROM documents WHERE doc_id % 2 = 0) t
  WHERE rn = 1
)"""
    return (
        "WITH " + _NEAR_BATCH_CTE + ",\n"
        + corpus + ",\n"
        + _minhash_band_ctes_duck("batch") + ",\n"
        + _minhash_band_ctes_duck("corpus") + ",\n"
        + _NEAR_TAIL_DUCK
    )


# --- crawl_increment_e2e: the daily-crawl increment capstone ---------------
# One composition of the whole LLM-data story (r7 verdict #3): today's
# crawl batch (odd ids + exact clones of corpus docs + near clones) →
# WARC framing → the real WARC reader → cleaning gates (within-batch
# dedup + quality + split) → incremental EXACT dedup vs the materialized
# corpus hashes → incremental NEAR dedup vs the corpus's STORED band
# table → survivors through the bucketed sink (write_bands=True: they
# become tomorrow's band corpus) → synthetic-encoding pack append to
# shard-partitioned training files → lineage. Spark runs the real
# artifacts (counts READ BACK from written files); DuckDB re-derives
# every stage count from `documents` arithmetically in ONE statement.
_CRAWL_BATCH_CTE = """batch_raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, concat(text, ' znearq') AS text
  FROM documents WHERE doc_id % 4 = 2
)"""

CRAWL_SEQ_LEN = 128
CRAWL_NUM_BUCKETS = 2


def crawl_batch_spark_sql() -> str:
    """Today's synthetic crawl batch (the WARC framing input): the odd
    half plus exact clones of corpus (doc_id%4==0) docs and one-word-
    mutated near clones of doc_id%4==2 docs, clone ids negative (the
    _NEAR_BATCH_CTE discipline). Same CTE text feeds the DuckDB twin."""
    return "WITH " + _CRAWL_BATCH_CTE + "\nSELECT doc_id, text FROM batch_raw"


def _crawl_increment_oracle_duck() -> str:
    """DuckDB re-derivation of every crawl_increment_e2e stage count from
    `documents`: the WARC round trip, the sink round trips, the stored
    band table and the pack geometry must all agree with pure arithmetic
    over the raw corpus — a framing bug, band drift, a lost/duplicated
    survivor or a pack off-by-one shifts a count and hash-mismatches."""
    h = _HASH60_DUCK.format(x="text")
    corpus = f"""corpus AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY {h} ORDER BY doc_id ASC) AS rn
    FROM documents WHERE doc_id % 2 = 0) t
  WHERE rn = 1
)"""
    gates = _WARC_GATES_CTES.format(
        src="batch_raw",
        nwords="length(split(text, ' '))",
        ndistinct="length(list_distinct(split(text, ' ')))",
        h=h,
    )
    toks = "length(regexp_split_to_array(trim(text), '[ \\t\\n]+'))"
    return (
        "WITH " + _CRAWL_BATCH_CTE + ",\n"
        + corpus + ",\n"
        + gates + ",\n"
        + "batch_clean AS (\n" + _WARC_GATES_SELECT + "\n),\n"
        + f"""corpus_hashes AS (SELECT DISTINCT {h} AS ch FROM corpus),
exact_flag AS (
  SELECT bc.doc_id, bc.clean_hash, bc.clean_text,
         CASE WHEN h2.ch IS NOT NULL THEN 1 ELSE 0 END AS in_corpus
  FROM batch_clean bc
  LEFT JOIN corpus_hashes h2 ON bc.clean_hash = h2.ch
),
batch AS (SELECT doc_id, clean_text AS text FROM exact_flag
          WHERE in_corpus = 0),
"""
        + _minhash_band_ctes_duck("batch") + ",\n"
        + _minhash_band_ctes_duck("corpus") + ",\n"
        + _NEAR_CTES_DUCK + ",\n"
        + "near AS (\n" + _NEAR_VERDICT_DUCK + "\n),\n"
        + f"""survivors AS (
  SELECT b.doc_id, b.text FROM batch b JOIN near n ON b.doc_id = n.doc_id
  WHERE n.near_in_corpus = 0
),
surv_tok AS (
  SELECT {toks} AS toks FROM survivors WHERE length(trim(text)) > 0
)
SELECT 'batch_docs' AS stage, CAST(count(*) AS BIGINT) AS n FROM batch_raw
UNION ALL
SELECT 'batch_clean' AS stage, CAST(count(*) AS BIGINT) AS n
FROM batch_clean
UNION ALL
SELECT 'corpus_docs' AS stage, CAST(count(*) AS BIGINT) AS n FROM corpus
UNION ALL
SELECT 'exact_dropped' AS stage, CAST(count(*) AS BIGINT) AS n
FROM exact_flag WHERE in_corpus = 1
UNION ALL
SELECT 'near_dropped' AS stage, CAST(count(*) AS BIGINT) AS n
FROM near WHERE near_in_corpus = 1
UNION ALL
SELECT 'survivors' AS stage, CAST(count(*) AS BIGINT) AS n FROM survivors
UNION ALL
SELECT 'packed_tokens' AS stage,
       CAST(coalesce(sum(toks), 0) AS BIGINT) AS n FROM surv_tok
UNION ALL
SELECT 'packed_seqs' AS stage,
       CAST((coalesce(sum(toks), 0) + {CRAWL_SEQ_LEN - 1})
            // {CRAWL_SEQ_LEN} AS BIGINT) AS n
FROM surv_tok
UNION ALL
SELECT 'lineage_rows' AS stage,
       CAST({CRAWL_NUM_BUCKETS} AS BIGINT) AS n
UNION ALL
SELECT 'survivors_after_compact' AS stage,
       CAST(count(*) AS BIGINT) AS n FROM survivors
UNION ALL
SELECT 'bands_after_compact' AS stage,
       CAST(4 * count(*) AS BIGINT) AS n FROM survivors"""
    )


def dedup_lsh_pairs_df(spark):
    """Faster Spark path for dedup_lsh_pairs — identical output.

    As one SQL statement Catalyst executes the expensive signature chain
    (word explode × 16 seeds → min-hash groupBy) FOUR times: small_buckets,
    member's bands, and both self-join sides get their own scans (AQE's
    per-side broadcast conversion defeats ReusedExchange). The member table
    is tiny (≤4 rows/doc, a few strings) while the chain below it dominates
    the cost, so materialize member once and self-join the materialized
    rows. Wall-time ~2× better at sf0.1; output is byte-identical.
    ``util.materialize`` is the tier: persisted with lineage (a lost block
    recomputes), freed by ``spark.catalog.clearCache()`` at the next query
    boundary; no lineage cut is needed for a one-shot relation.
    """
    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.util import materialize

    member = materialize(spark.sql(_LSH_MEMBER_SPARK))
    a, b = member.alias("a"), member.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

# Duplicate-cluster resolution oracle: connected components over the LSH
# candidate pairs via a recursive transitive-closure CTE (fine at oracle
# scale; the Spark side is iterative min-label propagation —
# operators/clusters.resolve_clusters — because closure materialization is
# quadratic per component and a 10^12-doc corpus needs the log-round loop).
# cluster_id = component-minimum doc_id; keep = 1 iff canonical survivor;
# singletons (docs in no pair) keep their own id.
_CLUSTERS_DUCK = f"""WITH RECURSIVE pairs AS (
{_LSH_DUCK}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id"""

# Quality-ranked canonical pick: same components, but the survivor per
# cluster is the BEST member — here the longest text in bytes (strlen ==
# Spark octet_length; ties -> smallest doc_id) — instead of the smallest
# id. The Spark side is resolve_clusters(rank_col=...): identical
# propagation, one post-convergence window.
_CLUSTERS_RANKED_DUCK = _CLUSTERS_DUCK.replace(
    """SELECT d.doc_id,
       CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id""",
    """SELECT doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(CASE WHEN row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY rank ASC, doc_id ASC) = 1
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM (
  SELECT d.doc_id,
         coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         -strlen(d.text) AS rank
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
) assigned""")
# the replace must actually fire (same guard idiom as _LSH_SPARK): a
# reformat of the _CLUSTERS_DUCK tail would otherwise silently leave the
# ranked oracle identical to the unranked one
assert _CLUSTERS_RANKED_DUCK != _CLUSTERS_DUCK, \
    "_CLUSTERS_DUCK tail marker not found; ranked pick was not spliced"

# n-gram (word bigram) jaccard between adjacent doc ids — linear, exact
_JACCARD_SPARK = """WITH grams AS (
  SELECT doc_id, collect_set(concat(w[0], ' ', w[1])) AS gs
  FROM (
    SELECT doc_id,
           transform(sequence(0, size(split(text, ' ')) - 2),
                     i -> array(split(text, ' ')[i], split(text, ' ')[i + 1])) AS pairs
    FROM documents
  ) t LATERAL VIEW explode(pairs) p AS w
  GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(size(array_intersect(a.gs, b.gs)) AS INT) AS n_intersect,
       CAST(size(array_union(a.gs, b.gs)) AS INT) AS n_union,
       CAST(floor(size(array_intersect(a.gs, b.gs)) * CAST(10000.0 AS DOUBLE) /
             size(array_union(a.gs, b.gs)) + 0.5) AS BIGINT) AS jaccard_x1e4
FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1"""

_JACCARD_DUCK = """WITH w AS (
  SELECT doc_id, u.w[1] AS word, u.w[2] AS pos
  FROM (SELECT doc_id,
               unnest(list_zip(split(text, ' '),
                               range(0, length(split(text, ' '))))) AS w
        FROM documents) u
),
grams AS (
  SELECT a.doc_id, list(DISTINCT concat(a.word, ' ', b.word)) AS gs
  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(length(list_intersect(a.gs, b.gs)) AS INT) AS n_intersect,
       CAST(length(list_distinct(list_concat(a.gs, b.gs))) AS INT) AS n_union,
       CAST(floor(length(list_intersect(a.gs, b.gs)) * CAST(10000.0 AS DOUBLE) /
             length(list_distinct(list_concat(a.gs, b.gs))) + 0.5) AS BIGINT) AS jaccard_x1e4
FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1"""

QUERIES["dedup_ngram_jaccard"] = _pair(_JACCARD_SPARK, _JACCARD_DUCK)

# SimHash (16-bit) over distinct words: bit b set iff as many word-hashes
# have bit b set as not (majority vote), hash = sum of bits << b
_SIMHASH = """
w AS ({words}),
bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN CAST(floor(h / power(2, bit)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM (SELECT doc_id, {h} AS h FROM w) hashed
  {bitsrc}
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(power(2, bit) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash16
FROM bits GROUP BY doc_id"""

QUERIES["dedup_simhash"] = _pair(
    "WITH "
    + _SIMHASH.format(
        words="SELECT DISTINCT doc_id, word FROM documents "
              "LATERAL VIEW explode(split(text, ' ')) t AS word",
        h=_HASH60_SPARK.format(x="word"),
        bitsrc="LATERAL VIEW explode(sequence(0, 15)) b AS bit",
    ),
    "WITH "
    + _SIMHASH.format(
        words="SELECT DISTINCT doc_id, unnest(split(text, ' ')) AS word "
              "FROM documents",
        h=_HASH60_DUCK.format(x="word"),
        bitsrc=", unnest(range(0, 16)) AS t(bit)",
    ),
)

# ANN: brute-force cosine top-k, rank-only output (no floats in the compare).
# Queries = vec_id < 5; corpus = vec_id >= 5; cosine rounded to 6dp before
# ranking, ties broken by vec_id.
_ANN_SPARK = """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
),
-- REPARTITION(vec_id): the corpus side of the broadcast cross join is
-- otherwise a single scan split at small corpus sizes, serializing the
-- interpreted higher-order cosine (zip_with/aggregate lambdas) on one
-- task; one exchange of the corpus vectors spreads it (scale-neutral:
-- this is the exhaustive-verify kernel, the served path is ANN)
c AS (SELECT /*+ REPARTITION(vec_id) */ vec_id, embedding AS ce
      FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(
           aggregate(zip_with(qe, ce, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
           / (sqrt(aggregate(transform(qe, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),
                             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
              * sqrt(aggregate(transform(ce, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))),
           6) AS cos
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 10"""

_ANN_DUCK = """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
pairs AS (
  SELECT q.query_id, c.vec_id,
         unnest(list_zip(qe, ce)) AS z
  FROM q CROSS JOIN c
),
scored AS (
  SELECT query_id, vec_id,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM pairs GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 10"""

QUERIES["ann_cosine_topk"] = _pair(_ANN_SPARK, _ANN_DUCK)

# language-ID heuristic: stopword-hit counts per language, argmax with a
# fixed tie order (non-overlapping split counting — identical both sides)
_LANGS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "que", "los"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["le", "les", "des", "est"],
    "zh": ["de5", "shi4", "zai4", "le5"],
}


def _lang_score(lang: str) -> str:
    terms = [
        f"(size(split(' ' || text || ' ', ' {w} ')) - 1)" for w in _LANGS[lang]
    ]
    return " + ".join(terms)


def _lang_score_duck(lang: str) -> str:
    terms = [
        f"(length(split(' ' || text || ' ', ' {w} ')) - 1)" for w in _LANGS[lang]
    ]
    return " + ".join(terms)


_LANG_CASE = """CASE
  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
  WHEN s_fr >= s_zh THEN 'fr'
  ELSE 'zh' END"""

QUERIES["text_lang_id"] = _pair(
    f"""WITH scores AS (
  SELECT doc_id, {_lang_score('en')} AS s_en, {_lang_score('es')} AS s_es,
         {_lang_score('de')} AS s_de, {_lang_score('fr')} AS s_fr,
         {_lang_score('zh')} AS s_zh
  FROM documents)
SELECT doc_id, {_LANG_CASE} AS pred_lang,
       CAST(s_en AS INT) AS s_en FROM scores""",
    f"""WITH scores AS (
  SELECT doc_id, {_lang_score_duck('en')} AS s_en, {_lang_score_duck('es')} AS s_es,
         {_lang_score_duck('de')} AS s_de, {_lang_score_duck('fr')} AS s_fr,
         {_lang_score_duck('zh')} AS s_zh
  FROM documents)
SELECT doc_id, {_LANG_CASE} AS pred_lang,
       CAST(s_en AS INT) AS s_en FROM scores""",
)

# quality scoring: length/word/punct/stopword features, integer outputs
_QUALITY = """SELECT doc_id,
       CAST({nwords} AS INT) AS n_words,
       CAST({ndistinct} AS INT) AS n_distinct_words,
       CAST(floor({ndistinct} * CAST(10000.0 AS DOUBLE) / {nwords} + 0.5)
            AS BIGINT) AS distinct_ratio_x1e4,
       CAST(floor({bytelen}(text) * CAST(10000.0 AS DOUBLE) / {nwords} + 0.5)
            AS BIGINT) AS avg_word_bytes_x1e4,
       CASE WHEN {nwords} >= 50 AND {ndistinct} * CAST(1.0 AS DOUBLE) / {nwords} > 0.1
            THEN 'keep' ELSE 'flag' END AS quality_gate
FROM documents"""

QUERIES["text_quality_score"] = _pair(
    _QUALITY.format(
        nwords="size(split(text, ' '))",
        ndistinct="size(array_distinct(split(text, ' ')))",
        bytelen="octet_length",
    ),
    _QUALITY.format(
        nwords="length(split(text, ' '))",
        ndistinct="length(list_distinct(split(text, ' ')))",
        bytelen="strlen",
    ),
)

# whitespace token counting
QUERIES["text_token_count"] = _pair(
    """SELECT doc_id, CAST(size(split(trim(text), '[ \\t\\n]+')) AS INT) AS n_tokens
FROM documents WHERE length(trim(text)) > 0""",
    r"""SELECT doc_id, CAST(length(regexp_split_to_array(trim(text), '[ \t\n]+')) AS INT) AS n_tokens
FROM documents WHERE length(trim(text)) > 0""",
)

# document fingerprint: md5 of whitespace-normalized lowercased text
QUERIES["text_fingerprint"] = _pair(
    """SELECT doc_id, md5(lower(regexp_replace(text, '[ \\t\\n]+', ' '))) AS fingerprint
FROM documents""",
    r"""SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n]+', ' ', 'g'))) AS fingerprint
FROM documents""",
)


# URL canonicalization — the prerequisite of URL-level dedup at crawl
# scale (the same page arrives as HTTPS://WWW.Site.COM:443/p?utm_x=..#f
# and https://www.site.com/p): lowercase scheme+host, strip default
# ports, drop fragments, drop utm_* tracking params, sort the surviving
# params, plus a naive 2-label registrable-domain (real pipelines use the
# Public Suffix List; the synthetic hosts are all 2-label-registrable).
# Messy inputs are synthesized from doc_id in two shapes (uppercase https
# with default :443 + utm params + fragment; plain http, no port, no
# noise). The Spark side PARSES generically with string built-ins; the
# DuckDB oracle recomputes the expected canonical form arithmetically
# from doc_id — no parsing — so the parser itself is what's checked.
_URL_MESSY_SPARK = (
    "CASE WHEN doc_id % 2 = 0 THEN "
    "concat('HTTPS://WWW.Site', CAST(doc_id % 20 AS STRING), '.Example', "
    "CAST(doc_id % 3 AS STRING), '.COM:443/path/', CAST(doc_id AS STRING), "
    "'/?utm_source=x&id=', CAST(doc_id AS STRING), '&utm_campaign=y&b=2#frag') "
    "ELSE concat('http://site', CAST(doc_id % 20 AS STRING), '.example', "
    "CAST(doc_id % 3 AS STRING), '.com/p', CAST(doc_id AS STRING)) END"
)

def _url_canon_chain(carry: str = "") -> str:
    """parts → canon → canonical CTE chain over a CTE ``urls(doc_id,
    url{carry})``: generic URL parsing with Spark string built-ins —
    lowercase scheme+host, strip default ports, drop fragments, drop utm_*
    params, sort surviving params. Shared by text_url_canonicalize and
    dedup_url_canonical so the parser the dedup groups on cannot drift
    from the one the canonicalizer is value-checked on. ``carry`` threads
    extra columns (e.g. ``, q``) through to ``canonical``."""
    return f"""parts AS (
  SELECT doc_id{carry}, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1))
           AS host,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1)
           AS port,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
           AS path,
         regexp_extract(url, '\\\\?([^#]*)', 1) AS query
  FROM urls
),
canon AS (
  SELECT doc_id{carry}, scheme, host, path,
         CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                   OR (scheme = 'http' AND port = '80')
              THEN '' ELSE concat(':', port) END AS port_part,
         array_join(array_sort(filter(split(query, '&'),
                    p -> p != '' AND NOT startswith(p, 'utm_'))), '&')
           AS params
  FROM parts
),
canonical AS (
  SELECT doc_id{carry}, host,
         concat(scheme, '://', host, port_part, path,
                CASE WHEN params = '' THEN '' ELSE concat('?', params) END)
           AS canonical_url
  FROM canon
)"""


_URL_CANON_SPARK = f"""WITH urls AS (
  SELECT doc_id, {_URL_MESSY_SPARK} AS url FROM documents
),
{_url_canon_chain()}
SELECT doc_id, canonical_url,
       array_join(slice(split(host, '\\\\.'),
                        size(split(host, '\\\\.')) - 1, 2), '.')
         AS registrable_domain
FROM canonical"""

_URL_CANON_DUCK = """SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN
         'https://www.site' || CAST(doc_id % 20 AS VARCHAR) || '.example'
           || CAST(doc_id % 3 AS VARCHAR) || '.com/path/'
           || CAST(doc_id AS VARCHAR) || '/?b=2&id=' || CAST(doc_id AS VARCHAR)
       ELSE
         'http://site' || CAST(doc_id % 20 AS VARCHAR) || '.example'
           || CAST(doc_id % 3 AS VARCHAR) || '.com/p' || CAST(doc_id AS VARCHAR)
       END AS canonical_url,
       'example' || CAST(doc_id % 3 AS VARCHAR) || '.com'
         AS registrable_domain
FROM documents"""

QUERIES["text_url_canonicalize"] = _pair(_URL_CANON_SPARK, _URL_CANON_DUCK)


# URL-level dedup — the FIRST dedup a crawl pipeline runs (the same page
# fetched twice is cheaper to drop than the same text twice; WARC records
# carry urls before any content is parsed). Composes the canonicalizer
# above with the quality-ranked survivor pick (the dedup_clusters_ranked
# idiom): group by canonical_url, survivor = longest text in bytes (ties →
# smallest doc_id). Messy inputs collide by construction: docs i and
# i+251 share group key k = doc_id % 251 (251 odd, so the pair spans both
# messy shapes — uppercase+:443+utm vs plain lowercase) and must resolve
# to ONE kept row. Scale shape: a single scan + ONE hash-partitioned
# window over canonical_url (~a few tens of bytes/doc of shuffle), no
# join — the same shape at 10^12 rows. The Spark side PARSES the url
# generically (shared _url_canon_chain); DuckDB recomputes the canonical
# form arithmetically from doc_id, so the parser + window is what's
# value-checked.
_URL_DUP_MESSY_SPARK = (
    "CASE WHEN doc_id % 2 = 0 THEN "
    "concat('HTTPS://Site', CAST(doc_id % 251 % 20 AS STRING), '.Example', "
    "CAST(doc_id % 251 % 3 AS STRING), '.COM:443/page/', "
    "CAST(doc_id % 251 AS STRING), '?utm_source=x&utm_campaign=y#frag') "
    "ELSE concat('https://site', CAST(doc_id % 251 % 20 AS STRING), "
    "'.example', CAST(doc_id % 251 % 3 AS STRING), '.com/page/', "
    "CAST(doc_id % 251 AS STRING)) END"
)

_URL_DEDUP_TAIL = """ranked AS (
  SELECT doc_id, q, canonical_url,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY q DESC, doc_id ASC) AS pick,
         count(*) OVER (PARTITION BY canonical_url) AS url_group_size
  FROM canonical
)
SELECT doc_id, canonical_url,
       CAST(url_group_size AS INT) AS url_group_size,
       CAST(CASE WHEN pick = 1 THEN 1 ELSE 0 END AS INT) AS kept
FROM ranked"""

QUERIES["dedup_url_canonical"] = _pair(
    f"""WITH urls AS (
  SELECT doc_id, octet_length(text) AS q, {_URL_DUP_MESSY_SPARK} AS url
  FROM documents
),
{_url_canon_chain(carry=", q")},
{_URL_DEDUP_TAIL}""",
    f"""WITH canonical AS (
  SELECT doc_id, strlen(text) AS q,
         'https://site' || CAST(doc_id % 251 % 20 AS VARCHAR) || '.example'
           || CAST(doc_id % 251 % 3 AS VARCHAR) || '.com/page/'
           || CAST(doc_id % 251 AS VARCHAR) AS canonical_url
  FROM documents
),
{_URL_DEDUP_TAIL}""",
)


# PSL-based registrable domain — the real-world upgrade of the naive
# 2-label registrable domain above: 'a.b.site.co.uk' and 'site.co.uk' are
# the SAME site (registrable = site.co.uk), while 'x.github.io' and
# 'y.github.io' are DIFFERENT sites (github.io is a public suffix). The
# algorithm is the published Public Suffix List one (publicsuffix.org):
# longest suffix of the host that appears in the list is the public
# suffix; the registrable domain is that suffix plus one more label. A
# deterministic PSL subset is embedded below (real entries, incl. the
# multi-label co.uk / com.au / github.io / k12.va.us AND their shorter
# parents uk / au / io / va.us / us, so longest-match is genuinely
# exercised — matching 'us' when 'k12.va.us' applies is the classic PSL
# bug). Scale shape: membership against the (broadcast-sized, ~10k-entry
# in production) list is an IN-literal — a single zero-shuffle scan, no
# join. Hosts are synthesized from doc_id in four shapes (0-2 extra
# subdomain labels; every ~97th doc is a BARE public suffix, which has no
# registrable domain). The Spark side PARSES generically (split + slice +
# longest-match CASE); the DuckDB oracle re-derives suffix and registrable
# domain arithmetically from doc_id — no parsing — so the matcher itself
# is what's value-checked.
_PSL_SET = ("'com','org','net','uk','au','io','us','jp','co.uk','org.uk',"
            "'com.au','github.io','va.us','co.jp','k12.va.us'")

# (suffix, label-count) drawn by doc_id % 6; host adds 0-2 sub labels
_PSL_PICK = "array('com','org','co.uk','com.au','github.io','k12.va.us')"
_PSL_PICK_DUCK = "['com','org','co.uk','com.au','github.io','k12.va.us']"

_PSL_HOST_SPARK = (
    "CASE WHEN doc_id % 97 = 0 THEN sfx ELSE concat("
    "CASE WHEN doc_id % 3 = 2 THEN concat('a', CAST(doc_id % 7 AS STRING), "
    "'.') ELSE '' END, "
    "CASE WHEN doc_id % 3 >= 1 THEN concat('b', CAST(doc_id % 5 AS STRING), "
    "'.') ELSE '' END, "
    "'site', CAST(doc_id % 20 AS STRING), '.', sfx) END"
)

# hosts(doc_id, host[, q]) -> reg(doc_id, host, labs, sz, nsuf[, q]) with
# the longest-PSL-suffix label count; shared by the extractor query and
# the registrable-domain cap so the matcher the cap groups on cannot
# drift from the one the extractor is value-checked on.
def _psl_match_chain(carry: str = "") -> str:
    return f"""parts AS (
  SELECT doc_id{carry}, host, split(host, '\\\\.') AS labs,
         size(split(host, '\\\\.')) AS sz
  FROM hosts
),
reg AS (
  SELECT doc_id{carry}, host, labs, sz,
    CASE WHEN sz >= 3
              AND array_join(slice(labs, sz - 2, 3), '.') IN ({_PSL_SET})
           THEN 3
         WHEN sz >= 2
              AND array_join(slice(labs, sz - 1, 2), '.') IN ({_PSL_SET})
           THEN 2
         WHEN element_at(labs, sz) IN ({_PSL_SET}) THEN 1
         ELSE 0 END AS nsuf
  FROM parts
)"""


_PSL_REG_EXPR = ("CASE WHEN nsuf > 0 AND sz > nsuf "
                 "THEN array_join(slice(labs, sz - nsuf, nsuf + 1), '.') "
                 "ELSE '' END")

_PSL_DUCK_HOST = (
    "CASE WHEN doc_id % 97 = 0 THEN s ELSE "
    "CASE WHEN doc_id % 3 = 2 THEN 'a' || CAST(doc_id % 7 AS VARCHAR) "
    "|| '.' ELSE '' END || "
    "CASE WHEN doc_id % 3 >= 1 THEN 'b' || CAST(doc_id % 5 AS VARCHAR) "
    "|| '.' ELSE '' END || "
    "'site' || CAST(doc_id % 20 AS VARCHAR) || '.' || s END"
)
_PSL_DUCK_REG = ("CASE WHEN doc_id % 97 = 0 THEN '' "
                 "ELSE 'site' || CAST(doc_id % 20 AS VARCHAR) || '.' || s END")

QUERIES["text_registrable_domain"] = _pair(
    f"""WITH hosts AS (
  SELECT doc_id, {_PSL_HOST_SPARK} AS host
  FROM (SELECT doc_id,
               element_at({_PSL_PICK}, CAST(doc_id % 6 AS INT) + 1) AS sfx
        FROM documents) s
),
{_psl_match_chain()}
SELECT doc_id, host,
       CASE WHEN nsuf > 0
            THEN array_join(slice(labs, sz - nsuf + 1, nsuf), '.')
            ELSE '' END AS public_suffix,
       {_PSL_REG_EXPR} AS registrable_domain
FROM reg""",
    f"""WITH sfx AS (
  SELECT doc_id,
         list_extract({_PSL_PICK_DUCK}, CAST(doc_id % 6 AS INT) + 1) AS s
  FROM documents
)
SELECT doc_id, {_PSL_DUCK_HOST} AS host, s AS public_suffix,
       {_PSL_DUCK_REG} AS registrable_domain
FROM sfx""",
)


# Per-REGISTRABLE-DOMAIN cap — text_domain_cap upgraded with the PSL
# matcher: subdomain mirrors (b1.site3.co.uk, a2.b4.site3.co.uk,
# site3.co.uk) must count against ONE budget, which the naive per-source
# or per-host cap misses entirely. Same scale shape as text_domain_cap:
# single scan (the PSL match is an IN-literal projection) + ONE
# hash-partitioned rank window on the registrable domain — no join. Bare
# public-suffix hosts (registrable = '') share the '' group, keeping the
# window total. The Spark side derives the group key by PARSING via the
# shared _psl_match_chain; DuckDB re-derives it arithmetically.
_PSL_CAP_TAIL = """ranked AS (
  SELECT doc_id, registrable_domain,
         row_number() OVER (PARTITION BY registrable_domain
                            ORDER BY q DESC, doc_id ASC) AS domain_rank,
         count(*) OVER (PARTITION BY registrable_domain) AS domain_total
  FROM regdom
)
SELECT doc_id, registrable_domain,
       CAST(domain_rank AS INT) AS domain_rank,
       CAST(domain_total AS INT) AS domain_total,
       CASE WHEN domain_rank <= 8 THEN 'keep' ELSE 'drop' END AS domain_gate
FROM ranked"""

QUERIES["text_domain_cap_registrable"] = _pair(
    f"""WITH hosts AS (
  SELECT doc_id, n_chars AS q, {_PSL_HOST_SPARK} AS host
  FROM (SELECT doc_id, n_chars,
               element_at({_PSL_PICK}, CAST(doc_id % 6 AS INT) + 1) AS sfx
        FROM documents) s
),
{_psl_match_chain(carry=", q")},
regdom AS (
  SELECT doc_id, q, {_PSL_REG_EXPR} AS registrable_domain FROM reg
),
{_PSL_CAP_TAIL}""",
    f"""WITH regdom AS (
  SELECT doc_id, n_chars AS q, {_PSL_DUCK_REG} AS registrable_domain
  FROM (SELECT doc_id, n_chars,
               list_extract({_PSL_PICK_DUCK}, CAST(doc_id % 6 AS INT) + 1)
                 AS s
        FROM documents) t
),
{_PSL_CAP_TAIL}""",
)


# Blocklist URL filter — the UT1-blocklist-style gate crawl pipelines
# (C4, RefinedWeb, FineWeb lineage) run BEFORE fetching or cleaning:
# drop a URL when its PSL registrable domain is on a blocklist (so
# b1.site3.co.uk and site3.co.uk block together — per-host blocklists
# are trivially evaded by subdomains) or its path contains a blocked
# keyword. Composes the PSL matcher above on PARSED urls. Scale shape:
# pure projection — host/path via regexp_extract, registrable via the
# shared _psl_match_chain (IN-literal), blocklist membership IN-literal
# (production: broadcast the ~3M-entry UT1 set) — zero shuffle, zero
# join. URLs are synthesized from doc_id (every 13th doc gets a blocked
# path keyword; domain blocks fall out of the PSL synthesis); DuckDB
# re-derives every verdict arithmetically, so the parse + match + gate
# chain is what's value-checked.
# Each entry is REACHABLE under the doc_id synthesis (suffix index and
# site number must agree mod lcm(6,20)=60) and the three together pin all
# subdomain depths: site8.co.uk fires at doc_id ≡ 8 (mod 60) → depth 2
# (a?.b?.site8.co.uk — the subdomain-mirror case the registrable-domain
# gate exists for), site14.github.io at ≡ 34 → depth 1, site3.com.au at
# ≡ 3 → depth 0 (bare registrable). Depth coverage is asserted in
# tests/test_psl.py so a synthesis change can't silently strand the
# blocklist on unreachable or subdomain-free hosts again.
_URL_BLOCKED_DOMAINS = "'site8.co.uk','site3.com.au','site14.github.io'"

_URL_FILTER_SPARK_URL = (
    "concat('https://', {host}, CASE WHEN doc_id % 13 = 0 "
    "THEN concat('/casino/', CAST(doc_id AS STRING)) "
    "ELSE concat('/p/', CAST(doc_id AS STRING)) END)"
)

QUERIES["text_url_filter"] = _pair(
    f"""WITH raw AS (
  SELECT doc_id, {_URL_FILTER_SPARK_URL.format(host=_PSL_HOST_SPARK)} AS url
  FROM (SELECT doc_id,
               element_at({_PSL_PICK}, CAST(doc_id % 6 AS INT) + 1) AS sfx
        FROM documents) s
),
hosts AS (
  SELECT doc_id, url,
         regexp_extract(url, '^https://([^/]*)', 1) AS host,
         regexp_extract(url, '^https://[^/]*(/.*)$', 1) AS path
  FROM raw
),
{_psl_match_chain(carry=", url, path")},
verdicts AS (
  SELECT doc_id, url,
         CASE WHEN {_PSL_REG_EXPR} IN ({_URL_BLOCKED_DOMAINS})
              THEN 1 ELSE 0 END AS domain_blocked,
         CASE WHEN path LIKE '%/casino/%' THEN 1 ELSE 0 END AS path_blocked
  FROM reg
)
SELECT doc_id, url,
       CAST(domain_blocked AS INT) AS domain_blocked,
       CAST(path_blocked AS INT) AS path_blocked,
       CASE WHEN domain_blocked = 1 THEN 'domain'
            WHEN path_blocked = 1 THEN 'path'
            ELSE '' END AS block_reason,
       CASE WHEN domain_blocked + path_blocked = 0
            THEN 'keep' ELSE 'drop' END AS url_gate
FROM verdicts""",
    f"""WITH sfx AS (
  SELECT doc_id,
         list_extract({_PSL_PICK_DUCK}, CAST(doc_id % 6 AS INT) + 1) AS s
  FROM documents
),
verdicts AS (
  SELECT doc_id,
         'https://' || {_PSL_DUCK_HOST} ||
           CASE WHEN doc_id % 13 = 0
                THEN '/casino/' || CAST(doc_id AS VARCHAR)
                ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS url,
         CASE WHEN ({_PSL_DUCK_REG}) IN ({_URL_BLOCKED_DOMAINS})
              THEN 1 ELSE 0 END AS domain_blocked,
         CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS path_blocked
  FROM sfx
)
SELECT doc_id, url,
       CAST(domain_blocked AS INT) AS domain_blocked,
       CAST(path_blocked AS INT) AS path_blocked,
       CASE WHEN domain_blocked = 1 THEN 'domain'
            WHEN path_blocked = 1 THEN 'path'
            ELSE '' END AS block_reason,
       CASE WHEN domain_blocked + path_blocked = 0
            THEN 'keep' ELSE 'drop' END AS url_gate
FROM verdicts""",
)


# Symmetric int8 embedding quantization — the storage/bandwidth shrink
# every embedding store runs before ANN (4x smaller vectors; faster
# distance kernels). scale = amax/127 per vector; q_i = floor(v/scale +
# 0.5) with ties and division done in identical IEEE double arithmetic
# both sides, so the INTEGER outputs (per-vector sum/min/max of q, and
# the quantized-vector checksum) compare exactly. All-zero vectors get
# scale 0 and all-zero codes (guarded division). scale itself is reported
# through the established 1e9 integer quantization.
_EMBED_QUANT_BODY = """SELECT vec_id,
       CAST(floor(amax * CAST(1000000000.0 AS DOUBLE) / 127
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS scale_x1e9,
       CAST({q_sum} AS BIGINT) AS q_sum,
       CAST({q_min} AS INT) AS q_min,
       CAST({q_max} AS INT) AS q_max
FROM (
  SELECT vec_id, {amax} AS amax, embedding FROM embeddings
) t"""

_EQ_SPARK = {
    "amax": ("array_max(transform(embedding, "
             "v -> abs(CAST(v AS DOUBLE))))"),
    "q": ("transform(embedding, v -> CASE WHEN amax = CAST(0.0 AS DOUBLE) "
          "THEN CAST(0 AS BIGINT) ELSE CAST(floor(CAST(v AS DOUBLE) * 127 "
          "/ amax + CAST(0.5 AS DOUBLE)) AS BIGINT) END)"),
}
_EQ_DUCK = {
    "amax": "list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))",
    "q": ("list_transform(embedding, v -> CASE WHEN amax = CAST(0.0 AS DOUBLE) "
          "THEN CAST(0 AS BIGINT) ELSE CAST(floor(CAST(v AS DOUBLE) * 127 "
          "/ amax + CAST(0.5 AS DOUBLE)) AS BIGINT) END)"),
}

QUERIES["embed_quantize_int8"] = _pair(
    _EMBED_QUANT_BODY.format(
        amax=_EQ_SPARK["amax"],
        q_sum="aggregate({q}, CAST(0 AS BIGINT), (a, x) -> a + x)".format(
            q=_EQ_SPARK["q"]),
        q_min="array_min({q})".format(q=_EQ_SPARK["q"]),
        q_max="array_max({q})".format(q=_EQ_SPARK["q"]),
    ),
    _EMBED_QUANT_BODY.format(
        amax=_EQ_DUCK["amax"],
        q_sum="list_sum({q})".format(q=_EQ_DUCK["q"]),
        q_min="list_min({q})".format(q=_EQ_DUCK["q"]),
        q_max="list_max({q})".format(q=_EQ_DUCK["q"]),
    ),
)


# PII scrubbing — a staple stage of public LLM-data pipelines (CCNet /
# RefinedWeb / FineWeb all redact emails+IPs before training). The corpus
# contains no PII, so deterministic doc_id-derived email+IP tokens are
# injected first and the operator must find and redact exactly those:
# match counts AND the hash of the scrubbed text are compared. Patterns
# are written to the common Java-regex/RE2 subset so both engines match
# identically (leftmost non-overlapping global replace in both).
_PII_EMAIL_SPARK = r"[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+\\.[A-Za-z]{2,}"
_PII_EMAIL_DUCK = r"[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+\.[A-Za-z]{2,}"
_PII_IP_SPARK = r"[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_IP_DUCK = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

_PII_AUG = (
    "'reach ' || CAST(doc_id AS {str_t}) || '@ex-' || "
    "CAST(doc_id % 7 AS {str_t}) || '.example.com or 10.' || "
    "CAST(doc_id % 256 AS {str_t}) || '.0.1 re: ' || text"
)

_PII_BODY = """WITH aug AS (
  SELECT doc_id, {aug} AS text FROM documents
)
SELECT doc_id,
       CAST({len_f}(regexp_extract_all(text, '{email}'{extract_idx})) AS INT)
         AS n_emails,
       CAST({len_f}(regexp_extract_all(text, '{ip}'{extract_idx})) AS INT)
         AS n_ips,
       {h} AS scrubbed_hash
FROM aug"""

_PII_SCRUB = ("regexp_replace(regexp_replace(text, '{email}', "
              "'<EMAIL>'{g}), '{ip}', '<IP>'{g})")

QUERIES["text_pii_scrub"] = _pair(
    _PII_BODY.format(
        aug=_PII_AUG.format(str_t="STRING"),
        len_f="size", extract_idx=", 0",
        email=_PII_EMAIL_SPARK, ip=_PII_IP_SPARK,
        h=_HASH60_SPARK.format(x=_PII_SCRUB.format(
            email=_PII_EMAIL_SPARK, ip=_PII_IP_SPARK, g="")),
    ),
    _PII_BODY.format(
        aug=_PII_AUG.format(str_t="VARCHAR"),
        len_f="length", extract_idx="",
        email=_PII_EMAIL_DUCK, ip=_PII_IP_DUCK,
        h=_HASH60_DUCK.format(x=_PII_SCRUB.format(
            email=_PII_EMAIL_DUCK, ip=_PII_IP_DUCK, g=", 'g'")),
    ),
)


# Repetition signals over the derived line model — the Gopher quality
# rules' shape (public: Rae et al. 2021 §A1.1): duplicate-line fraction,
# most-repeated line, and top word-bigram share. Identical SQL text in
# both dialects modulo the lines/words CTE prefix.
_REPETITION_TAIL = """,
nb AS (SELECT doc_id, line FROM lines WHERE line <> ''),
per AS (
  SELECT doc_id, count(*) AS n_lines,
         count(DISTINCT line) AS n_distinct
  FROM nb GROUP BY doc_id
),
topline AS (
  SELECT doc_id, max(c) AS top_line FROM (
    SELECT doc_id, line, count(*) AS c FROM nb GROUP BY doc_id, line) t
  GROUP BY doc_id
),
big AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos)
           AS bg
  FROM words
),
bigc AS (
  SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram FROM (
    SELECT doc_id, bg, count(*) AS c FROM big WHERE bg IS NOT NULL
    GROUP BY doc_id, bg) t
  GROUP BY doc_id
)
SELECT p.doc_id, CAST(n_lines AS INT) AS n_lines,
       CAST(n_lines - n_distinct AS INT) AS n_dup_lines,
       CAST(floor((n_lines - n_distinct) * CAST(10000.0 AS DOUBLE) / n_lines
                  + 0.5) AS BIGINT) AS dup_line_ratio_x1e4,
       CAST(t.top_line AS INT) AS top_line_count,
       CAST(b.top_bigram AS INT) AS top_bigram_count,
       CAST(floor(b.top_bigram * CAST(10000.0 AS DOUBLE) / b.n_bigrams + 0.5)
            AS BIGINT) AS top_bigram_share_x1e4,
       CASE WHEN (n_lines - n_distinct) * CAST(1.0 AS DOUBLE) / n_lines > 0.3
            THEN 'flag' ELSE 'keep' END AS repetition_gate
FROM per p JOIN topline t ON p.doc_id = t.doc_id
           JOIN bigc b ON p.doc_id = b.doc_id"""

QUERIES["text_repetition"] = _pair(
    "WITH " + _SPARK_LINES.strip() + _REPETITION_TAIL,
    "WITH " + _DUCK_LINES.strip() + _REPETITION_TAIL,
)


# Benchmark decontamination — the n-gram-overlap gate every public training
# pipeline runs before training (flag any document sharing a word 8-gram
# with the eval/benchmark set). The benchmark set is derived
# deterministically here (every 50th doc — which therefore flags itself);
# the scale shape is the right one: linear 8-gram explode, equi-join on a
# 60-bit gram hash (never strings), benchmark side distinct + broadcastable.
def _decon_tail(h: str) -> str:
    leads = " || ' ' || ".join(
        f"lead(word, {i}) OVER w" for i in range(1, 8))
    return f""",
grams AS (
  SELECT doc_id, {h} AS g FROM (
    SELECT doc_id, word || ' ' || {leads} AS gram8
    FROM words
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) t
  WHERE gram8 IS NOT NULL
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_hits
  FROM grams g JOIN bench b ON g.g = b.g
  GROUP BY g.doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INT) AS contaminated_grams,
       CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 'drop' ELSE 'keep' END
         AS decon_gate
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"""


_WORDS_SPARK = _SPARK_LINES.strip().split(",\nlines0")[0]
_WORDS_DUCK = _DUCK_LINES.strip().split(",\nlines0")[0]
# the split must actually isolate the words CTE (same import-time guard
# discipline as the _LSH_SPARK splice): a reformatted marker would embed
# the whole lines chain and produce an unparseable statement
assert _WORDS_SPARK.endswith(")") and "lines0" not in _WORDS_SPARK
assert _WORDS_DUCK.endswith(")") and "lines0" not in _WORDS_DUCK

QUERIES["text_decontaminate"] = _pair(
    "WITH " + _WORDS_SPARK + _decon_tail(_HASH60_SPARK.format(x="gram8")),
    "WITH " + _WORDS_DUCK + _decon_tail(_HASH60_DUCK.format(x="gram8")),
)


# Exact substring-window dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the suffix-array dedup's relational
# re-expression): every 8-word window that appears MORE THAN ONCE in the
# corpus marks its positions, and per-doc overlapping/adjacent marked
# windows merge into removal intervals (gaps-and-islands over positions).
# Output: doc_id → (start_word, end_word, n_windows) duplicated regions a
# downstream job can cut. Scale shape: linear window explode, group on a
# 60-bit hash (never strings — the dup table is the corpus's repeated-
# window set, small and broadcastable for typical dup rates), then a
# per-doc window function; no self-join, no quadratic term. Within-doc
# repeats count: count(*)>1 is Lee et al.'s "appears elsewhere in the
# training set" irrespective of which document.
def _substr_tail(h: str) -> str:
    leads = " || ' ' || ".join(
        f"lead(word, {i}) OVER w" for i in range(1, 8))
    return f""",
wins AS (
  SELECT doc_id, pos, {h} AS g FROM (
    SELECT doc_id, pos, word || ' ' || {leads} AS gram8
    FROM words
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) t
  WHERE gram8 IS NOT NULL
),
dup AS (SELECT g FROM wins GROUP BY g HAVING count(*) > 1),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup d ON w.g = d.g),
brks AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= 8
              THEN 0 ELSE 1 END AS brk
  FROM marked
),
islands AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brks
)
SELECT doc_id, CAST(island AS INT) AS span_id,
       CAST(min(pos) AS INT) AS start_word,
       CAST(max(pos) + 7 AS INT) AS end_word,
       CAST(count(*) AS INT) AS n_windows
FROM islands GROUP BY doc_id, island"""


QUERIES["dedup_substring_spans"] = _pair(
    "WITH " + _WORDS_SPARK + _substr_tail(_HASH60_SPARK.format(x="gram8")),
    "WITH " + _WORDS_DUCK + _substr_tail(_HASH60_DUCK.format(x="gram8")),
)


# Per-domain cap (domain diversification — the C4/FineWeb-lineage rule
# that no single site may dominate the training mix): keep at most K
# documents per source, highest-quality first (n_chars as the quality
# proxy here; swap in any scored column), deterministic tiebreak on
# doc_id. Scale shape: ONE hash partition by domain + a rank window — no
# join at all; a pathological mega-domain is still a single partition's
# sort, bounded by AQE skew splitting upstream or a count-prefilter
# (domains below the cap skip the sort entirely) if needed. Same SQL text
# in both dialects.
_DOMAIN_CAP = """WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS domain_rank,
         count(*) OVER (PARTITION BY source) AS domain_total
  FROM documents
)
SELECT doc_id, source,
       CAST(domain_rank AS INT) AS domain_rank,
       CAST(domain_total AS INT) AS domain_total,
       CASE WHEN domain_rank <= 8 THEN 'keep' ELSE 'drop' END AS domain_gate
FROM ranked"""

QUERIES["text_domain_cap"] = _pair(_DOMAIN_CAP, _DOMAIN_CAP)


# Quality-weighted sampling + deterministic split (FineWeb-Edu-style
# score-proportional retention, plus the hash-bucket train/val/test split
# every pipeline needs): keep probability proportional to a quality score
# (n_chars / corpus max as the proxy here), decided by a content-free
# 60-bit hash coin so the choice is reproducible on any cluster layout
# and any re-run — no rand(), no per-partition state. Scale shape: the
# corpus max is a single broadcastable scalar (one partial-agg scan);
# everything else is a single projection — no shuffle of the documents
# table itself.
_SAMPLE_BODY = """WITH stats AS (
  SELECT max(n_chars) AS max_chars FROM documents
),
scored AS (
  SELECT doc_id, source,
         CAST(floor(n_chars * CAST(9999.0 AS DOUBLE) / max_chars) AS BIGINT)
           AS rate_bp,
         {coin} % 10000 AS coin,
         {split_coin} % 100 AS split_coin
  FROM documents CROSS JOIN stats
)
SELECT doc_id, source,
       CAST(rate_bp AS INT) AS sample_rate_bp,
       CAST(CASE WHEN coin < rate_bp THEN 1 ELSE 0 END AS INT) AS kept,
       CASE WHEN split_coin < 98 THEN 'train'
            WHEN split_coin < 99 THEN 'val'
            ELSE 'test' END AS split
FROM scored"""

QUERIES["text_quality_sample"] = _pair(
    _SAMPLE_BODY.format(
        coin=_HASH60_SPARK.format(x="concat('s:', CAST(doc_id AS STRING))"),
        split_coin=_HASH60_SPARK.format(
            x="concat('p:', CAST(doc_id AS STRING))"),
    ),
    _SAMPLE_BODY.format(
        coin=_HASH60_DUCK.format(x="'s:' || CAST(doc_id AS VARCHAR)"),
        split_coin=_HASH60_DUCK.format(x="'p:' || CAST(doc_id AS VARCHAR)"),
    ),
)


# Mixture sampling to a token budget — the corpus-ASSEMBLY step of a
# pretraining pipeline (Pile/DoReMi-style): given per-source token
# masses T_s, compute temperature-reweighted target weights
# w_s ∝ T_s^0.5 (alpha < 1 upweights rare sources), split a global token
# budget (half the corpus here) across sources by those weights, then
# greedily fill each source's budget quality-first (n_chars proxy,
# doc_id tiebreak), keeping the boundary doc. Determinism discipline:
# weights go through 1e6 fixed-point BEFORE the normalizing sum, so the
# only cross-engine float ops are single IEEE sqrt/divide/multiply/floor
# steps on exact integers — no order-dependent double accumulation (same
# rule as text_bigram_surprisal's 1e6 fixed-point). Scale shape: source
# totals = one partial-agg scan; weights/budgets = a #sources-row
# relation joined back (broadcast); the greedy fill = ONE running-sum
# window hash-partitioned by source — taken ONLY by boundary sources.
# The totals-prefilter (r7 verdict #5, now implemented): a source whose
# WHOLE mass fits its budget keeps every doc by definition
# (cum_before <= src_toks - toks < src_toks <= budget), so its rows
# bypass the sort entirely and only sources that actually overflow
# their budget take the window. At temperature alpha=0.5 the upweighted
# small sources — typically most of the source COUNT and, in a
# long-tailed corpus, much of the mass — skip the window, and the
# dominant source (one giant hash partition in the naive form) only
# sorts if it overflows. Output is byte-identical to the unprefiltered
# form; the pruned shape is plan-asserted in tests/test_plans.py. Same
# SQL text in both dialects.
_MIXTURE_SAMPLE = """WITH tok AS (
  SELECT doc_id, source, n_chars,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents WHERE length(trim(text)) > 0
),
totals AS (
  SELECT source, sum(toks) AS src_toks FROM tok GROUP BY source
),
weights AS (
  SELECT source, src_toks,
         CAST(floor(sqrt(CAST(src_toks AS DOUBLE)) * 1000000) AS BIGINT)
           AS w_fp
  FROM totals
),
budgets AS (
  SELECT source, src_toks, w_fp,
         CAST(floor(CAST(w_fp AS DOUBLE) / sum(w_fp) OVER () *
                    floor(CAST(0.5 AS DOUBLE) * sum(src_toks) OVER ()))
              AS BIGINT) AS budget_toks
  FROM weights
),
whole AS (
  SELECT t.doc_id, t.source, t.toks, b.budget_toks
  FROM tok t JOIN budgets b ON t.source = b.source
  WHERE b.src_toks <= b.budget_toks
),
ranked AS (
  SELECT t.doc_id, t.source, t.toks, b.budget_toks,
         sum(t.toks) OVER (PARTITION BY t.source
                           ORDER BY t.n_chars DESC, t.doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - t.toks AS cum_before
  FROM tok t JOIN budgets b ON t.source = b.source
  WHERE b.src_toks > b.budget_toks
)
SELECT doc_id, source,
       CAST(toks AS BIGINT) AS doc_toks,
       CAST(budget_toks AS BIGINT) AS budget_toks,
       CAST(1 AS INT) AS kept
FROM whole
UNION ALL
SELECT doc_id, source,
       CAST(toks AS BIGINT) AS doc_toks,
       CAST(budget_toks AS BIGINT) AS budget_toks,
       CAST(CASE WHEN cum_before < budget_toks THEN 1 ELSE 0 END AS INT)
         AS kept
FROM ranked"""

QUERIES["text_mixture_sample"] = _pair(_MIXTURE_SAMPLE, _MIXTURE_SAMPLE)


# Mixture assembly in the OVER-budget regime — epoch repetition: when a
# group's weighted budget exceeds its token mass (budget 1.2x the corpus
# here; grouped by lang, whose masses are genuinely skewed in the
# corpus), a real pipeline repeats the group. Emit per group the full
# epoch count (floor(budget/mass)) and the deterministic partial tail:
# tail_toks = budget mod mass, filled greedily quality-first exactly as
# text_mixture_sample fills its budget, reported as tail_docs. Same
# fixed-point weight discipline; all divisions are single IEEE ops on
# exact integers. Scale shape: two aggregate scans + a #groups-row
# relation + ONE running-sum window taken only by groups with a nonzero
# tail (the sample query's totals-prefilter idiom: a zero-tail group
# fills no tail docs, so it skips the sort; the LEFT JOIN's coalesce
# already emits its tail_docs = 0). Same SQL in both dialects.
_MIXTURE_EPOCHS = """WITH tok AS (
  SELECT doc_id, lang, n_chars,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents WHERE length(trim(text)) > 0
),
totals AS (
  SELECT lang, sum(toks) AS lang_toks FROM tok GROUP BY lang
),
weights AS (
  SELECT lang, lang_toks,
         CAST(floor(sqrt(CAST(lang_toks AS DOUBLE)) * 1000000) AS BIGINT)
           AS w_fp
  FROM totals
),
budgets AS (
  SELECT lang, lang_toks,
         CAST(floor(CAST(w_fp AS DOUBLE) / sum(w_fp) OVER () *
                    floor(CAST(1.2 AS DOUBLE) * sum(lang_toks) OVER ()))
              AS BIGINT) AS budget_toks
  FROM weights
),
epochs AS (
  SELECT lang, lang_toks, budget_toks,
         CAST(floor(CAST(budget_toks AS DOUBLE) / lang_toks) AS BIGINT)
           AS full_epochs,
         budget_toks - CAST(floor(CAST(budget_toks AS DOUBLE) / lang_toks)
                            AS BIGINT) * lang_toks AS tail_toks
  FROM budgets
),
ranked AS (
  SELECT t.lang, e.tail_toks,
         sum(t.toks) OVER (PARTITION BY t.lang
                           ORDER BY t.n_chars DESC, t.doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - t.toks AS cum_before
  FROM tok t JOIN epochs e ON t.lang = e.lang
  WHERE e.tail_toks > 0
)
SELECT e.lang,
       CAST(e.lang_toks AS BIGINT) AS lang_toks,
       CAST(e.budget_toks AS BIGINT) AS budget_toks,
       CAST(e.full_epochs AS INT) AS full_epochs,
       CAST(e.tail_toks AS BIGINT) AS tail_toks,
       CAST(coalesce(td.tail_docs, 0) AS INT) AS tail_docs
FROM epochs e
LEFT JOIN (SELECT lang, count(*) AS tail_docs FROM ranked
           WHERE cum_before < tail_toks GROUP BY lang) td
  ON e.lang = td.lang"""

QUERIES["text_mixture_epochs"] = _pair(_MIXTURE_EPOCHS, _MIXTURE_EPOCHS)


# Corpus data card — the per-source documentation table a training-data
# release ships (docs/tokens/duplication/language mix/central tendency),
# as ONE deterministic query: n_docs, total_toks, dup_docs (docs whose
# md5(text) occurs more than once corpus-wide — cross-source dups count
# in every source holding a copy), top_lang (modal lang, count-desc then
# lang-asc tiebreak), p50_toks (the reference's index-based
# sorted[(n-1)//2] median discipline, not interpolation — O1's rule).
# Scale shape: md5-grouped dup counts (never a join on raw text), two
# grouped aggregates, one per-source rank window for the median, tiny
# per-source relations broadcast back. Same SQL in both dialects.
_DATACARD = """WITH tok AS (
  SELECT doc_id, source, lang, md5(text) AS h,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents WHERE length(trim(text)) > 0
),
hash_counts AS (
  SELECT h, count(*) AS hc FROM tok GROUP BY h
),
ranked AS (
  SELECT t.source, t.toks,
         CASE WHEN hc.hc > 1 THEN 1 ELSE 0 END AS is_dup,
         row_number() OVER (PARTITION BY t.source
                            ORDER BY t.toks ASC, t.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY t.source) AS cnt
  FROM tok t JOIN hash_counts hc ON t.h = hc.h
),
per_source AS (
  SELECT source,
         count(*) AS n_docs,
         sum(toks) AS total_toks,
         sum(is_dup) AS dup_docs,
         max(CASE WHEN rn = CAST(floor((cnt - 1) / 2.0) AS BIGINT) + 1
                  THEN toks END) AS p50_toks
  FROM ranked GROUP BY source
),
lang_counts AS (
  SELECT source, lang, count(*) AS lc FROM tok GROUP BY source, lang
),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY lc DESC, lang ASC) AS r
    FROM lang_counts) ranked_langs
  WHERE r = 1
)
SELECT p.source,
       CAST(p.n_docs AS INT) AS n_docs,
       CAST(p.total_toks AS BIGINT) AS total_toks,
       CAST(p.dup_docs AS INT) AS dup_docs,
       CAST(p.p50_toks AS INT) AS p50_toks,
       t.top_lang
FROM per_source p JOIN top_lang t ON p.source = t.source"""

QUERIES["corpus_datacard"] = _pair(_DATACARD, _DATACARD)


# Sequence-packing manifest — the concat-then-split packing GPT-style
# pretraining uses: lay every document's tokens end to end in a canonical
# order and cut every SEQ tokens; emit, per document, where its tokens
# land (global start/end offset, first/last training sequence, straddle
# count). The global prefix sum is computed the way a 1000-executor
# cluster must: per-shard cumulative sums in parallel (shards are
# contiguous doc_id ranges, so shard order == global order), a tiny
# one-row-per-shard totals relation turned into shard base offsets by a
# second (trivially small) running sum, then a broadcastable equi-join
# back — no single giant window over the whole corpus.
_PACK_SEQ = 128
_PACK_BODY = """WITH toks AS (
  SELECT doc_id,
         CAST(floor(doc_id / 100.0) AS BIGINT) AS shard,
         CAST({nwords} AS BIGINT) AS n_tokens
  FROM documents WHERE length(trim(text)) > 0
),
local_sums AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS local_end
  FROM toks
),
shard_totals AS (
  SELECT shard, sum(n_tokens) AS shard_tokens FROM toks GROUP BY shard
),
shard_offsets AS (
  SELECT shard,
         COALESCE(sum(shard_tokens) OVER (ORDER BY shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS shard_start
  FROM shard_totals
)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(o.shard_start + l.local_end - l.n_tokens AS BIGINT)
         AS start_offset,
       CAST(o.shard_start + l.local_end AS BIGINT) AS end_offset,
       CAST(floor((o.shard_start + l.local_end - l.n_tokens) / {seq}.0)
            AS BIGINT) AS first_seq,
       CAST(floor((o.shard_start + l.local_end - 1) / {seq}.0)
            AS BIGINT) AS last_seq,
       CAST(floor((o.shard_start + l.local_end - 1) / {seq}.0)
            - floor((o.shard_start + l.local_end - l.n_tokens) / {seq}.0)
            + 1 AS BIGINT) AS n_seqs
FROM local_sums l JOIN shard_offsets o ON l.shard = o.shard"""

QUERIES["text_pack_manifest"] = _pair(
    _PACK_BODY.format(
        nwords="size(split(trim(text), '[ \\t\\n]+'))", seq=_PACK_SEQ),
    _PACK_BODY.format(
        nwords=r"length(regexp_split_to_array(trim(text), '[ \t\n]+'))",
        seq=_PACK_SEQ),
)


# Interleaved multimodal sequence packing — the multimodal twin of
# text_pack_manifest and the op that closes the graft's interleaved-span
# story end to end: extraction EMITS ordered (text|media) span sequences
# (reference src/pdf_parser.cpp emits text interleaved with image XObject
# refs in document order); training-data assembly must PACK them into
# fixed-budget sequences where a media span costs a fixed patch-token
# budget (ViT-style: one image = IMG_TOKS tokens) and an image can never
# be split across two training sequences. Spans are derived here as a
# deterministic scalar expression over `documents` (fixed 200-char text
# windows; a media span follows window i iff (doc_id*31+i)%3=0), so BOTH
# engines build the identical interleaved corpus with ZERO shuffle — no
# explode, no per-span rows: each doc's span layout, token cost and media
# count are higher-order-function scalars (transform/aggregate in Spark,
# list_transform/list_sum in DuckDB).
#
# Packing semantics: documents are atomic (a doc's interleaved spans stay
# contiguous and in order — the unit a multimodal SFT loader consumes);
# doc -> sequence assignment is by global start offset (seq_id =
# floor(start/BUDGET)) over the doc_id-ordered cost stream, computed with
# the SAME per-shard prefix-sum discipline as text_pack_manifest: shard
# windows in parallel, a one-row-per-shard totals relation, a broadcast
# join back — no corpus-wide window or sort. A sequence may overflow
# BUDGET by at most one document's cost (boundary doc joins the sequence
# its start falls in) — the document-contiguous budget-boundary packing;
# images are whole by construction. layout_md5 hash-pins the exact
# interleaved (kind, token-length) layout of every sequence in doc order.
_IPACK_W = 200        # chars per derived text span
_IPACK_IMG = 64       # patch tokens per media span
_IPACK_BUDGET = 512   # token budget per packed sequence

_IPACK_TAIL = """local_sums AS (
  SELECT doc_id, shard, text_toks, media_toks, n_media, layout,
         text_toks + media_toks AS cost,
         sum(text_toks + media_toks) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS local_end
  FROM docs
),
shard_totals AS (
  SELECT shard, sum(text_toks + media_toks) AS shard_tokens
  FROM docs GROUP BY shard
),
shard_offsets AS (
  SELECT shard,
         COALESCE(sum(shard_tokens) OVER (ORDER BY shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS shard_start
  FROM shard_totals
),
placed AS (
  SELECT l.doc_id, l.text_toks, l.media_toks, l.n_media, l.cost, l.layout,
         CAST(floor((o.shard_start + l.local_end - l.cost) / {budget}.0)
              AS BIGINT) AS seq_id
  FROM local_sums l JOIN shard_offsets o ON l.shard = o.shard
)
SELECT seq_id,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_media) AS INT) AS n_media,
       CAST(sum(text_toks) AS BIGINT) AS text_toks,
       CAST(sum(media_toks) AS BIGINT) AS media_toks,
       CAST(sum(cost) AS BIGINT) AS seq_cost,
       md5({layout_agg}) AS layout_md5
FROM placed GROUP BY seq_id"""

_IPACK_SPARK_DOCS = """docs AS (
  SELECT doc_id,
         CAST(floor(doc_id / 100.0) AS BIGINT) AS shard,
         aggregate(pieces, CAST(0 AS BIGINT), (a, p) -> a + p.toks)
           AS text_toks,
         CAST({img} AS BIGINT) * size(filter(pieces, p -> p.media = 1))
           AS media_toks,
         CAST(size(filter(pieces, p -> p.media = 1)) AS INT) AS n_media,
         array_join(transform(pieces,
             p -> concat('T', CAST(p.toks AS STRING),
                         CASE WHEN p.media = 1 THEN 'M' ELSE '' END)), '')
           AS layout
  FROM (
    SELECT doc_id,
           transform(sequence(0, CAST(ceil(length(text) / {w}.0) AS INT) - 1),
             i -> struct(
               CASE WHEN length(trim(substr(text, i * {w} + 1, {w}))) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(size(split(trim(substr(text, i * {w} + 1, {w})),
                                         '[ \\t\\n]+')) AS BIGINT) END AS toks,
               CASE WHEN (doc_id * 31 + i) % 3 = 0 THEN 1 ELSE 0 END
                 AS media)) AS pieces
    FROM documents WHERE length(trim(text)) > 0
  ) spanned
),
"""

_IPACK_DUCK_DOCS = r"""docs AS (
  SELECT doc_id,
         CAST(floor(doc_id / 100.0) AS BIGINT) AS shard,
         CAST(COALESCE(list_sum(list_transform(gs,
             i -> CASE WHEN length(trim(substr(text, i * {w} + 1, {w}))) = 0
                       THEN 0
                       ELSE length(regexp_split_to_array(
                                trim(substr(text, i * {w} + 1, {w})),
                                '[ \t\n]+')) END)), 0) AS BIGINT) AS text_toks,
         CAST({img} * length(list_filter(gs, i -> (doc_id * 31 + i) % 3 = 0))
              AS BIGINT) AS media_toks,
         CAST(length(list_filter(gs, i -> (doc_id * 31 + i) % 3 = 0)) AS INT)
           AS n_media,
         array_to_string(list_transform(gs,
             i -> 'T' ||
                  CAST(CASE WHEN length(trim(substr(text, i * {w} + 1, {w}))) = 0
                            THEN 0
                            ELSE length(regexp_split_to_array(
                                     trim(substr(text, i * {w} + 1, {w})),
                                     '[ \t\n]+')) END AS VARCHAR) ||
                  CASE WHEN (doc_id * 31 + i) % 3 = 0 THEN 'M' ELSE '' END),
             '') AS layout
  FROM (
    SELECT doc_id, text,
           generate_series(0, CAST(ceil(length(text) / {w}.0) AS INT) - 1)
             AS gs
    FROM documents WHERE length(trim(text)) > 0
  ) spanned
),
"""

QUERIES["multimodal_pack_interleaved"] = _pair(
    "WITH " + _IPACK_SPARK_DOCS.format(w=_IPACK_W, img=_IPACK_IMG)
    + _IPACK_TAIL.format(
        budget=_IPACK_BUDGET,
        layout_agg=("array_join(transform(array_sort(collect_list("
                    "struct(doc_id, layout))), s -> s.layout), '|')")),
    "WITH " + _IPACK_DUCK_DOCS.format(w=_IPACK_W, img=_IPACK_IMG)
    + _IPACK_TAIL.format(
        budget=_IPACK_BUDGET,
        layout_agg="string_agg(layout, '|' ORDER BY doc_id)"),
)


# Deterministic training-order shuffle + shard assignment — the loader-
# side op every training run needs: a reproducible pseudo-random
# permutation of the corpus per epoch (so run restarts and data-parallel
# workers agree on order with no coordination) and a shard id so N
# loader workers each read a disjoint slice. Order key = 60-bit md5 of
# (doc_id, epoch): a different deterministic permutation every epoch,
# identical on any cluster size. Scale shape: ONE hash exchange on
# (epoch, shard) + a per-shard rank window — no corpus-wide window, no
# join; shards are hash-balanced (±sqrt deviation), and the per-shard
# window sorts corpus/N_SHARDS rows, shrinking as the loader fleet
# grows. Same SQL text in both dialects except the hash and the epoch
# generator.
_SHUFFLE_EPOCHS = 2
_SHUFFLE_SHARDS = 16

_SHUFFLE_BODY = """WITH keyed AS (
  SELECT e.epoch, d.doc_id, {h} AS k
  FROM documents d CROSS JOIN ({epochs}) e
)
SELECT epoch, doc_id,
       CAST(k % {shards} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY epoch, k % {shards}
                               ORDER BY k, doc_id) AS BIGINT) AS pos
FROM keyed"""

QUERIES["text_shard_shuffle"] = _pair(
    _SHUFFLE_BODY.format(
        h=_HASH60_SPARK.format(
            x="concat(CAST(d.doc_id AS STRING), ':', CAST(e.epoch AS STRING))"),
        epochs=f"SELECT explode(sequence(0, {_SHUFFLE_EPOCHS - 1})) AS epoch",
        shards=_SHUFFLE_SHARDS),
    _SHUFFLE_BODY.format(
        h=_HASH60_DUCK.format(
            x="CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)"),
        epochs=("SELECT unnest(generate_series(0, "
                f"{_SHUFFLE_EPOCHS - 1})) AS epoch"),
        shards=_SHUFFLE_SHARDS),
)


# Capstone: the composed cleaning pipeline — the DAG a user actually runs
# on a raw crawl, as ONE query: exact-dedup keep (first occurrence per
# 60-bit text hash) -> PII scrub (deterministic injected PII, as in
# text_pii_scrub, so the stage provably redacts) -> quality gate on the
# scrubbed text -> per-domain cap -> deterministic split, emitting every
# gate plus the final cleaned-text hash. Every stage's semantics is
# individually oracle-proven above; this row proves they COMPOSE in one
# DAG. Scale shape: exactly two shuffles (window by text-hash, window by
# source) — scrub, quality and split are inline projections; no joins.
# Injected exact clones carry NEGATIVE doc_ids (-(doc_id+1)), which can
# never collide with a real corpus id at any scale; both windows rank
# dedup losers and negative ids last, so the original is always the
# canonical survivor AND a dedup-doomed row can never steal a domain-cap
# slot from a kept document (stage composition: the cap applies to what
# dedup lets through).
_CLEAN_BODY = """WITH raw AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, source, text
  FROM documents WHERE doc_id % 50 = 0
),
hashed AS (
  SELECT doc_id, source, text, {h_text} AS th FROM raw
),
deduped AS (
  SELECT doc_id, source, text,
         CASE WHEN row_number() OVER (
                PARTITION BY th
                ORDER BY CASE WHEN doc_id < 0 THEN 1 ELSE 0 END, doc_id
              ) = 1
              THEN 1 ELSE 0 END AS dedup_keep
  FROM hashed
),
scrubbed AS (
  SELECT doc_id, source, dedup_keep, {scrub} AS text
  FROM (SELECT doc_id, source, dedup_keep, {aug} AS text FROM deduped) a
),
gated AS (
  SELECT doc_id, source, dedup_keep, text,
         CASE WHEN {nwords} >= 50
                   AND {ndistinct} * CAST(1.0 AS DOUBLE) / {nwords}
                       > CAST(0.1 AS DOUBLE)
              THEN 1 ELSE 0 END AS quality_keep,
         row_number() OVER (PARTITION BY source
                            ORDER BY dedup_keep DESC,
                                     length(text) DESC,
                                     CASE WHEN doc_id < 0 THEN 1 ELSE 0 END,
                                     doc_id ASC)
           AS domain_rank
  FROM scrubbed
)
SELECT doc_id, source,
       CAST(dedup_keep AS INT) AS dedup_keep,
       CAST(quality_keep AS INT) AS quality_keep,
       CAST(CASE WHEN domain_rank <= 20 THEN 1 ELSE 0 END AS INT)
         AS domain_keep,
       CASE WHEN {split_coin} % 100 < 98 THEN 'train'
            WHEN {split_coin} % 100 < 99 THEN 'val'
            ELSE 'test' END AS split,
       {h_clean} AS clean_hash,
       CAST(CASE WHEN dedup_keep = 1 AND quality_keep = 1
                      AND domain_rank <= 20
                 THEN 1 ELSE 0 END AS INT) AS final_keep,
       text AS clean_text
FROM gated"""

QUERIES["pipeline_clean_corpus"] = _pair(
    _CLEAN_BODY.format(
        h_text=_HASH60_SPARK.format(x="text"),
        aug=_PII_AUG.format(str_t="STRING"),
        scrub=_PII_SCRUB.format(email=_PII_EMAIL_SPARK, ip=_PII_IP_SPARK,
                                g=""),
        nwords="size(split(text, ' '))",
        ndistinct="size(array_distinct(split(text, ' ')))",
        split_coin=_HASH60_SPARK.format(
            x="concat('p:', CAST(doc_id AS STRING))"),
        h_clean=_HASH60_SPARK.format(x="text"),
    ),
    _CLEAN_BODY.format(
        h_text=_HASH60_DUCK.format(x="text"),
        aug=_PII_AUG.format(str_t="VARCHAR"),
        scrub=_PII_SCRUB.format(email=_PII_EMAIL_DUCK, ip=_PII_IP_DUCK,
                                g=", 'g'"),
        nwords="length(split(text, ' '))",
        ndistinct="length(list_distinct(split(text, ' ')))",
        split_coin=_HASH60_DUCK.format(x="'p:' || CAST(doc_id AS VARCHAR)"),
        h_clean=_HASH60_DUCK.format(x="text"),
    ),
)


# Cross-document boilerplate removal by paragraph frequency — CCNet's
# public trick (Wenzek et al. 2020): a line/paragraph occurring in >5% of
# documents is boilerplate ('all rights reserved', cookie banners), drop
# it everywhere. The synthetic corpus has no cross-doc duplicate lines, so
# two boilerplate lines are injected into every doc and the operator must
# find and strip exactly those (the kept-text hash proves the originals
# survive untouched). Scale shape: frequency join runs on 60-bit line
# hashes, never raw strings; the >5% table is small and broadcastable.
def _boiler_body(h_line: str, kept: str) -> str:
    return f""",
aug AS (
  SELECT doc_id, line_no, line FROM lines WHERE line <> ''
  UNION ALL
  SELECT doc_id, -2 AS line_no, 'subscribe to our newsletter' AS line
  FROM documents
  UNION ALL
  SELECT doc_id, -1 AS line_no, 'all rights reserved' AS line
  FROM documents
),
hashed AS (SELECT doc_id, line_no, line, {h_line} AS lh FROM aug),
freq AS (
  SELECT lh, count(DISTINCT doc_id) AS nd FROM hashed GROUP BY lh
),
tot AS (SELECT count(*) AS n_docs FROM documents),
flags AS (
  SELECT h.doc_id, h.line_no, h.line,
         CASE WHEN f.nd * CAST(1.0 AS DOUBLE) / t.n_docs
                   > CAST(0.05 AS DOUBLE)
              THEN 1 ELSE 0 END AS is_boiler
  FROM hashed h JOIN freq f ON h.lh = f.lh CROSS JOIN tot t
)
SELECT doc_id,
       CAST(sum(is_boiler) AS INT) AS boiler_lines,
       CAST(count(*) AS INT) AS total_lines,
       {kept} AS kept_hash
FROM flags GROUP BY doc_id"""


_KEPT_SPARK = _HASH60_SPARK.format(
    x="array_join(transform(array_sort("
      "collect_list(struct(line_no, line)) FILTER (WHERE is_boiler = 0)), "
      "x -> x.line), '\\n')"
)
_KEPT_DUCK = _HASH60_DUCK.format(
    x="coalesce(string_agg(line, chr(10) ORDER BY line_no) "
      "FILTER (is_boiler = 0), '')"
)

QUERIES["dedup_paragraph_boilerplate"] = _pair(
    "WITH " + _SPARK_LINES.strip()
    + _boiler_body(_HASH60_SPARK.format(x="line"), _KEPT_SPARK),
    "WITH " + _DUCK_LINES.strip()
    + _boiler_body(_HASH60_DUCK.format(x="line"), _KEPT_DUCK),
)


# Substring-level (sub-document) duplication — the granularity the doc-level
# family (exact / MinHash / SimHash / semantic) cannot see: a shared passage
# pasted into otherwise-distinct documents (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", does this with suffix arrays —
# inherently single-machine). The distributed shape is winnowing-style
# content-defined fingerprinting (Schleimer et al. 2003, MOSS): a word is an
# ANCHOR when hash60(word) % 8 == 0, and only anchors contribute a 10-word
# shingle fingerprint. Because anchoring depends on content, not offset, the
# same passage anchors identically in every document that contains it — the
# stride-alignment failure of fixed-stride windows (a passage pasted at
# byte offset o matches only when o ≡ 0 mod stride) cannot occur, and the
# expensive shingle hash is computed at ~1/8 of positions.
# Flagged shingles [pos, pos+10) are merged per doc into maximal islands
# (gaps-and-islands: a window starting more than 10 words past the previous
# island's last start breaks the run), giving trimmable spans.
# Scale shape: shingling is embarrassingly parallel (one hash exchange on
# doc_id never happens — slice over the split array is per-row); frequency
# runs on 60-bit fingerprints (8 B rows, never raw text); the flag join is a
# fingerprint equi-join; island merge is a per-doc window over anchors only.
# The synthetic corpus shares no natural 10-word runs, so two passages are
# injected at UNALIGNED offsets (one prepended, one appended) and the
# operator must find exactly those.
_WINNOW_PASSAGE_A = (
    "this website uses cookie consent banners and a privacy policy notice "
    "that applies to all visitors of the site in every region worldwide")
_WINNOW_PASSAGE_B = (
    "for more help with orders returns and shipping please contact our "
    "support team through the affiliates portal listed on the legal page")


# Dialect-independent tail: frequency → flag → gaps-and-islands merge →
# per-doc rollup. Both dialects splice their own `anchors` CTE above it.
_WINNOW_TAIL = """freq AS (
  SELECT fp, count(DISTINCT doc_id) AS nd FROM anchors GROUP BY fp
),
flagged AS (
  SELECT a.doc_id, a.pos,
         CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END AS is_dup
  FROM anchors a JOIN freq f ON a.fp = f.fp
),
dupw AS (SELECT doc_id, pos FROM flagged WHERE is_dup = 1),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 10
              THEN 1 ELSE 0 END AS new_isl
  FROM dupw
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + 10 AS e
  FROM isl2 GROUP BY doc_id, isl_id
),
perdoc_dup AS (
  SELECT doc_id, count(*) AS dup_spans, sum(e - s) AS dup_words
  FROM spans GROUP BY doc_id
),
perdoc_anchor AS (
  SELECT doc_id, count(*) AS n_anchors, sum(is_dup) AS dup_anchors
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(pa.n_anchors, 0) AS BIGINT) AS n_anchors,
       CAST(coalesce(pa.dup_anchors, 0) AS BIGINT) AS dup_anchors,
       CAST(coalesce(pd.dup_spans, 0) AS BIGINT) AS dup_spans,
       CAST(coalesce(pd.dup_words, 0) AS BIGINT) AS dup_words
FROM documents d
LEFT JOIN perdoc_anchor pa ON d.doc_id = pa.doc_id
LEFT JOIN perdoc_dup pd ON d.doc_id = pd.doc_id"""

# Shared head: inject the two passages at unaligned offsets, split to words.
_WINNOW_HEAD = f"""WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN base || ' {_WINNOW_PASSAGE_B}'
              ELSE base END AS text
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN '{_WINNOW_PASSAGE_A} ' || text
                    ELSE text END AS base
        FROM documents)
),
warr AS (SELECT doc_id, split(text, ' ') AS ws FROM docs),
"""

QUERIES["dedup_substring_winnow"] = _pair(
    _WINNOW_HEAD
    + f"""anchors AS (
  SELECT doc_id, pos,
         {_HASH60_SPARK.format(x="concat_ws(' ', slice(ws, pos + 1, 10))")}
           AS fp
  FROM warr LATERAL VIEW posexplode(ws) t AS pos, word
  WHERE pos + 10 <= size(ws)
    AND {_HASH60_SPARK.format(x='word')} % 8 = 0
),
"""
    + _WINNOW_TAIL,
    _WINNOW_HEAD
    + f"""pw AS (
  SELECT doc_id, ws,
         unnest(list_zip(ws, range(0, length(ws)))) AS u
  FROM warr
),
anchors AS (
  SELECT doc_id, CAST(u[2] AS INT) AS pos,
         {_HASH60_DUCK.format(
             x="array_to_string(ws[CAST(u[2] AS INT) + 1 : "
               "CAST(u[2] AS INT) + 10], ' ')")} AS fp
  FROM pw
  WHERE CAST(u[2] AS INT) + 10 <= length(ws)
    AND {_HASH60_DUCK.format(x='CAST(u[1] AS VARCHAR)')} % 8 = 0
),
"""
    + _WINNOW_TAIL,
)


# Unigram-LM surprisal scoring — the perplexity-filter shape (CCNet scores
# documents with a KenLM model; the unigram case is trainable from the
# corpus itself and fully relational). Per-word surprisal -ln(c/N) is
# quantized to an INTEGER (1e6 fixed point) BEFORE summing, so the
# aggregation is exact integer math — immune to float summation order,
# which differs across engines and partitionings. The model "fit" is a
# word-count aggregate; the "score" is an equi-join of the corpus against
# the (small, broadcastable) vocabulary table — the same fit-then-transform
# shape as IVF, one pass each.
#
# Cross-engine exactness assumption (ADVICE r3): the only non-exact step is
# ln() — JVM Math.log and DuckDB's libm each guarantee <=1 ulp, so the two
# engines' -ln(c/N)*1e6 can differ by ~2e-9 absolute; floor(x+0.5) flips
# only if x+0.5 sits within that distance of an integer. Every OTHER float
# op here (integer-to-double casts, c/N and tot_s/n_words divisions, *1e6)
# is a single correctly-rounded IEEE-754 operation on exactly-representable
# inputs — bit-identical across engines by the standard. The guard test
# (tests/test_oracle_stability.py) scans the full corpus vocabulary and
# asserts every quantization input keeps >=1e-3 distance from its rounding
# boundary — six orders of magnitude above the ulp drift — so a corpus
# regeneration that lands a word near a boundary fails loudly in pytest
# instead of flaking the oracle gate.
_SURPRISAL_TAIL = """,
cnt AS (SELECT word, count(*) AS c FROM words GROUP BY word),
tot AS (SELECT sum(c) AS n FROM cnt),
sw AS (
  SELECT word,
         CAST(floor(-ln(c * CAST(1.0 AS DOUBLE) / t.n)
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              AS BIGINT) AS s
  FROM cnt CROSS JOIN tot t
),
docsum AS (
  SELECT w.doc_id, sum(s.s) AS tot_s, count(*) AS n_words
  FROM words w JOIN sw s ON w.word = s.word
  GROUP BY w.doc_id
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(floor(tot_s * CAST(1.0 AS DOUBLE) / n_words + CAST(0.5 AS DOUBLE))
            AS BIGINT) AS avg_surprisal_x1e6,
       CASE WHEN tot_s * CAST(1.0 AS DOUBLE) / n_words
                 > CAST(9000000 AS DOUBLE)
            THEN 'flag' ELSE 'keep' END AS surprisal_gate
FROM docsum"""

QUERIES["text_unigram_surprisal"] = _pair(
    "WITH " + _WORDS_SPARK + _SURPRISAL_TAIL,
    "WITH " + _WORDS_DUCK + _SURPRISAL_TAIL,
)


# Bigram-interpolated LM surprisal — the CCNet-lineage perplexity filter
# one order up from the unigram model: score each document by the average
# of -ln(0.7·p(w2|w1) + 0.3·p(w2)) over its adjacent word pairs, with the
# bigram and unigram models fit on the corpus itself (fit = two count
# aggregates; score = equi-joins against the small vocabulary/bigram
# relations — the same fit-then-transform shape as the unigram operator
# and IVF). The interpolation term is what makes it a real LM filter:
# unseen-in-context words fall back to their unigram mass instead of
# -inf. Same exactness discipline as _SURPRISAL_TAIL: every per-pair
# surprisal is quantized to a 1e6 fixed-point INTEGER before summing
# (integer aggregation is partitioning-order-immune); the single ln() is
# the only <=1-ulp step, and the boundary-margin guard in
# tests/test_oracle_stability.py scans every distinct probability tuple
# at every sf (observed worst margin 1.0e-4 — ~25,000x the ~4e-9 ln
# drift bound). The 0.7/0.3 literals parse to identical doubles in both
# engines (decimal->double is correctly rounded); all other float ops
# are single correctly-rounded operations on exactly-representable
# inputs.
_BIGRAM_TAIL = """,
c2 AS (SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM pos GROUP BY w1),
cu AS (SELECT w2 AS w, count(*) AS cu FROM pos GROUP BY w2),
tot AS (SELECT count(*) AS nn FROM pos),
sb AS (
  SELECT c2.w1, c2.w2,
         CAST(floor(-ln(CAST(0.7 AS DOUBLE)
                          * (c2.c2 * CAST(1.0 AS DOUBLE) / c1.c1)
                        + CAST(0.3 AS DOUBLE)
                          * (cu.cu * CAST(1.0 AS DOUBLE) / t.nn))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              AS BIGINT) AS s
  FROM c2 JOIN c1 ON c2.w1 = c1.w1 JOIN cu ON c2.w2 = cu.w
  CROSS JOIN tot t
),
docsum AS (
  SELECT p.doc_id, sum(s.s) AS tot_s, count(*) AS n_bigrams
  FROM pos p JOIN sb s ON p.w1 = s.w1 AND p.w2 = s.w2
  GROUP BY p.doc_id
)
SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
       CAST(floor(tot_s * CAST(1.0 AS DOUBLE) / n_bigrams
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_surprisal_x1e6,
       CASE WHEN tot_s * CAST(1.0 AS DOUBLE) / n_bigrams
                 > CAST(9000000 AS DOUBLE)
            THEN 'flag' ELSE 'keep' END AS lm_gate
FROM docsum"""

QUERIES["text_bigram_surprisal"] = _pair(
    r"""WITH docs_w AS (
  SELECT doc_id, split(trim(text), '[ \t\n]+') AS ws
  FROM documents WHERE length(trim(text)) > 0
),
multi AS (SELECT * FROM docs_w WHERE size(ws) >= 2),
pos AS (
  SELECT doc_id, element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2
  FROM multi LATERAL VIEW explode(sequence(1, size(ws) - 1)) t AS i
)""" + _BIGRAM_TAIL,
    r"""WITH docs_w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n]+') AS ws
  FROM documents WHERE length(trim(text)) > 0
),
pos0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM docs_w),
pos AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM pos0)"""
    + _BIGRAM_TAIL,
)


# Fit/transform split (r6 verdict #8) — the published CCNet usage: the LM
# is fit on a HELD-OUT reference corpus (here doc_id % 10 = 0) and scores
# the REST, so the model relations are genuinely broadcast-small (a fixed
# reference slice, not the scored corpus) and scored documents can contain
# words/bigrams the model never saw. OOV handling makes the probability
# total and strictly positive: p = 0.7*p(w2|w1) + 0.3*p_u(w2), with
# p(w2|w1) = c2/c1 when w1 is in the model (0 for unseen bigrams, 0 when
# w1 itself is unseen) and add-one-smoothed p_u(w2) = (cu+1)/(nn+V+1)
# (>0 even for unseen w2). Same 1e6 fixed-point-before-sum discipline;
# the boundary-margin guard scans every distinct (c2,c1,cu) tuple of THIS
# model too (tests/test_oracle_stability.py). Scale shape: fit = two
# count aggregates over a 10% slice; score = three broadcast equi-joins
# against the small model relations + one per-doc sum. The tail is
# dialect-portable (shared string), like _BIGRAM_TAIL.
_BIGRAM_HELDOUT_TAIL = """,
fit AS (SELECT w1, w2 FROM pos WHERE doc_id % 10 = 0),
score AS (SELECT doc_id, w1, w2 FROM pos WHERE doc_id % 10 <> 0),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM fit GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM fit GROUP BY w1),
cu AS (SELECT w2 AS w, count(*) AS cu FROM fit GROUP BY w2),
tot AS (SELECT count(*) AS nn FROM fit),
voc AS (SELECT count(*) AS v FROM cu),
sp AS (
  SELECT s.doc_id,
         CAST(floor(-ln(
               CAST(0.7 AS DOUBLE)
                 * (CASE WHEN c1.c1 IS NULL THEN CAST(0.0 AS DOUBLE)
                    ELSE coalesce(c2.c2, 0) * CAST(1.0 AS DOUBLE) / c1.c1
                    END)
             + CAST(0.3 AS DOUBLE)
                 * ((coalesce(cu.cu, 0) + 1) * CAST(1.0 AS DOUBLE)
                    / (t.nn + v.v + 1)))
               * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              AS BIGINT) AS s
  FROM score s
  LEFT JOIN c1 ON s.w1 = c1.w1
  LEFT JOIN c2 ON s.w1 = c2.w1 AND s.w2 = c2.w2
  LEFT JOIN cu ON s.w2 = cu.w
  CROSS JOIN tot t CROSS JOIN voc v
),
docsum AS (
  SELECT doc_id, sum(s) AS tot_s, count(*) AS n_bigrams
  FROM sp GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
       CAST(floor(tot_s * CAST(1.0 AS DOUBLE) / n_bigrams
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_surprisal_x1e6,
       CASE WHEN tot_s * CAST(1.0 AS DOUBLE) / n_bigrams
                 > CAST(9000000 AS DOUBLE)
            THEN 'flag' ELSE 'keep' END AS lm_gate
FROM docsum"""

QUERIES["text_bigram_heldout"] = _pair(
    r"""WITH docs_w AS (
  SELECT doc_id, split(trim(text), '[ \t\n]+') AS ws
  FROM documents WHERE length(trim(text)) > 0
),
multi AS (SELECT * FROM docs_w WHERE size(ws) >= 2),
pos AS (
  SELECT doc_id, element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2
  FROM multi LATERAL VIEW explode(sequence(1, size(ws) - 1)) t AS i
)""" + _BIGRAM_HELDOUT_TAIL,
    r"""WITH docs_w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n]+') AS ws
  FROM documents WHERE length(trim(text)) > 0
),
pos0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM docs_w),
pos AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM pos0)"""
    + _BIGRAM_HELDOUT_TAIL,
)


# ---------------------------------------------------------------------------
# Hybrid oracles: DuckDB SQL paired with a NON-SQL Spark side (the real
# mapInPandas pipeline). These don't appear in QUERIES/names() — the Spark
# callables live in __spark_entry__; the driver still hash-compares them.
# ---------------------------------------------------------------------------

def _sql_str(s: str) -> str:
    """Portable single-quoted SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def _html_line_case_duck() -> str:
    """DuckDB twin of sources/synth.html_line (corpus text contains no
    &<>" so entity escaping is the identity here)."""
    return """CASE
           WHEN line LIKE '### %' THEN '<h3>' || substr(line, 5) || '</h3>'
           WHEN line LIKE '## %' THEN '<h2>' || substr(line, 4) || '</h2>'
           WHEN line LIKE '# %' THEN '<h1>' || substr(line, 3) || '</h1>'
           WHEN line LIKE '- %' THEN '<li>' || substr(line, 3) || '</li>'
           WHEN line LIKE '  %' THEN '<pre>' || line || '</pre>'
           WHEN length(line) = 0 THEN ''
           ELSE '<p>' || line || '</p>' END"""


def _html_meta_oracle_duck() -> str:
    from fast_pdf_parser_spark.sources.synth import HTML_PREFIX, HTML_SUFFIX

    return f"""WITH {_DUCK_LINES},
tagged AS (
  SELECT doc_id, line_no, CAST(line_no // 12 AS INT) AS page_no,
         {_html_line_case_duck()} AS el
  FROM lines
),
pages AS (
  SELECT doc_id, page_no,
         {_sql_str(HTML_PREFIX)} || string_agg(el, '' ORDER BY line_no)
           || {_sql_str(HTML_SUFFIX)} AS html
  FROM tagged GROUP BY doc_id, page_no
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(count(*) AS INT) AS total_pages,
       CAST(0 AS INT) AS parse_failures,
       CAST(sum(strlen(html)) AS BIGINT) AS bytes_decoded
FROM pages GROUP BY doc_id"""


# -- multimodal stage oracles ------------------------------------------------
# The fake decode (multimodal/media.py fake_decode_meta / fake_features) is
# pure sha256(ref) arithmetic and DuckDB has sha256(): every metadata field
# is a hex-substring expression, and the feature vector is re-derived
# term-for-term (same op order, float32 round-trip) then quantized at 1e4 —
# so the REAL mapInPandas stages get hash-checked driver rows. The media
# refs themselves are re-derived exactly as synth.interleaved_from_flat_
# documents builds them ('media://img/<doc_id>_cover.png' for every 5th
# doc; _media_frames uses 'media://vid/<doc_id>.mp4' for every 10th).

_MEDIA_DIM = 16  # fake_features default, multimodal/media.py

_DUCK_COVER_MEDIA = """media AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://img/' || CAST(doc_id AS VARCHAR) || '_cover.png' AS media_ref
  FROM documents WHERE doc_id % 5 = 0
)"""


def _duck_hb(hex_expr: str, j: int) -> str:
    """Byte ``j`` of a sha256 hex digest as an INT (digest()[j] in Python)."""
    return f"CAST('0x' || substr({hex_expr}, {2 * j + 1}, 2) AS INT)"


def _warc_oracle_duck() -> str:
    """DuckDB twin of the warc_extract driver query: url/record-id/status/
    byte-count/extracted-text re-derived from `documents` alone. The html
    shell is synth.HTML_PREFIX + '<p>' + text + '</p>' + synth.HTML_SUFFIX
    (injected as literals so the two sides cannot drift independently of
    synth), and n_body_bytes is its utf-8 byte length — the value the WARC
    HTTP Content-Length framing must reproduce exactly."""
    from fast_pdf_parser_spark.sources.synth import HTML_PREFIX, HTML_SUFFIX

    def q(s: str) -> str:
        return s.replace("'", "''")

    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       '<urn:md5:' || md5(CAST(doc_id AS VARCHAR)) || '>' AS record_id,
       CAST(200 AS INT) AS http_status,
       'text/html; charset=utf-8' AS content_type,
       CAST(strlen('{q(HTML_PREFIX)}<p>' || text || '</p>{q(HTML_SUFFIX)}')
            AS BIGINT) AS n_body_bytes,
       text AS extracted
FROM documents"""


# WARC → cleaned-corpus gates: the actual Common-Crawl-to-training-corpus
# path — parsed WARC docs through exact dedup (md5 hash-group, keep
# smallest doc_id), the text_quality_score gate (>=50 words, >10% distinct
# ratio) and the hash-coin 98/1/1 split, producing the write_docs_bucketed
# input schema. One dialect-templated body so the Spark side (over the
# parsed-WARC view) and the DuckDB oracle (over `documents` directly —
# legitimate because warc_extract's oracle proves extracted == text) can
# never drift. Scale shape: one scan + ONE hash window (the dedup rank);
# gate + split are inline expressions.
# CTE chain + final SELECT split (the _NEAR_TAIL idiom) so the capstone
# composition can embed the gates as its own CTE; the standalone body
# concatenates them unchanged.
_WARC_GATES_CTES = """gated AS (
  SELECT doc_id, text,
         {nwords} AS nw,
         {ndistinct} AS nd,
         {h} AS h
  FROM {src}
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id ASC) AS rn
  FROM gated
)"""

_WARC_GATES_SELECT = """SELECT doc_id, 'warc' AS source,
       CASE WHEN h % 100 < 98 THEN 'train'
            WHEN h % 100 = 98 THEN 'valid' ELSE 'test' END AS split,
       h AS clean_hash, text AS clean_text
FROM dedup
WHERE rn = 1 AND nw >= 50 AND nd * CAST(1.0 AS DOUBLE) / nw > 0.1"""

_WARC_GATES_BODY = ("WITH " + _WARC_GATES_CTES + "\n" + _WARC_GATES_SELECT)


def warc_gates_sql(view: str) -> str:
    """Spark-dialect cleaning gates over a parsed-WARC docs view
    ``view(doc_id BIGINT, text STRING)``."""
    return _WARC_GATES_BODY.format(
        src=view,
        nwords="size(split(text, ' '))",
        ndistinct="size(array_distinct(split(text, ' ')))",
        h=_HASH60_SPARK.format(x="text"),
    )


def _warc_clean_oracle_duck() -> str:
    kept = _WARC_GATES_BODY.format(
        src="documents",
        nwords="length(split(text, ' '))",
        ndistinct="length(list_distinct(split(text, ' ')))",
        h=_HASH60_DUCK.format(x="text"),
    )
    return f"""WITH kept AS (
{kept}
)
SELECT split, CAST(count(*) AS INT) AS n_docs,
       CAST(sum(strlen(clean_text)) AS BIGINT) AS clean_bytes
FROM kept GROUP BY split"""


def _media_features_oracle_duck() -> str:
    """DuckDB twin of multimodal.media.extract_media_features over the
    pipeline's cover-image media spans (fake_decode_meta + fake_features,
    multimodal/media.py:81-108). The feature quantization mirrors the Spark
    projection in __spark_entry__._media_features: each float32 value v →
    floor(v*1e4 + 0.5); v*1e4 is exact in double (24-bit mantissa × 10^4
    fits 53 bits), so floor sees the same exact value both sides."""
    d = "CAST({x} AS DOUBLE)"
    raws = ",\n         ".join(
        f"({d.format(x=_duck_hb('fh', i))} - {d.format(x='127.5')})"
        f" / {d.format(x='127.5')} AS r{i}"
        for i in range(_MEDIA_DIM)
    )
    sumsq = " + ".join(f"r{i} * r{i}" for i in range(_MEDIA_DIM))
    qs = ", ".join(
        "CAST(CAST(floor(CAST(CAST(r{i} / nrm AS FLOAT) AS DOUBLE) * 10000"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS VARCHAR)".format(i=i)
        for i in range(_MEDIA_DIM)
    )
    return f"""WITH {_DUCK_COVER_MEDIA},
hashed AS (
  SELECT doc_id, media_ref, sha256(media_ref) AS h,
         sha256('feat:' || media_ref) AS fh
  FROM media
),
raw AS (
  SELECT doc_id, media_ref, h,
         {raws}
  FROM hashed
),
normed AS (
  SELECT *, sqrt(CAST(0 AS DOUBLE) + {sumsq}) AS nrm FROM raw
)
SELECT doc_id, media_ref,
       'image' AS media_type,
       CAST(64 + {_duck_hb('h', 0)} * 8 AS INT) AS width,
       CAST(64 + {_duck_hb('h', 1)} * 8 AS INT) AS height,
       CAST(1 + {_duck_hb('h', 2)} % 4 AS INT) AS channels,
       CAST(0 AS INT) AS duration_ms,
       CAST(NULL AS VARCHAR) AS bytes_sha256,
       CAST(0 AS BIGINT) AS n_bytes,
       concat_ws(',', {qs}) AS features_q
FROM normed"""


def _media_resize_oracle_duck(max_side: int = 256) -> str:
    """DuckDB twin of multimodal.media.resize_images (aspect-preserving
    geometry, floor-half-up rounding, deterministic payload digest)."""
    return f"""WITH {_DUCK_COVER_MEDIA},
meta AS (
  SELECT doc_id, media_ref,
         CAST(64 + {_duck_hb('sha256(media_ref)', 0)} * 8 AS INT) AS w,
         CAST(64 + {_duck_hb('sha256(media_ref)', 1)} * 8 AS INT) AS hh
  FROM media
),
geom AS (
  SELECT doc_id, media_ref, w, hh,
         least(CAST(1 AS DOUBLE),
               CAST({max_side} AS DOUBLE)
                 / CAST(greatest(w, hh, 1) AS DOUBLE)) AS s
  FROM meta
),
sized AS (
  SELECT doc_id, media_ref, w, hh,
         greatest(1, CAST(floor(CAST(w AS DOUBLE) * s
                                + CAST(0.5 AS DOUBLE)) AS INT)) AS ow,
         greatest(1, CAST(floor(CAST(hh AS DOUBLE) * s
                                + CAST(0.5 AS DOUBLE)) AS INT)) AS oh
  FROM geom
)
SELECT doc_id, media_ref, w AS src_width, hh AS src_height,
       CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
       sha256('resized:' || media_ref || ':'
              || CAST(ow AS VARCHAR) || 'x' || CAST(oh AS VARCHAR))
         AS resized_sha256
FROM sized"""


def _media_frames_oracle_duck(every_ms: int = 5000,
                              max_frames: int = 8) -> str:
    """DuckDB twin of multimodal.media.sample_frames over the synthetic
    video refs __spark_entry__._media_frames derives (every 10th doc);
    duration = 1000 + uint16-LE of digest bytes 3..4."""
    return f"""WITH vids AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://vid/' || CAST(doc_id AS VARCHAR) || '.mp4' AS media_ref
  FROM documents WHERE doc_id % 10 = 0
),
meta AS (
  SELECT doc_id, media_ref,
         1000 + {_duck_hb('sha256(media_ref)', 3)}
              + 256 * {_duck_hb('sha256(media_ref)', 4)} AS duration
  FROM vids
),
frames AS (
  SELECT doc_id, media_ref,
         unnest(range(least(duration // {every_ms} + 1, {max_frames}))) AS f
  FROM meta
)
SELECT doc_id, media_ref, CAST(f AS INT) AS frame_index,
       CAST(f * {every_ms} AS INT) AS timestamp_ms,
       sha256('frame:' || media_ref || ':'
              || CAST(f * {every_ms} AS VARCHAR)) AS frame_sha256
FROM frames"""


# The S4/A3 axis of the pipeline made hash-checkable: for the text-only
# derived corpus (sources/synth.interleaved_from_flat_documents), total_pages,
# parse_failures and bytes_decoded are pure functions of documents.text —
# re-derive the 8-word-line / 12-line-page model in DuckDB and count what the
# pipeline counts (pages seen, utf-8 bytes decoded, zero failures).
# pipeline_html_meta_oracle does the same for the HTML path: the derived
# pages are wrapped in boilerplate HTML (JVM-side on the Spark side, string
# concat in DuckDB — both from synth.HTML_PREFIX/SUFFIX so they cannot
# drift), run through the REAL extraction pipeline on the Spark side, and
# the per-doc page/byte/failure counters must agree.
HYBRID_ORACLES: dict[str, str] = {
    "pipeline_meta_oracle": f"""WITH {_DUCK_LINES},
pages AS (
  SELECT doc_id, CAST(line_no // 12 AS INT) AS page_no,
         string_agg(line, chr(10) ORDER BY line_no) AS page_text
  FROM lines GROUP BY doc_id, CAST(line_no // 12 AS INT)
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(count(*) AS INT) AS total_pages,
       CAST(0 AS INT) AS parse_failures,
       CAST(sum(strlen(page_text)) AS BIGINT) AS bytes_decoded
FROM pages GROUP BY doc_id""",
    # docling sink doc-level meta, parsed back out of the emitted JSON on
    # the Spark side (__spark_entry__._pipeline_docling_meta): mimetype and
    # filename are fixed functions of the doc, binary_hash is the portable
    # 60-bit md5 (sinks.py docstring — std::hash is platform-dependent),
    # and the indexing invariant is an always-true consistency bit the
    # Spark side must PROVE from the real payloads
    "pipeline_docling_meta_oracle": """SELECT
  CAST(doc_id AS VARCHAR) AS doc_id,
  'application/pdf' AS mimetype,
  CAST(doc_id AS VARCHAR) AS filename,
  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
    AS binary_hash,
  CAST(1 AS INT) AS chunks_consistent
FROM documents""",
    # WARC axis: the Spark side builds real WARC/1.0+HTTP framing (mixed
    # plain and per-record-gzip files), re-parses it with sources/warc and
    # strips the boilerplate shell; DuckDB re-derives every field straight
    # from `documents` — byte counts prove the framing, `extracted` proves
    # the strip (the <p>-wrapped text round-trips to itself)
    "warc_extract": _warc_oracle_duck(),
    # WARC source composed with the durable cleaned-corpus sink: the Spark
    # side builds WARC files, re-parses them, runs the cleaning gates and
    # WRITES the kept docs via the resume-safe bucketed sink, reporting
    # per-split counts + byte totals READ BACK from disk; the oracle
    # re-derives the same totals from `documents` directly
    "warc_clean_write": _warc_clean_oracle_duck(),
    # daily-crawl increment capstone (__spark_entry__._crawl_increment_e2e):
    # WARC batch → gates → incremental exact+near dedup vs the stored
    # corpus (bands from the sink) → sink + pack append; Spark reports
    # stage counts READ BACK from written artifacts, DuckDB re-derives
    # them all from `documents` in one statement
    "crawl_increment_e2e": _crawl_increment_oracle_duck(),
    # batch-incremental NEAR-dup (__spark_entry__._dedup_incremental_near):
    # the Spark side derives band signatures from the corpus READ BACK
    # from the real bucketed sink; the oracle re-derives corpus, bands and
    # every jaccard verdict from `documents` — a value mismatch would
    # expose sink corruption, band drift, or jaccard divergence
    "dedup_incremental_near": _near_incremental_duck_sql(),
    # packed-sequence sink (__spark_entry__._text_pack_write): the Spark
    # side packs a synthetic encoding (ids = 1..n for the whitespace word
    # count) through the real distributed pack + shard-partitioned writer
    # and aggregates per-shard geometry from the READ-BACK parquet; the
    # oracle re-derives the whole concat-then-split arithmetic — a single
    # global prefix sum is equivalent to the pack's shard-decomposed one
    # because shard order == doc_id order. seq_len=128, seqs_per_shard=64.
    "text_pack_write": """WITH toks AS (
  SELECT doc_id,
         CAST(length(regexp_split_to_array(trim(text), '[ \t\n]+'))
              AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
),
ordered AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) - n AS start
  FROM toks
),
expl AS (
  SELECT doc_id, start, unnest(range(0, n)) AS i FROM ordered
),
pos AS (
  SELECT doc_id, (start + i) // 128 AS seq_id, i + 1 AS id_val FROM expl
),
per_seq AS (
  SELECT seq_id, count(*) AS n_tok,
         count(DISTINCT doc_id) AS n_docs,
         sum(id_val) AS seq_ids_sum
  FROM pos GROUP BY seq_id
)
SELECT CAST(seq_id // 64 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(n_docs) AS BIGINT) AS doc_slices,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(seq_ids_sum) AS BIGINT) AS ids_sum,
       CAST(sum(CASE WHEN n_tok = 128 THEN 1 ELSE 0 END) AS BIGINT)
         AS full_seqs
FROM per_seq GROUP BY seq_id // 64""",
    "pipeline_html_meta_oracle": _html_meta_oracle_duck(),
    # content-level HTML twin: extraction inverts the wrap exactly, so the
    # extracted markdown per page equals the page's non-blank lines in
    # line_no order (the builder-roundtrip contract; corpus text contains
    # no '&<>"' or whitespace runs, so entity unescape and collapse are the
    # identity). page_no is 1-based like the span offsets.
    # blank lines drop out of the extraction but a page whose every line is
    # blank (a short trailing page) still EXISTS — group all lines by page,
    # filter blanks inside the aggregate so such pages yield extracted=''
    "pipeline_html_content_oracle": f"""WITH {_DUCK_LINES}
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(line_no // 12 AS INT) + 1 AS page_no,
       coalesce(string_agg(line, chr(10) ORDER BY line_no)
                  FILTER (line <> ''), '') AS extracted
FROM lines GROUP BY doc_id, CAST(line_no // 12 AS INT)""",
    # connected components + canonical pick over LSH pairs; the Spark side
    # is operators/clusters.resolve_clusters (iterative, not SQL)
    "dedup_clusters": _CLUSTERS_DUCK,
    # same components, quality-ranked survivor (longest text wins)
    "dedup_clusters_ranked": _CLUSTERS_RANKED_DUCK,
    # materialized cleaned corpus: the Spark side RUNS the resume-safe
    # sink (plans/checkpoint.write_clean_corpus) and reports per-(split,
    # source) doc counts + byte totals read back from the WRITTEN files;
    # the oracle recomputes the same totals from the cleaning DAG directly
    "pipeline_clean_write": (
        "WITH clean AS (\n"
        + QUERIES["pipeline_clean_corpus"]["duck"]
        + "\n)\n"
        "SELECT split, source, CAST(count(*) AS INT) AS n_docs,\n"
        "       CAST(sum(strlen(clean_text)) AS BIGINT) AS clean_bytes\n"
        "FROM clean WHERE final_keep = 1 GROUP BY split, source"
    ),
    "multimodal_media_features": _media_features_oracle_duck(),
    "multimodal_resize": _media_resize_oracle_duck(),
    "multimodal_frame_sample": _media_frames_oracle_duck(),
    # batch-incremental dedup: the Spark side materializes the even-half
    # "previous run" through the REAL durable sink and reads the corpus
    # hashes back from disk before anti-joining the incoming batch
    # (__spark_entry__._dedup_incremental); the oracle re-derives every
    # verdict from `documents` directly — in_corpus iff the text hash
    # appears in the even half, kept iff novel AND first occurrence
    # within the batch
    "dedup_incremental": f"""WITH a AS (
  SELECT DISTINCT {_HASH60_DUCK.format(x='text')} AS ch
  FROM documents WHERE doc_id % 2 = 0
),
b AS (
  SELECT doc_id, {_HASH60_DUCK.format(x='text')} AS h
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, {_HASH60_DUCK.format(x='text')} AS h
  FROM documents WHERE doc_id % 4 = 0
),
ranked AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id ASC) AS rn
  FROM b
)
SELECT r.doc_id,
       CAST(CASE WHEN a.ch IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS in_corpus,
       CAST(CASE WHEN a.ch IS NULL AND r.rn = 1 THEN 1 ELSE 0 END AS INT)
         AS kept
FROM ranked r LEFT JOIN a ON r.h = a.ch""",
}


def spark_sql(name: str) -> str:
    return QUERIES[name]["spark"]


def duck_sql(name: str) -> str:
    return QUERIES[name]["duck"]


def names() -> list[str]:
    return list(QUERIES)


# ---------------------------------------------------------------------------
# Embedding near-dup + bucketed ANN (the LSH "scale path" variants)
# ---------------------------------------------------------------------------

# Banded random-hyperplane LSH (sign bits of sparse ±1 projections).
# The brute-force cosine (ann_cosine_topk) is the baseline; these bucketed
# variants are the path that survives 10^9 vectors: candidate generation is
# an equi-join on (band, band_key), never a cross join. B independent bands
# recover the recall a single key loses, the key space is 2^bits per band
# (not a fixed 256), and the same mega-bucket cap as dedup_lsh_pairs bounds
# the within-bucket pairing on skewed corpora. Hyperplanes come from
# similarity.hyperplane_terms (md5-seeded), so both dialects — and the
# DataFrame API in operators/similarity.py — bucket identically.
from fast_pdf_parser_spark.operators.similarity import (  # noqa: E402
    EMB_DIM as _EMB_DIM,
    GRID_BAND as _GRID_BAND,
    GRID_BITS as _GRID_BITS,
    LSH_BANDS as _EMB_BANDS,
    LSH_BITS as _EMB_BITS,
    LSH_BUCKET_CAP as _EMB_CAP,
    hyperplane_terms as _hp_terms,
)


def _band_key_sql(band: int, elem: str, n_bits: int = _EMB_BITS) -> str:
    """One band's key as portable SQL; ``elem`` formats a 1-based element
    access (Spark: element_at(embedding, {i}); DuckDB: embedding[{i}]).
    The projection sum is written in one fixed order so both engines
    produce bit-identical doubles."""
    bits = []
    for bit in range(n_bits):
        proj = "CAST(0.0 AS DOUBLE)"
        for d, sign in _hp_terms(band, bit):
            op = "+" if sign > 0 else "-"
            proj += f" {op} CAST({elem.format(i=d)} AS DOUBLE)"
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _emb_v_sql(elem: str) -> str:
    """The banded-vector projection: (vec_id, e, k0..k{B-1})."""
    keys = ",\n         ".join(
        f"{_band_key_sql(b, elem)} AS k{b}" for b in range(_EMB_BANDS)
    )
    return f"""SELECT vec_id, embedding AS e,
         {keys}
  FROM embeddings"""


def _emb_tail_cte(source: str) -> str:
    """bands (exploded via UNION ALL over ``source``) → small_buckets (the
    cap) → member (capped index rows). ``source`` is either the inline `v`
    CTE (oracle form) or a materialized temp view (fast Spark path — the
    inline form re-executes the scan+key projection once per band)."""
    union = "\n  UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS band_key FROM {source}"
        for b in range(_EMB_BANDS)
    )
    return f"""bands AS (
  {union}
),
small_buckets AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING count(*) BETWEEN 2 AND {_EMB_CAP}
),
member AS (
  SELECT b.vec_id, b.band, b.band_key
  FROM bands b JOIN small_buckets s
    ON b.band = s.band AND b.band_key = s.band_key
)"""


def _emb_bands_cte(elem: str) -> str:
    """Full inline CTE chain (v → bands → small_buckets → member)."""
    return f"v AS (\n  {_emb_v_sql(elem)}\n),\n" + _emb_tail_cte("v")


_EMB_ELEM_SPARK = "element_at(embedding, {i})"
_EMB_ELEM_DUCK = "embedding[{i}]"

_COS_SPARK = """round(
  aggregate(zip_with(a.e, b.e, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
  / (sqrt(aggregate(transform(a.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
     * sqrt(aggregate(transform(b.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))), 6)"""

# candidate pairs: distinct (a, b) sharing ANY capped band bucket, then the
# exact cosine verifies each candidate — linear index build, bounded buckets.
_EMB_CAND_PAIRS = """cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM member a JOIN member b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)"""


def _emb_dedup_tail_spark(source: str) -> str:
    """Everything after the banded-vector table: bands → member → distinct
    candidate pairs → exact-cosine verify. ``source`` = 'v' (inline oracle
    form) or a materialized temp view (fast path)."""
    return f"""{_emb_tail_cte(source)},
{_EMB_CAND_PAIRS},
pairs AS (
  SELECT c.vec_a, c.vec_b, {_COS_SPARK} AS cos
  FROM cand c JOIN {source} a ON a.vec_id = c.vec_a
              JOIN {source} b ON b.vec_id = c.vec_b
)
SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.1"""


QUERIES["dedup_embedding_cosine"] = _pair(
    f"""WITH v AS (
  {_emb_v_sql(_EMB_ELEM_SPARK)}
),
{_emb_dedup_tail_spark("v")}""",
    f"""WITH {_emb_bands_cte(_EMB_ELEM_DUCK)},
{_EMB_CAND_PAIRS},
raw AS (
  SELECT c.vec_a, c.vec_b,
         unnest(list_zip(a.e, b.e)) AS z
  FROM cand c JOIN v a ON a.vec_id = c.vec_a JOIN v b ON b.vec_id = c.vec_b
),
pairs AS (
  SELECT vec_a, vec_b,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM raw GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.1""",
)

# ANN via the same banded index: queries are vec_id < 20; candidates are the
# distinct ids sharing any capped band bucket with the query.
_EMB_CAND_ANN = """cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS vec_id
  FROM member a JOIN member b
    ON a.band = b.band AND a.band_key = b.band_key AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 20
)"""

def _emb_ann_tail_spark(source: str) -> str:
    return f"""{_emb_tail_cte(source)},
{_EMB_CAND_ANN},
scored AS (
  SELECT c.query_id, c.vec_id, {_COS_SPARK} AS cos
  FROM cand c JOIN {source} a ON a.vec_id = c.query_id
              JOIN {source} b ON b.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 3"""


QUERIES["ann_lsh_topk"] = _pair(
    f"""WITH v AS (
  {_emb_v_sql(_EMB_ELEM_SPARK)}
),
{_emb_ann_tail_spark("v")}""",
    f"""WITH {_emb_bands_cte(_EMB_ELEM_DUCK)},
{_EMB_CAND_ANN},
raw AS (
  SELECT c.query_id, c.vec_id,
         unnest(list_zip(a.e, b.e)) AS z
  FROM cand c JOIN v a ON a.vec_id = c.query_id JOIN v b ON b.vec_id = c.vec_id
),
scored AS (
  SELECT query_id, vec_id,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM raw GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 3""",
)


# Grid-IVF: the IVF *search* pattern (probe a handful of cells, equi-join on
# cell id, exact-cosine verify) with a deterministic closed-form coarse
# quantizer — GRID_BITS hyperplane sign bits — instead of KMeans, so the
# whole query is SQL-expressible and hash-checks against DuckDB. Multi-probe:
# each query searches its own cell plus the GRID_BITS cells at Hamming
# distance 1. The KMeans tier (similarity.fit_ivf_cells/ivf_topk) stays the
# data-adaptive variant with the rows-only gate.
def _grid_flip_sql(i: int, n_bits: int) -> str:
    """cell0 with bit ``i`` (0-based) flipped, as portable SQL."""
    pre = f"substr(cell0, 1, {i})" if i > 0 else "''"
    post = f"substr(cell0, {i + 2}, {n_bits - i - 1})" if i < n_bits - 1 \
        else "''"
    return (f"concat({pre}, CASE WHEN substr(cell0, {i + 1}, 1) = '1' "
            f"THEN '0' ELSE '1' END, {post})")


def _grid_probe_list() -> str:
    return ", ".join(["cell0"] + [
        _grid_flip_sql(i, _GRID_BITS) for i in range(_GRID_BITS)])


def _grid_head(elem: str) -> str:
    cell = _band_key_sql(_GRID_BAND, elem, _GRID_BITS)
    return f"""c AS (
  SELECT vec_id, embedding AS e, {cell} AS cell
  FROM embeddings WHERE vec_id >= 5
),
q AS (
  SELECT vec_id AS query_id, embedding AS e, {cell} AS cell0
  FROM embeddings WHERE vec_id < 5
)"""


_GRID_RANKED_TAIL = """ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 10"""


# Cluster-balanced sampling over embedding space — the embedding-space
# analogue of text_domain_cap (cluster-balanced data selection: cap how
# many documents any one semantic cluster contributes to the training
# mix). Clusters are the deterministic hyperplane-grid cells of the IVF
# tier above, so the whole operator is SQL and hash-checks cross-engine.
# Scale shape: ONE hash partition by cell + a rank window — no join; the
# deterministic vec_id order stands in for a quality column (swapping in
# a scored ORDER BY is a one-line change, as with text_domain_cap).
def _cluster_cap_sql(elem: str) -> str:
    cell = _band_key_sql(_GRID_BAND, elem, _GRID_BITS)
    return f"""WITH cells AS (
  SELECT vec_id, {cell} AS cell FROM embeddings
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell ORDER BY vec_id ASC)
           AS cell_rank,
         count(*) OVER (PARTITION BY cell) AS cell_total
  FROM cells
)
SELECT vec_id, cell,
       CAST(cell_rank AS INT) AS cell_rank,
       CAST(cell_total AS INT) AS cell_total,
       CAST(CASE WHEN cell_rank <= 8 THEN 1 ELSE 0 END AS INT) AS kept
FROM ranked"""


QUERIES["embed_cluster_cap"] = _pair(
    _cluster_cap_sql(_EMB_ELEM_SPARK),
    _cluster_cap_sql(_EMB_ELEM_DUCK),
)


# SemDeDup-style semantic dedup over the grid-IVF cells (Abbas et al.
# 2023, public): within each quantizer cell, vectors semantically close
# to the CELL CENTROID form a near-group; keep the single best
# representative (highest cos-to-centroid, vec_id tiebreak) and drop the
# rest — the embedding-level dedup tier the exact/MinHash/SimHash/
# pairwise-cosine family lacks. Candidate generation is cell-bounded by
# construction (the same cells the persisted IVF index is partitioned
# by), never all-pairs. Determinism discipline: components quantize to
# 1e4 fixed-point BIGINTs, the centroid is the exact per-cell component
# SUM (cosine is scale-invariant, so sum == mean — no division in the
# aggregate), dot/norms are exact BIGINT sums, and the only float ops
# are single IEEE sqrt/divide/multiply/floor steps on exact integers —
# the text_bigram/mixture rule. Threshold 0.4 (x1e4) is tuned to the
# synthetic corpus (random embeddings have low centroid affinity; real
# text embeddings would use ~0.95). Scale shape: two grouped aggregates
# over (cell, pos) / (vec, pos) + one rank window by cell; exact BIGINT
# sums hold to ~1e8 vectors per cell at 1e4 scale before the dot risks
# BIGINT range — beyond that, re-scale the fixed point per shard.
SEMDEDUP_THRESHOLD_X1E4 = 4000

_SEMDEDUP_BODY = """WITH cells AS (
  SELECT vec_id, embedding, {cell} AS cell FROM embeddings{corpus_filter}
),
comps AS (
  SELECT vec_id, cell, pos,
         CAST(floor(CAST({elem_pos} AS DOUBLE) * 10000
              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vf
  FROM cells{pos_join}
),
sums AS (
  SELECT cell, pos, sum(vf) AS sf FROM comps GROUP BY cell, pos
),
scores AS (
  SELECT c.vec_id, c.cell,
         sum(c.vf * s.sf) AS dot,
         sum(c.vf * c.vf) AS nv2
  FROM comps c JOIN sums s ON c.cell = s.cell AND c.pos = s.pos
  GROUP BY c.vec_id, c.cell
),
cellnorm AS (
  SELECT cell, sum(sf * sf) AS ns2 FROM sums GROUP BY cell
),
cosed AS (
  SELECT sc.vec_id, sc.cell,
         CASE WHEN sc.nv2 = 0 OR cn.ns2 = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(CAST(sc.dot AS DOUBLE)
                   / (sqrt(CAST(sc.nv2 AS DOUBLE))
                      * sqrt(CAST(cn.ns2 AS DOUBLE)))
                   * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
         END AS cos_centroid_x1e4
  FROM scores sc JOIN cellnorm cn ON sc.cell = cn.cell
),
ranked AS (
  SELECT vec_id, cell, cos_centroid_x1e4,
         row_number() OVER (
           PARTITION BY cell,
                        CASE WHEN cos_centroid_x1e4 >= {thr}
                             THEN 1 ELSE 0 END
           ORDER BY cos_centroid_x1e4 DESC, vec_id ASC) AS grp_rank
  FROM cosed
)
SELECT vec_id, cell, cos_centroid_x1e4,
       CAST(CASE WHEN cos_centroid_x1e4 < {thr} OR grp_rank = 1
                 THEN 1 ELSE 0 END AS INT) AS semdedup_keep
FROM ranked"""

def _semdedup_sql(dialect: str, corpus_only: bool = False) -> str:
    """dedup_semantic_cells body per dialect; ``corpus_only=True`` restricts
    the dedup to corpus vectors (vec_id >= 5) — the recall-report form
    (advice r8): with queries included, a query vector can win grp_rank=1
    inside a cell and evict the corpus representative, so 'recall lost =
    corpus the dedup deleted' would be distorted by non-corpus members."""
    flt = " WHERE vec_id >= 5" if corpus_only else ""
    if dialect == "spark":
        return _SEMDEDUP_BODY.format(
            cell=_band_key_sql(_GRID_BAND, _EMB_ELEM_SPARK, _GRID_BITS),
            elem_pos="element_at(embedding, pos)",
            pos_join=f" LATERAL VIEW explode(sequence(1, {_EMB_DIM}))"
                     " t AS pos",
            thr=SEMDEDUP_THRESHOLD_X1E4,
            corpus_filter=flt,
        )
    return _SEMDEDUP_BODY.format(
        cell=_band_key_sql(_GRID_BAND, _EMB_ELEM_DUCK, _GRID_BITS),
        elem_pos="embedding[pos]",
        pos_join=f", unnest(range(1, {_EMB_DIM + 1})) AS t(pos)",
        thr=SEMDEDUP_THRESHOLD_X1E4,
        corpus_filter=flt,
    )


QUERIES["dedup_semantic_cells"] = _pair(
    _semdedup_sql("spark"), _semdedup_sql("duck"),
)


QUERIES["ann_ivf_grid"] = _pair(
    f"""WITH {_grid_head(_EMB_ELEM_SPARK)},
probes AS (
  SELECT query_id, e, probe AS cell
  FROM q LATERAL VIEW explode(array({_grid_probe_list()})) t AS probe
),
scored AS (
  SELECT a.query_id, b.vec_id, {_COS_SPARK} AS cos
  FROM probes a JOIN c b ON b.cell = a.cell
),
{_GRID_RANKED_TAIL}""",
    f"""WITH {_grid_head(_EMB_ELEM_DUCK)},
probes AS (
  SELECT query_id, e, unnest([{_grid_probe_list()}]) AS cell FROM q
),
raw AS (
  SELECT a.query_id, b.vec_id, unnest(list_zip(a.e, b.e)) AS z
  FROM probes a JOIN c b ON b.cell = a.cell
),
scored AS (
  SELECT query_id, vec_id,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM raw GROUP BY query_id, vec_id
),
{_GRID_RANKED_TAIL}""",
)


# int8-quantized ANN — the integration of embed_quantize_int8 with the
# search path (the point of int8 is searching over it: 4x less scan
# bandwidth per probe). Symmetric design: corpus AND queries are
# quantized (amax/127 per-vector scale, floor-half-up — the exact
# embed_quantize_int8 arithmetic), dequantized as q * amax / 127 in
# identical IEEE double order both sides, then the standard exact-cosine
# top-10. The recall cost of quantization vs the float baseline is a
# driver-visible row via the 'int8' tier in ann_recall_report below. At
# scale this brute-force form is the verify kernel inside an IVF/LSH
# probe, not a corpus scan (same role as ann_cosine_topk).
def _int8_iv_cte(transform_fn: str, q_expr: dict) -> str:
    return f"""iv AS (
  SELECT vec_id,
         {transform_fn}({q_expr['q']}, x -> CAST(x AS DOUBLE) * amax / 127)
           AS e
  FROM (SELECT vec_id, {q_expr['amax']} AS amax, embedding FROM embeddings) t
)"""


_INT8_ANN_SPARK = f"""WITH {_int8_iv_cte('transform', _EQ_SPARK)},
q AS (SELECT vec_id AS query_id, e AS qe FROM iv WHERE vec_id < 5),
c AS (SELECT vec_id, e AS ce FROM iv WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(
           aggregate(zip_with(qe, ce, (a, b) -> a * b),
                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
           / (sqrt(aggregate(transform(qe, a -> a * a),
                             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
              * sqrt(aggregate(transform(ce, a -> a * a),
                               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))),
           6) AS cos
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 10"""

_INT8_ANN_DUCK = f"""WITH {_int8_iv_cte('list_transform', _EQ_DUCK)},
q AS (SELECT vec_id AS query_id, e AS qe FROM iv WHERE vec_id < 5),
c AS (SELECT vec_id, e AS ce FROM iv WHERE vec_id >= 5),
pairs AS (
  SELECT q.query_id, c.vec_id, unnest(list_zip(qe, ce)) AS z
  FROM q CROSS JOIN c
),
scored AS (
  SELECT query_id, vec_id,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM pairs GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
FROM ranked WHERE rank <= 10"""

QUERIES["ann_int8_topk"] = _pair(_INT8_ANN_SPARK, _INT8_ANN_DUCK)


# int8 through the BUCKETED path (r6 verdict #6): the grid-IVF probe
# structure (cell keys + multi-probe + equi-join + exact-cosine verify)
# running entirely over dequantized-int8 vectors — cells AND scores both
# come from the quantized data, so this is the plan an int8-only corpus
# at 1e9 vectors actually executes: 4x less scan bandwidth per probed
# cell, no float copy of the corpus anywhere. Recall cost vs the float
# exact baseline is the 'ivf_int8' tier in ann_recall_report.
_IVF_INT8_CELL_SPARK = _band_key_sql(
    _GRID_BAND, "element_at(e, {i})", _GRID_BITS)
_IVF_INT8_CELL_DUCK = _band_key_sql(_GRID_BAND, "e[{i}]", _GRID_BITS)

_IVF_INT8_SPARK = f"""WITH {_int8_iv_cte('transform', _EQ_SPARK)},
c AS (
  SELECT vec_id, e, {_IVF_INT8_CELL_SPARK} AS cell
  FROM iv WHERE vec_id >= 5
),
q AS (
  SELECT vec_id AS query_id, e, {_IVF_INT8_CELL_SPARK} AS cell0
  FROM iv WHERE vec_id < 5
),
probes AS (
  SELECT query_id, e, probe AS cell
  FROM q LATERAL VIEW explode(array({_grid_probe_list()})) t AS probe
),
scored AS (
  SELECT a.query_id, b.vec_id, {_COS_SPARK} AS cos
  FROM probes a JOIN c b ON b.cell = a.cell
),
{_GRID_RANKED_TAIL}"""

_IVF_INT8_DUCK = f"""WITH {_int8_iv_cte('list_transform', _EQ_DUCK)},
c AS (
  SELECT vec_id, e, {_IVF_INT8_CELL_DUCK} AS cell
  FROM iv WHERE vec_id >= 5
),
q AS (
  SELECT vec_id AS query_id, e, {_IVF_INT8_CELL_DUCK} AS cell0
  FROM iv WHERE vec_id < 5
),
probes AS (
  SELECT query_id, e, unnest([{_grid_probe_list()}]) AS cell FROM q
),
raw AS (
  SELECT a.query_id, b.vec_id, unnest(list_zip(a.e, b.e)) AS z
  FROM probes a JOIN c b ON b.cell = a.cell
),
scored AS (
  SELECT query_id, vec_id,
         round(sum(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)) /
               (sqrt(sum(CAST(z[1] AS DOUBLE) * CAST(z[1] AS DOUBLE))) *
                sqrt(sum(CAST(z[2] AS DOUBLE) * CAST(z[2] AS DOUBLE)))), 6) AS cos
  FROM raw GROUP BY query_id, vec_id
),
{_GRID_RANKED_TAIL}"""

QUERIES["ann_ivf_int8"] = _pair(_IVF_INT8_SPARK, _IVF_INT8_DUCK)


# Recall report for the approximate ANN tiers against the exact brute-force
# baseline — deterministic tiers (banded LSH, hyperplane grid), so the
# recall itself is a pure function of the data and DuckDB can re-derive it.
# Makes the quality/speed tradeoff of the scale paths a per-round
# CORRECTNESS row instead of a pytest-only number. One row per (tier,
# query): hits, k, recall@k in 1e4 fixed point (exact integer division —
# hits and k are integers, see the ulp note above text_unigram_surprisal).
#
# Expected values on the driver corpus — and why they are the RIGHT
# values: the synthetic embeddings are unit-scale noise (best exact cosine
# ~0.37), so "nearest neighbors" are statistical accidents. The grid tier
# multi-probes 5 of 16 cells and recovers a corresponding fraction of the
# accidental top-10 (recall@10 ~0.2-0.6); the banded-LSH tier requires a
# full 12-bit sign-key collision, which noise pairs almost never produce —
# recall 0 with ~1-2 arbitrary candidates per query. On data with REAL
# similarity structure the same report shows LSH recovering planted
# neighbors at rank 1 (tests/test_similarity.py pins this with a planted
# corpus). That contrast is the point of the report: bucketed ANN is a
# scale path for clustered data, not a substitute ranking on noise.
def _recall_sql(exact: str, lsh: str, grid: str, int8: str,
                ivf_int8: str, semdedup: str) -> str:
    """The 'int8' tier (added r6) measures the quantization recall cost:
    int8 top-10 vs the FLOAT exact baseline — the number that tells you
    whether the 4x-smaller vectors changed the answers. The 'ivf_int8'
    tier (r7) composes quantization INTO the bucketed scale path: grid
    cells and cosines both computed from dequantized-int8 vectors, scored
    against the float exact baseline — quantization error + probe miss in
    one number. The 'semdedup' tier (r8) quantifies what cell-centroid
    semantic dedup REMOVES in retrieval terms: hits = how many of each
    query's exact top-10 neighbors survive dedup_semantic_cells
    (semdedup_keep = 1) — recall lost here is corpus the dedup tier
    deleted, not a probe miss. The semdedup subquery runs CORPUS-ONLY
    (vec_id >= 5, advice r8): queries must not participate in cell
    centroids or win grp_rank=1 and evict a corpus representative."""
    return f"""WITH exact AS (
{exact}
),
lsh AS (
{lsh}
),
grid AS (
{grid}
),
int8 AS (
{int8}
),
ivf_int8 AS (
{ivf_int8}
),
semk AS (
  SELECT vec_id FROM (
{semdedup}
  ) z WHERE semdedup_keep = 1 AND vec_id >= 5
),
per AS (
  SELECT 'lsh' AS tier, e.query_id, CAST(3 AS INT) AS k,
         CAST(count(l.neighbor_id) AS INT) AS hits
  FROM (SELECT * FROM exact WHERE rank <= 3) e
  LEFT JOIN lsh l
    ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
  UNION ALL
  SELECT 'grid' AS tier, e.query_id, CAST(10 AS INT) AS k,
         CAST(count(g.neighbor_id) AS INT) AS hits
  FROM exact e
  LEFT JOIN grid g
    ON g.query_id = e.query_id AND g.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
  UNION ALL
  SELECT 'int8' AS tier, e.query_id, CAST(10 AS INT) AS k,
         CAST(count(i.neighbor_id) AS INT) AS hits
  FROM exact e
  LEFT JOIN int8 i
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
  UNION ALL
  SELECT 'ivf_int8' AS tier, e.query_id, CAST(10 AS INT) AS k,
         CAST(count(v.neighbor_id) AS INT) AS hits
  FROM exact e
  LEFT JOIN ivf_int8 v
    ON v.query_id = e.query_id AND v.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
  UNION ALL
  SELECT 'semdedup' AS tier, e.query_id, CAST(10 AS INT) AS k,
         CAST(count(s.vec_id) AS INT) AS hits
  FROM exact e
  LEFT JOIN semk s ON s.vec_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT tier, query_id, k, hits,
       CAST(floor(hits * CAST(10000.0 AS DOUBLE) / k
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS recall_x1e4
FROM per"""


QUERIES["ann_recall_report"] = _pair(
    _recall_sql(_ANN_SPARK, QUERIES["ann_lsh_topk"]["spark"],
                QUERIES["ann_ivf_grid"]["spark"], _INT8_ANN_SPARK,
                _IVF_INT8_SPARK, _semdedup_sql("spark", corpus_only=True)),
    _recall_sql(_ANN_DUCK, QUERIES["ann_lsh_topk"]["duck"],
                QUERIES["ann_ivf_grid"]["duck"], _INT8_ANN_DUCK,
                _IVF_INT8_DUCK, _semdedup_sql("duck", corpus_only=True)),
)


def _emb_lsh_view(spark) -> str:
    """Materialize the banded-vector table ONCE (``util.materialize``:
    persisted with lineage, freed by ``spark.catalog.clearCache()`` at the
    next query boundary) and register it as a temp view. The tail SQL
    references the vector table ~8 times (6 band branches + 2 cosine
    joins); against the inline CTE each reference re-executes the parquet
    scan and the 72 hyperplane sums — against the materialized view they
    rescan in-memory rows. Same output, the linear index build runs once.
    """
    from fast_pdf_parser_spark.util import materialize

    name = "emb_lsh_v"
    materialize(spark.sql(_emb_v_sql(_EMB_ELEM_SPARK))
                ).createOrReplaceTempView(name)
    return name


def dedup_embedding_cosine_df(spark):
    """Fast Spark path for dedup_embedding_cosine — identical output to the
    single-statement SQL (byte-identical tail expressions, materialized
    vector table)."""
    return spark.sql("WITH " + _emb_dedup_tail_spark(_emb_lsh_view(spark)))


def ann_lsh_topk_df(spark):
    """Fast Spark path for ann_lsh_topk (see dedup_embedding_cosine_df)."""
    return spark.sql("WITH " + _emb_ann_tail_spark(_emb_lsh_view(spark)))


# --- F1: ordered concat accumulation (char→line analogue) --------------------
# The reference accumulates chars into line text (text_extractor.cpp:150-161);
# relationally that is ordered collect + join — demonstrated by exploding the
# document into words and reassembling them exactly (roundtrip must hold for
# every row).
QUERIES["f1_reassemble"] = _pair(
    """WITH words AS (
  SELECT doc_id, pos, word
  FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
),
re AS (
  SELECT doc_id,
         array_join(transform(array_sort(collect_list(struct(pos, word))),
                              x -> x.word), ' ') AS reassembled
  FROM words GROUP BY doc_id
)
SELECT r.doc_id, CAST(r.reassembled = d.text AS INT) AS roundtrip_ok
FROM re r JOIN documents d ON r.doc_id = d.doc_id""",
    """WITH words AS (
  SELECT doc_id, u.w[2] AS pos, u.w[1] AS word
  FROM (SELECT doc_id,
               unnest(list_zip(split(text, ' '),
                               range(0, length(split(text, ' '))))) AS w
        FROM documents) u
),
re AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS reassembled
  FROM words GROUP BY doc_id
)
SELECT r.doc_id, CAST(r.reassembled = d.text AS INT) AS roundtrip_ok
FROM re r JOIN documents d ON r.doc_id = d.doc_id""",
)


# --- rolling-hash document fingerprint ---------------------------------------
# True polynomial rolling hash (h = h*31 + codepoint mod 2^31-1) as an ordered
# fold over characters — JVM-side aggregate() in Spark, list_reduce in DuckDB.
# Complements text_fingerprint's md5: incremental/rolling hashes are what a
# streaming dedup shard would maintain.
# Spark side folds 64-char CHUNKS (nested aggregate over chunk indices, the
# inner fold reads chars via substring) — identical value to the per-char
# fold, but peak allocation is a len/64 int array instead of one string
# object per character (multi-MB docs would otherwise allocate millions of
# tiny strings per row). The DuckDB oracle keeps the direct per-char
# list_reduce: same semantics, and the oracle only ever runs at test scale.
QUERIES["text_rolling_hash"] = _pair(
    """SELECT doc_id,
       CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
         aggregate(
           sequence(0, CAST(ceil(length(text) / 64.0) AS INT) - 1),
           CAST(0 AS BIGINT),
           (acc, ci) -> aggregate(
             sequence(1, least(64, length(text) - ci * 64)),
             acc,
             (a, i) -> (a * 31 +
                        CAST(ascii(substring(text, ci * 64 + i, 1)) AS BIGINT))
                       % 2147483647))
       END AS rolling_hash
FROM documents""",
    """SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                [CAST(ord(c) AS BIGINT) FOR c IN split(text, '')]),
                   (a, b) -> (a * 31 + b) % 2147483647) AS rolling_hash
FROM documents""",
)


# --- multi-table join / agg / sort (broadcast-join demo) ---------------------
# The reference has NO joins (SURVEY §2 note) — this is the beyond-reference
# relational smoke: dimension (customer) broadcast against facts
# (orders ⋈ lineitem), grouped revenue, deterministic top-k. Revenue scaled
# to integer cents (floor(x*100+0.5)) so no floats reach the compare.
_JOIN_TOPK = """WITH rev AS (
  SELECT o.o_custkey AS custkey,
         CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 100 + 0.5)
              AS BIGINT) AS revenue_cents,
         count(*) AS n_lineitems
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey
),
ranked AS (
  SELECT c.c_custkey, c.c_name, r.revenue_cents, r.n_lineitems,
         row_number() OVER (ORDER BY r.revenue_cents DESC, c.c_custkey ASC)
           AS rank
  FROM rev r JOIN customer c ON r.custkey = c.c_custkey
)
SELECT CAST(rank AS INT) AS rank, c_custkey, c_name, revenue_cents,
       n_lineitems
FROM ranked WHERE rank <= 25"""

QUERIES["join_revenue_topk"] = _pair(_JOIN_TOPK, _JOIN_TOPK)


# --- distributed BPE tokenizer-training statistics ---------------------------
# The corpus-side kernel of BPE training (Sennrich et al. 2016, "Neural
# Machine Translation of Rare Words with Subword Units"): count adjacent
# symbol pairs, merge the most frequent, repeat. The published scaling trick
# (Sennrich's own implementation; every production trainer since) is that
# pair counting runs over the WORD-FREQUENCY table, not the raw corpus —
# the corpus collapses to (distinct word, count) first (one hash aggregate,
# map-side combined; vocabulary grows ~O(sqrt) of corpus, so 100 TB of text
# is a few-GB word table), and every merge iteration is then an aggregate
# over that small relation. This row is the first iteration's statistics:
# character-bigram counts weighted by word frequency, top 20 with a
# deterministic (count DESC, pair ASC) tiebreak — each subsequent merge
# step re-runs exactly this aggregate over the re-segmented symbol table.
# Pairs come from substr(word, i, 2) over i ∈ [1, len-1]: no char-array
# explode of the corpus, and the position explode runs over DISTINCT words
# only. A single-char word-boundary marker '·' (standing in for the
# published '</w>') is appended before pairing, so end-of-word chars pair
# with the marker and merges can never cross word boundaries — one char so
# char-bigram substr pairs never land inside the marker itself.
_BPE_TAIL = """pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM wpos WHERE length(word) >= 2
),
counted AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM pairs GROUP BY pair
)
SELECT pair, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
         AS rank
FROM counted
ORDER BY pair_count DESC, pair ASC LIMIT 20"""

QUERIES["tokenizer_bpe_pairs"] = _pair(
    f"""WITH words AS (
  SELECT word FROM documents
  LATERAL VIEW explode(split(text, ' ')) t AS word
  WHERE word <> ''
),
wfreq AS (SELECT word || '·' AS word, count(*) AS freq
          FROM words GROUP BY word),
wpos AS (
  SELECT word, freq, i
  FROM wfreq LATERAL VIEW explode(sequence(1, length(word) - 1)) t AS i
  WHERE length(word) >= 2
),
{_BPE_TAIL}""",
    f"""WITH words AS (
  SELECT unnest(split(text, ' ')) AS word FROM documents
),
wfreq AS (SELECT word || '·' AS word, count(*) AS freq
          FROM words WHERE word <> '' GROUP BY word),
wpos AS (
  SELECT word, freq, CAST(u AS INT) AS i
  FROM wfreq, unnest(range(1, length(word))) AS t(u)
  WHERE length(word) >= 2
),
{_BPE_TAIL}""",
)


# Iterative BPE training, 3 merge steps, fully relational — the loop that
# re-runs the pair aggregate above after applying each learned merge. The
# corpus stays in EXPLODED symbol form (word, freq, i, sym) across
# iterations; applying a merge is pure window algebra, no UDF and no
# list-fold (DuckDB 1.0 list_reduce cannot carry a list accumulator, and
# Spark's aggregate() lambda would be engine-specific — the window form is
# the same SQL text on both engines):
#   cand  = positions where (sym, next sym) equals the learned pair;
#   greedy leftmost-first overlap resolution = within each run of
#     consecutive cands (only possible when b1 == b2, e.g. 'aaaa'), keep
#     even offsets — gaps-and-islands (i - row_number) finds the runs;
#   apply = merged symbol at kept positions, drop the consumed follower,
#     renumber by row_number.
# Each iteration is one pair aggregate over (distinct word × symbols) plus
# per-word windows — at 100 TB the symbol table is vocabulary-sized (the
# corpus collapsed to word counts once, upstream), so every step is a small
# cluster job; the sequential dependency between merges is inherent to BPE
# (Sennrich et al. 2016) and spans 3 tiny stages here, not 3 corpus scans.
# Determinism: counts are exact integer sums; ties break (cnt DESC, s1, s2).
def _bpe_train_sql(head: str, steps: int = 3, mat: str = "") -> str:
    # mat="MATERIALIZED " pins DuckDB's CTE strategy: each e{k}/s{k} is
    # referenced ~3 times and an INLINING planner re-derives the chain
    # ~3^steps times (at steps=8 that exhausts file handles re-opening
    # the parquet ~6561x). Spark has no MATERIALIZED syntax — its deep
    # form is the imperative trainer (functions/bpe.py), which is the
    # half of tokenizer_bpe_train8 under test.
    its = []
    for k in range(1, steps + 1):
        src = "chars" if k == 1 else f"s{k}"
        its.append(f"""e{k} AS {mat}(
  SELECT word, freq, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM {src}
),
p{k} AS (
  SELECT sym AS s1, nxt AS s2, CAST(sum(freq) AS BIGINT) AS cnt
  FROM e{k} WHERE nxt IS NOT NULL GROUP BY sym, nxt
),
b{k} AS {mat}(SELECT s1, s2, cnt FROM p{k}
         ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1),
c{k} AS (
  SELECT e.word, e.i
  FROM e{k} e CROSS JOIN b{k} b WHERE e.sym = b.s1 AND e.nxt = b.s2
),
r{k} AS {mat}(
  SELECT word, i
  FROM (SELECT word, i,
               row_number() OVER (PARTITION BY word, grp ORDER BY i) - 1
                 AS off
        FROM (SELECT word, i,
                     i - row_number() OVER (PARTITION BY word ORDER BY i)
                       AS grp
              FROM c{k}) z1) z2
  WHERE off % 2 = 0
),
s{k + 1} AS {mat}(
  SELECT e.word, e.freq,
         CAST(row_number() OVER (PARTITION BY e.word ORDER BY e.i) AS INT)
           AS i,
         CASE WHEN r.i IS NOT NULL THEN e.sym || e.nxt ELSE e.sym END AS sym
  FROM e{k} e
  LEFT JOIN r{k} r ON e.word = r.word AND e.i = r.i
  LEFT JOIN r{k} rp ON e.word = rp.word AND e.i = rp.i + 1
  WHERE rp.i IS NULL
)""")
    final = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS step, s1 || s2 AS merged, "
        f"cnt AS pair_count FROM b{k}" for k in range(1, steps + 1))
    return (head + ",\n" + ",\n".join(its)
            + f"\nSELECT * FROM (\n{final}\n) u ORDER BY step")


_BPE_HEAD_SPARK = """WITH words AS (
  SELECT word FROM documents
  LATERAL VIEW explode(split(text, ' ')) t AS word
  WHERE word <> ''
),
wfreq AS (SELECT word || '·' AS word, count(*) AS freq
          FROM words GROUP BY word),
chars AS (
  SELECT word, freq, i, substr(word, i, 1) AS sym
  FROM wfreq LATERAL VIEW explode(sequence(1, length(word))) t AS i
)"""

_BPE_HEAD_DUCK = """WITH words AS (
  SELECT unnest(split(text, ' ')) AS word FROM documents
),
wfreq AS (SELECT word || '·' AS word, count(*) AS freq
          FROM words WHERE word <> '' GROUP BY word),
chars AS (
  SELECT word, freq, CAST(u AS INT) AS i,
         substr(word, CAST(u AS INT), 1) AS sym
  FROM wfreq, unnest(range(1, length(word) + 1)) AS t(u)
)"""

QUERIES["tokenizer_bpe_train"] = _pair(
    _bpe_train_sql(_BPE_HEAD_SPARK),
    _bpe_train_sql(_BPE_HEAD_DUCK),
)


# --- Unicode NFC normalization (cleaning-stage hybrid) -----------------------
# Every public web-corpus pipeline normalizes text before dedup/tokenize
# (CCNet, Dolma's ftfy pass): byte-identical semantics demand one canonical
# form or the SAME passage hashes differently per source encoding. Spark
# has no SQL-surface Unicode normalizer (4.1 exposes collations only), so
# the Spark side is an Arrow-batched pandas Series.str.normalize('NFC') —
# zero-shuffle, one python stage — and the DuckDB twin re-derives with its
# built-in nfc_normalize (utf8proc). Parity rests on both engines
# implementing the same (stable since Unicode 3.x) canonical compositions
# for the injected sequences; the ASCII corpus body is NFC-invariant.
# The corpus is pure ASCII, so three decomposed/compatibility sequences are
# injected deterministically (composed-é from e+U+0301, Å from U+212B,
# ñ from n+U+0303); doc_id % 4 == 3 is the must-not-change control.
_NFC_INJECT = ("CASE CAST(doc_id % 4 AS INT) "
               "WHEN 0 THEN text || ' café' "
               "WHEN 1 THEN text || ' Ångstrom' "
               "WHEN 2 THEN text || ' mañana' "
               "ELSE text END")

# text_encode_pack_geometry (r8 verdict #6): the REAL-tokenizer pack's
# geometry, hash-checked without DuckDB re-implementing the tokenizer.
# docs_packed is genuinely re-derived (the space-trim proxy matches the
# Unicode prune on this corpus — the text_pack_manifest precedent); the
# five invariant rows oracle against literal 1s, so any pack that drops
# a token, duplicates a slice or mis-counts sequences flips a bit and
# hash-mismatches. The Spark
# side (__spark_entry__._text_encode_pack_geometry) documents each.
HYBRID_ORACLES["text_encode_pack_geometry"] = """
SELECT 'docs_packed' AS invariant, CAST(count(*) AS BIGINT) AS val
FROM documents WHERE length(trim(text)) > 0
UNION ALL SELECT 'total_tokens_conserved', CAST(1 AS BIGINT)
UNION ALL SELECT 'seq_count_formula', CAST(1 AS BIGINT)
UNION ALL SELECT 'all_full_but_last', CAST(1 AS BIGINT)
UNION ALL SELECT 'doc_slices_match', CAST(1 AS BIGINT)
UNION ALL SELECT 'ids_sum_conserved', CAST(1 AS BIGINT)"""


HYBRID_ORACLES["text_nfc_normalize"] = f"""WITH aug AS (
  SELECT doc_id, {_NFC_INJECT} AS raw FROM documents
),
n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM aug)
SELECT doc_id,
       CAST(CASE WHEN nfc <> raw THEN 1 ELSE 0 END AS INT) AS changed,
       CAST(length(raw) AS BIGINT) AS len_raw,
       CAST(length(nfc) AS BIGINT) AS len_nfc,
       {_HASH60_DUCK.format(x='nfc')} AS nfc_hash
FROM n"""


# --- license detection / permissive-subset tagging ---------------------------
# Public corpus efforts tag documents by license statement before training
# (the C4/CommonCrawl "license-filtered" subsets; code corpora keep only
# permissive repos). Detection is first-match-wins over ordered phrase
# patterns — the more specific license string must win over its substring
# (cc-by-sa before cc-by, the classic tagger bug exercised here). The ASCII
# corpus carries no license text, so four statements are injected
# deterministically; %6 in {4,5} is the must-stay-'none' control.
# Scale shape: single scan, whole-stage-codegen regex per row, zero
# shuffle; the per-license rollup any report needs is one tiny aggregate.
_LICENSE_INJECT = (
    "CASE CAST(doc_id % 6 AS INT) "
    "WHEN 0 THEN text || ' Licensed under CC BY 4.0' "
    "WHEN 1 THEN text || ' licensed under CC BY-SA 3.0' "
    "WHEN 2 THEN text || ' released under Creative Commons Zero' "
    "WHEN 3 THEN text || ' Copyright 2020 All Rights Reserved' "
    "ELSE text END")

_LICENSE_CASE = """CASE
  WHEN {m_cc0} THEN 'cc0'
  WHEN {m_sa} THEN 'cc-by-sa'
  WHEN {m_by} THEN 'cc-by'
  WHEN {m_arr} THEN 'all-rights-reserved'
  ELSE 'none' END"""

_LICENSE_PATS = {
    "m_cc0": "creative commons zero|cc0",
    "m_sa": "cc by-sa|cc-by-sa|attribution-sharealike",
    "m_by": "cc by|cc-by|creative commons attribution",
    "m_arr": "all rights reserved",
}


def _license_tail(case: str) -> str:
    return f""",
tagged AS (SELECT doc_id, {case} AS license FROM aug)
SELECT doc_id, license,
       CAST(CASE WHEN license IN ('cc0', 'cc-by') THEN 1 ELSE 0 END AS INT)
         AS is_permissive
FROM tagged"""


QUERIES["text_license_tag"] = _pair(
    f"WITH aug AS (SELECT doc_id, lower({_LICENSE_INJECT}) AS t "
    "FROM documents)"
    + _license_tail(_LICENSE_CASE.format(
        **{k: f"t RLIKE '{v}'" for k, v in _LICENSE_PATS.items()})),
    f"WITH aug AS (SELECT doc_id, lower({_LICENSE_INJECT}) AS t "
    "FROM documents)"
    + _license_tail(_LICENSE_CASE.format(
        **{k: f"regexp_matches(t, '{v}')"
           for k, v in _LICENSE_PATS.items()})),
)


# The ACTION half of the substring tier: trim every duplicated span from
# every document EXCEPT its canonical owner — Lee et al. 2022 remove all
# but one occurrence of each duplicated substring; the deterministic owner
# here is the smallest doc_id containing the fingerprint. Words covered by
# a trimmable island are dropped and the kept text is re-assembled in
# order; kept_hash proves byte-exact agreement across engines. The
# canonical doc keeps its occurrence untouched (doc 0 keeps passage A for
# the whole %3 cohort). Scale shape: same fingerprint equi-joins as the
# detection query; the trim itself is a per-doc anti-join of exploded
# words against that doc's (few) spans — equi on doc_id, range predicate
# on pos — then one ordered re-assembly per doc.
_TRIM_TAIL = """freq AS (
  SELECT fp, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
  FROM anchors GROUP BY fp
),
trimw AS (
  SELECT a.doc_id, a.pos
  FROM anchors a JOIN freq f ON a.fp = f.fp
  WHERE f.nd >= 2 AND a.doc_id <> f.keeper
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 10
              THEN 1 ELSE 0 END AS new_isl
  FROM trimw
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + 10 AS e
  FROM isl2 GROUP BY doc_id, isl_id
),
wpos AS (
  SELECT w.doc_id, w.pos, w.word
  FROM allwords w
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = w.doc_id
                      AND w.pos >= sp.s AND w.pos < sp.e)
)"""

QUERIES["dedup_substring_trim"] = _pair(
    _WINNOW_HEAD
    + f"""anchors AS (
  SELECT doc_id, pos,
         {_HASH60_SPARK.format(x="concat_ws(' ', slice(ws, pos + 1, 10))")}
           AS fp
  FROM warr LATERAL VIEW posexplode(ws) t AS pos, word
  WHERE pos + 10 <= size(ws)
    AND {_HASH60_SPARK.format(x='word')} % 8 = 0
),
allwords AS (
  SELECT doc_id, pos, word
  FROM warr LATERAL VIEW posexplode(ws) t AS pos, word
),
"""
    + _TRIM_TAIL
    + f"""
SELECT d.doc_id,
       CAST(count(w.pos) AS BIGINT) AS kept_words,
       CAST(size(split(d.text, ' '))
            + CASE WHEN d.doc_id % 3 = 0 THEN {len(_WINNOW_PASSAGE_A.split(' '))} ELSE 0 END
            + CASE WHEN d.doc_id % 5 = 0 THEN {len(_WINNOW_PASSAGE_B.split(' '))} ELSE 0 END
            - count(w.pos) AS BIGINT) AS trimmed_words,
       {_HASH60_SPARK.format(
           x="array_join(transform(array_sort("
             "collect_list(struct(w.pos, w.word))), x -> x.word), ' ')")}
         AS kept_hash
FROM documents d LEFT JOIN wpos w ON d.doc_id = w.doc_id
GROUP BY d.doc_id, d.text""",
    _WINNOW_HEAD
    + f"""pw AS (
  SELECT doc_id, ws,
         unnest(list_zip(ws, range(0, length(ws)))) AS u
  FROM warr
),
allwords AS (
  SELECT doc_id, CAST(u[2] AS INT) AS pos, CAST(u[1] AS VARCHAR) AS word
  FROM pw
),
anchors AS (
  SELECT doc_id, CAST(u[2] AS INT) AS pos,
         {_HASH60_DUCK.format(
             x="array_to_string(ws[CAST(u[2] AS INT) + 1 : "
               "CAST(u[2] AS INT) + 10], ' ')")} AS fp
  FROM pw
  WHERE CAST(u[2] AS INT) + 10 <= length(ws)
    AND {_HASH60_DUCK.format(x='CAST(u[1] AS VARCHAR)')} % 8 = 0
),
"""
    + _TRIM_TAIL
    + f"""
SELECT d.doc_id,
       CAST(count(w.pos) AS BIGINT) AS kept_words,
       CAST(length(split(d.text, ' '))
            + CASE WHEN d.doc_id % 3 = 0 THEN {len(_WINNOW_PASSAGE_A.split(' '))} ELSE 0 END
            + CASE WHEN d.doc_id % 5 = 0 THEN {len(_WINNOW_PASSAGE_B.split(' '))} ELSE 0 END
            - count(w.pos) AS BIGINT) AS trimmed_words,
       {_HASH60_DUCK.format(
           x="coalesce(string_agg(w.word, ' ' ORDER BY w.pos), '')")}
         AS kept_hash
FROM documents d LEFT JOIN wpos w ON d.doc_id = w.doc_id
GROUP BY d.doc_id, d.text""",
)


def bpe_train_sql(steps: int = 3, dialect: str = "spark",
                  table: str = "documents") -> str:
    """Public surface for the relational BPE trainer: the unrolled
    ``steps``-merge SQL against any (doc_id, text) view. The driver row
    ``tokenizer_bpe_train`` is ``bpe_train_sql(3)`` on the corpus; a user
    trains a deeper vocab with ``spark.sql(bpe_train_sql(100))`` — each
    extra step appends one vocabulary-sized CTE chain, so plan size grows
    linearly and no step rescans the raw corpus."""
    head = {"spark": _BPE_HEAD_SPARK, "duck": _BPE_HEAD_DUCK}[dialect]
    if table != "documents":
        head = head.replace("FROM documents", f"FROM {table}")
    return _bpe_train_sql(head, steps)


# tokenizer_bpe_train8 (r8 verdict #3): the production trainer
# (functions/bpe.train_bpe, 8 merges — __spark_entry__ formats its
# merge list as (step, merged, pair_count)) against the unrolled
# 8-step relational chain with MATERIALIZED CTEs (DuckDB's planner
# inlines multi-referenced CTEs → ~3^8 re-derivations without the
# hint; Spark's deep form is train_bpe itself, the half under test).
HYBRID_ORACLES["tokenizer_bpe_train8"] = _bpe_train_sql(
    _BPE_HEAD_DUCK, 8, mat="MATERIALIZED ")


# --- per-document attribute stitch (Dolma-style attributes relation) ---------
# Public pipelines (Dolma's "attributes" files; Dataverse-style audits)
# materialize ONE per-document attribute relation that every downstream
# decision (filter thresholds, mixture weights, audits) reads, instead of
# re-deriving gates ad hoc. This row stitches six existing oracle-backed
# operators into that relation by composing their FULL query texts as
# subqueries — zero logic duplication, so a threshold change in any
# component flows into the stitch by construction, and the value check
# covers the join composition itself. All joins are 1:1 on doc_id
# (each component emits exactly one row per document).
# Scale shape: each component is a scan-bounded aggregate; the stitch is
# five equi-joins on the doc_id key — co-partitioned by AQE, no raw-text
# columns cross a shuffle (the widest payloads are the 60-bit hashes).
def _attr_stitch_sql(dialect: str) -> str:
    sub = {k: QUERIES[k][dialect] for k in (
        "text_quality_score", "text_lang_id", "text_license_tag",
        "a2_token_estimate", "a6_content_hash", "dedup_substring_winnow")}
    return f"""SELECT q.doc_id, q.n_words, q.distinct_ratio_x1e4,
       q.quality_gate, l.pred_lang, lic.license, lic.is_permissive,
       t.est_tokens, h.binary_hash,
       w.dup_words AS substr_dup_words
FROM ({sub['text_quality_score']}) q
JOIN ({sub['text_lang_id']}) l ON q.doc_id = l.doc_id
JOIN ({sub['text_license_tag']}) lic ON q.doc_id = lic.doc_id
JOIN ({sub['a2_token_estimate']}) t ON q.doc_id = t.doc_id
JOIN ({sub['a6_content_hash']}) h ON q.doc_id = h.doc_id
JOIN ({sub['dedup_substring_winnow']}) w ON q.doc_id = w.doc_id"""


QUERIES["corpus_attributes"] = _pair(
    _attr_stitch_sql("spark"), _attr_stitch_sql("duck"))


# --- T5-style span corruption (denoising-objective preprocessing) ------------
# The masked-span pretraining transform (Raffel et al. 2020, "Exploring the
# Limits of Transfer Learning", §3.1.4): replace ~15% of tokens, grouped in
# short spans, with numbered sentinels; the target is each sentinel followed
# by the words it hides. The published objective draws spans at random; a
# DATA-PIPELINE materialization must be reproducible, so span starts are
# content-keyed pseudo-randomness — hash60(doc_id:pos) % 20 == 0 (~5% of
# positions open a 3-word span, ~15% of words masked — the published rate; overlapping/adjacent spans merge, exactly
# T5's consecutive-sentinel collapse). Per doc the row emits span count,
# masked-word count and 60-bit hashes of the exact input/target strings, so
# the value check pins the byte-level sentinel assembly on both engines.
# Scale shape: zero joins beyond the per-doc island algebra — one explode,
# per-doc windows, two ordered string aggregations; embarrassingly parallel
# by doc, no shuffle wider than doc_id.
_CORRUPT_TAIL = """starts AS (
  SELECT doc_id, pos FROM wordpos WHERE sel = 0
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 3
              THEN 1 ELSE 0 END AS new_isl
  FROM starts
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + 3 AS e
  FROM isl2 GROUP BY doc_id, isl_id
),
sent AS (
  SELECT doc_id, isl_id, s, e,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
              AS INT) AS k
  FROM spans
),
masked AS (
  SELECT w.doc_id, w.pos, w.word, sp.k AS in_span
  FROM wordpos w
  LEFT JOIN sent sp ON w.doc_id = sp.doc_id
                    AND w.pos >= sp.s AND w.pos < sp.e
),
input_toks AS (
  SELECT doc_id, pos, word AS tok FROM masked WHERE in_span IS NULL
  UNION ALL
  SELECT doc_id, s AS pos, '<extra_id_' || CAST(k AS STRING) || '>' AS tok
  FROM sent
),
target_parts AS (
  SELECT m.doc_id, sp.k,
         '<extra_id_' || CAST(sp.k AS STRING) || '> ' || {span_words}
           AS part
  FROM sent sp JOIN masked m
    ON m.doc_id = sp.doc_id AND m.in_span = sp.k
  GROUP BY m.doc_id, sp.k
),
agg AS (
  -- counted from the masked rows, not sum(e-s): a span opening within
  -- the last two words of a document masks fewer than 3 real words
  SELECT doc_id,
         count(DISTINCT in_span) AS n_spans,
         count(*) AS n_masked_words
  FROM masked WHERE in_span IS NOT NULL GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(a.n_masked_words, 0) AS BIGINT) AS n_masked_words,
       coalesce(i.input_hash, 0) AS input_hash,
       coalesce(t.target_hash, 0) AS target_hash
FROM documents d
LEFT JOIN agg a ON d.doc_id = a.doc_id
LEFT JOIN (SELECT doc_id, {input_hash} AS input_hash
           FROM input_toks GROUP BY doc_id) i ON d.doc_id = i.doc_id
LEFT JOIN (SELECT doc_id, {target_hash} AS target_hash
           FROM target_parts GROUP BY doc_id) t ON d.doc_id = t.doc_id"""

_CORRUPT_KEY_SPARK = _HASH60_SPARK.format(
    x="CAST(doc_id AS STRING) || ':' || CAST(pos AS STRING)")
_CORRUPT_KEY_DUCK = _HASH60_DUCK.format(
    x="CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")

QUERIES["text_span_corrupt"] = _pair(
    f"""WITH warr AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
wordpos AS (
  SELECT doc_id, pos, word, {_CORRUPT_KEY_SPARK} % 20 AS sel
  FROM warr LATERAL VIEW posexplode(ws) t AS pos, word
),
"""
    + _CORRUPT_TAIL.format(
        span_words=("array_join(transform(array_sort("
                    "collect_list(struct(m.pos, m.word))), "
                    "x -> x.word), ' ')"),
        input_hash=_HASH60_SPARK.format(
            x="array_join(transform(array_sort("
              "collect_list(struct(pos, tok))), x -> x.tok), ' ')"),
        target_hash=_HASH60_SPARK.format(
            x="array_join(transform(array_sort("
              "collect_list(struct(k, part))), x -> x.part), ' ')"),
    ),
    f"""WITH warr AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
wordpos AS (
  SELECT doc_id, CAST(u[2] AS INT) AS pos, CAST(u[1] AS VARCHAR) AS word,
         {_CORRUPT_KEY_DUCK.replace('pos', 'CAST(u[2] AS INT)')} % 20 AS sel
  FROM (SELECT doc_id, unnest(list_zip(ws, range(0, length(ws)))) AS u
        FROM warr) z
),
"""
    + _CORRUPT_TAIL.replace("AS STRING", "AS VARCHAR").format(
        span_words="string_agg(m.word, ' ' ORDER BY m.pos)",
        input_hash=_HASH60_DUCK.format(
            x="string_agg(tok, ' ' ORDER BY pos)"),
        target_hash=_HASH60_DUCK.format(
            x="string_agg(part, ' ' ORDER BY k)"),
    ),
)


# --- FIM (fill-in-the-middle) transform --------------------------------------
# The infilling-objective preprocessing for code/text models (Bavarian et
# al. 2022, "Efficient Training of Language Models to Fill in the
# Middle"): split each document into (prefix, middle, suffix), emit the
# PSM reordering <PRE> prefix <SUF> suffix <MID> middle. The paper splits
# uniformly at random; the pipeline materialization is content-keyed —
# two cut points derived from hash60(doc_id:1|2) modulo the character
# length, ordered — so every regeneration is identical. The published
# fim_rate (50%) gates which documents transform at all (hash60(doc_id)
# parity); untransformed docs pass through with the plain text hash.
# Byte-exact PSM assembly is pinned by the emitted 60-bit hash.
# Scale: pure per-row string algebra, single scan, zero shuffle.
def _fim_sql(h_doc: str, h1: str, h2: str, h_out: str) -> str:
    return f"""WITH cuts AS (
  SELECT doc_id, text, length(text) AS n,
         {h_doc} % 2 AS do_fim,
         CAST({h1} % greatest(length(text), 1) AS INT) AS r1,
         CAST({h2} % greatest(length(text), 1) AS INT) AS r2
  FROM documents
),
split_pts AS (
  SELECT doc_id, text, n, do_fim,
         least(r1, r2) AS c1, greatest(r1, r2) AS c2
  FROM cuts
),
assembled AS (
  SELECT doc_id, do_fim,
         CASE WHEN do_fim = 1
              THEN '<PRE> ' || substr(text, 1, c1)
                   || ' <SUF> ' || substr(text, c2 + 1)
                   || ' <MID> ' || substr(text, c1 + 1, c2 - c1)
              ELSE text END AS out_text,
         CASE WHEN do_fim = 1 THEN c1 ELSE 0 END AS prefix_chars,
         CASE WHEN do_fim = 1 THEN c2 - c1 ELSE 0 END AS middle_chars
  FROM split_pts
)
SELECT doc_id,
       CAST(do_fim AS INT) AS do_fim,
       CAST(prefix_chars AS BIGINT) AS prefix_chars,
       CAST(middle_chars AS BIGINT) AS middle_chars,
       {h_out} AS psm_hash
FROM assembled"""


QUERIES["text_fim_transform"] = _pair(
    _fim_sql(
        h_doc=_HASH60_SPARK.format(x="CAST(doc_id AS STRING)"),
        h1=_HASH60_SPARK.format(x="CAST(doc_id AS STRING) || ':1'"),
        h2=_HASH60_SPARK.format(x="CAST(doc_id AS STRING) || ':2'"),
        h_out=_HASH60_SPARK.format(x="out_text")),
    _fim_sql(
        h_doc=_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR)"),
        h1=_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ':1'"),
        h2=_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ':2'"),
        h_out=_HASH60_DUCK.format(x="out_text")),
)


# --- length-bucketed batch assembly (padding-efficiency batching) ------------
# The dataloader-side transform every padded-batch trainer needs: group
# similarly-sized documents so a batch's padding waste (batch_size ×
# max_len − Σ len) stays small — the published bucketing-by-sequence-
# length trick (in every major seq2seq toolkit since Sutskever-era
# batching). Length class = integer bit-length of the token estimate
# (binary-string length, EXACT on both engines — no float log2 whose
# 1-ulp wobble could flip a power-of-two boundary); batches are assembled
# WITHIN (shard, class) by a deterministic (toks, doc_id) order, 16 docs
# per batch. Sharding first is the distributed shape: a per-class-only
# window would sort the dominant class in ONE partition (the mixture-
# window lesson), while (shard, class) partitions are bounded and each
# loader owns its shard — zero cross-worker coordination, same trick as
# text_shard_shuffle. Output: one row per assembled batch with its
# padding efficiency in exact 1e4 fixed point.
_BATCH_SIZE = 16
_BATCH_SHARDS = 8

_LEN_BATCH_BODY = """doc_toks AS (
  SELECT doc_id,
         CAST(floor((length(text) + 3) / 4) AS BIGINT) AS toks,
         CAST({shard} AS INT) AS shard
  FROM documents
),
classed AS (
  SELECT doc_id, toks, shard,
         CAST(length({bin_toks}) AS INT) AS len_class
  FROM doc_toks WHERE toks > 0
),
ordered AS (
  SELECT doc_id, toks, shard, len_class,
         CAST(floor((row_number() OVER (PARTITION BY shard, len_class
                                        ORDER BY toks, doc_id) - 1)
                    / {bs}) AS INT) AS batch_id
  FROM classed
)
SELECT shard, len_class, batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(toks) AS BIGINT) AS max_toks,
       CAST(sum(toks) AS BIGINT) AS sum_toks,
       CAST(floor(sum(toks) * CAST(10000.0 AS DOUBLE)
                  / (count(*) * max(toks)) + 0.5) AS BIGINT)
         AS pad_eff_x1e4
FROM ordered
GROUP BY shard, len_class, batch_id"""

QUERIES["text_length_batching"] = _pair(
    "WITH " + _LEN_BATCH_BODY.format(
        shard="CAST({h} % {n} AS INT)".format(
            h=_HASH60_SPARK.format(x="CAST(doc_id AS STRING)"),
            n=_BATCH_SHARDS),
        bin_toks="conv(toks, 10, 2)",
        bs=_BATCH_SIZE),
    "WITH " + _LEN_BATCH_BODY.format(
        shard="CAST({h} % {n} AS INT)".format(
            h=_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR)"),
            n=_BATCH_SHARDS),
        bin_toks="bin(toks)",
        bs=_BATCH_SIZE),
)


# --- train_assembly_e2e: the trainer-facing capstone (r8 verdict #2) --------
# The crawl capstone composes INGEST; this composes the other half — what
# turns a cleaned corpus into the artifact a training job opens: mixture
# sample (kept set) → deterministic epoch-0 shuffle into loader shards →
# synthetic-encoding pack of the SHUFFLED stream through the real
# distributed pack + shard-partitioned writer (geometry READ BACK from
# the written files) → length-bucketed batch assembly over the kept set
# → data-card aggregate. Every stage below re-derives the Spark side's
# counts from `documents` in ONE DuckDB statement: a mixture/shuffle
# drift, a pack off-by-one or a batching mismatch between the eight
# individually-green operators shifts a count and hash-mismatches.
# Pack order is SHARD-MAJOR (shard, pos): each loader reads its shard
# contiguously; the oracle re-derives the same global order with a
# plain window (fine at oracle scale — the Spark side uses the shard
# offsets trick, no global sort).
TRAIN_ASM_SHARDS = 4
TRAIN_ASM_SEQ_LEN = 128


def _train_assembly_oracle_duck() -> str:
    h = _HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ':0'")
    mix = QUERIES["text_mixture_sample"]["duck"]
    lb = QUERIES["text_length_batching"]["duck"].replace(
        "FROM documents", "FROM ta_docs")
    L = TRAIN_ASM_SEQ_LEN
    return f"""WITH kept AS (
  SELECT m.doc_id, m.source, m.doc_toks AS toks
  FROM ({mix}) m WHERE m.kept = 1
),
ta_docs AS (
  SELECT k.doc_id, d.text
  FROM kept k JOIN documents d ON k.doc_id = d.doc_id
),
shuf AS (
  SELECT doc_id, toks, CAST(k % {TRAIN_ASM_SHARDS} AS INT) AS shard,
         row_number() OVER (PARTITION BY k % {TRAIN_ASM_SHARDS}
                            ORDER BY k, doc_id) AS pos
  FROM (SELECT doc_id, toks, {h} AS k FROM kept) z
),
gord AS (
  SELECT toks, row_number() OVER (ORDER BY shard, pos) AS gpos FROM shuf
),
cum AS (
  SELECT toks, sum(toks) OVER (ORDER BY gpos) AS cend FROM gord
),
lb AS (SELECT * FROM ({lb}) q)
SELECT 'mixture_kept' AS stage, CAST(count(*) AS BIGINT) AS n FROM kept
UNION ALL SELECT 'mixture_tokens', CAST(sum(toks) AS BIGINT) FROM kept
UNION ALL SELECT 'shuffle_docs', CAST(count(*) AS BIGINT) FROM shuf
UNION ALL SELECT 'shuffle_shards', CAST(count(DISTINCT shard) AS BIGINT)
FROM shuf
UNION ALL SELECT 'shuffle_order_hash',
       CAST(sum((doc_id % 9973) * (shard * 100000 + pos)) AS BIGINT)
FROM shuf
UNION ALL SELECT 'packed_seqs',
       CAST((sum(toks) + {L - 1}) // {L} AS BIGINT) FROM kept
UNION ALL SELECT 'packed_tokens', CAST(sum(toks) AS BIGINT) FROM kept
UNION ALL SELECT 'pack_doc_slices',
       CAST(sum((cend - 1) // {L} - (cend - toks) // {L} + 1) AS BIGINT)
FROM cum
UNION ALL SELECT 'pack_ids_sum',
       CAST(sum(toks * (toks + 1) // 2) AS BIGINT) FROM kept
UNION ALL SELECT 'length_batches', CAST(count(*) AS BIGINT) FROM lb
UNION ALL SELECT 'length_batch_docs', CAST(sum(n_docs) AS BIGINT) FROM lb
UNION ALL SELECT 'datacard_sources',
       CAST(count(DISTINCT source) AS BIGINT) FROM kept"""


HYBRID_ORACLES["train_assembly_e2e"] = _train_assembly_oracle_duck()



# --- Bloom-filter membership probe (seen-before structure) -------------------
# The crawler/incremental-ingest companion to exact dedup: a Bloom filter
# (Bloom 1970; ships in Spark itself as util.sketch.BloomFilter /
# DataFrame.stat.bloomFilter) answers "definitely new vs maybe seen"
# without shipping raw keys. This row is the filter's RELATIONAL twin so
# the exact bit arithmetic is value-checked cross-engine: k=4 positions
# per key over m=2^20 bits, derived from the portable 60-bit hash of the
# 60-bit content hash (seed-suffixed); the corpus's set-bit relation is
# DISTINCT positions (≤ 4·|corpus| rows, the degenerate-but-checkable
# form of the broadcast bitmap a production probe compiles to); a batch
# key is maybe-present iff ALL k of its positions are set (match count
# == k). truly_present rides along so the row also MEASURES the false-
# positive behavior instead of assuming it. Scale: probe = one INT
# equi-join against a broadcastable set-bit relation; no raw keys cross
# the wire; the real deployment swaps the join for a bitmap broadcast
# with identical semantics.
_BLOOM_K = 4
_BLOOM_M = 1048576


def _bloom_sql(h60_text: str, h60_of: str, gen_seeds: str) -> str:
    return f"""WITH keys AS (
  SELECT doc_id, {h60_text} AS kh,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
           AS truly_present
  FROM documents
),
corpus_pos AS (
  SELECT DISTINCT
         {h60_of} % {_BLOOM_M} AS pos
  FROM keys{gen_seeds}
  WHERE doc_id % 2 = 0
),
probe AS (
  SELECT doc_id, truly_present,
         {h60_of} % {_BLOOM_M} AS pos
  FROM keys{gen_seeds}
),
hits AS (
  SELECT p.doc_id, p.truly_present,
         count(c.pos) AS set_bits
  FROM probe p LEFT JOIN corpus_pos c ON p.pos = c.pos
  GROUP BY p.doc_id, p.truly_present
)
SELECT doc_id,
       CAST(CASE WHEN set_bits = {_BLOOM_K} THEN 1 ELSE 0 END AS INT)
         AS bloom_maybe,
       CAST(truly_present AS INT) AS truly_present
FROM hits"""


QUERIES["dedup_bloom_probe"] = _pair(
    _bloom_sql(
        h60_text=_HASH60_SPARK.format(x="text"),
        h60_of=_HASH60_SPARK.format(
            x="CAST(kh AS STRING) || ':' || CAST(seed AS STRING)"),
        gen_seeds=" LATERAL VIEW explode(sequence(0, 3)) t AS seed"),
    _bloom_sql(
        h60_text=_HASH60_DUCK.format(x="text"),
        h60_of=_HASH60_DUCK.format(
            x="CAST(kh AS VARCHAR) || ':' || CAST(seed AS VARCHAR)"),
        gen_seeds=", unnest(range(0, 4)) AS t(seed)"),
)


# --- soft dedup: duplicate-aware sampling weights ----------------------------
# Deleting duplicates is lossy when repetition carries signal (boilerplate
# aside, popular passages are often HIGH quality); the published
# alternative is to keep every copy and DOWN-WEIGHT it at sampling time —
# SoftDeDup (He et al. 2024) reweights by data commonness, and the
# data-constrained scaling laws (Muennighoff et al. 2023) quantify why
# the n-th copy is worth less than the first. This operator emits the
# frequency-inverse sampling weight at two tiers: exact (content hash)
# and near (sorted-distinct-wordset hash, the dedup_wordset fingerprint
# — n_near >= n_exact by construction since exact copies share their
# wordset). weight_fp = floor(1e6 / group_size) in exact fixed point
# (one correctly-rounded IEEE divide of exactly-representable integers —
# the cross-engine discipline every fixed-point column here follows).
# The corpus carries no exact duplicates, so the aug CTE plants them
# deterministically: every doc with doc_id % 11 == 3 adopts the text of
# parent doc (doc_id % 5) — ~9% of the corpus collapses into 5 exact
# groups that also absorb their parents, while the wordset tier keeps
# firing on the corpus's natural near-dups. Scale shape: one broadcast
# join against a 5-row parent relation (test scaffolding only — a real
# corpus skips the aug), then two hash-partitioned windows over 16-byte
# (doc_id, hash) rows — each tier is exactly the one shuffle its groupBy
# needs; no joins between tiers, no raw text past the hash stage.
_SOFT_AUG = """aug AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 11 = 3 THEN p.text ELSE d.text END AS text
  FROM documents d
  LEFT JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 5) p
    ON p.doc_id = d.doc_id % 5
)"""


def _soft_weight_sql(h_exact: str, h_near: str) -> str:
    return f"""WITH {_SOFT_AUG},
tiers AS (
  SELECT doc_id, {h_exact} AS h_exact, {h_near} AS h_near FROM aug
),
grp AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY h_exact) AS n_exact,
         count(*) OVER (PARTITION BY h_near)  AS n_near,
         min(doc_id) OVER (PARTITION BY h_exact) AS exact_rep
  FROM tiers
)
SELECT doc_id,
       CAST(n_exact AS INT) AS n_exact,
       CAST(n_near AS INT) AS n_near,
       CAST(floor(CAST(1000000 AS DOUBLE) / n_exact) AS BIGINT)
         AS w_exact_fp,
       CAST(floor(CAST(1000000 AS DOUBLE) / n_near) AS BIGINT)
         AS w_near_fp,
       CAST(CASE WHEN doc_id = exact_rep THEN 1 ELSE 0 END AS INT)
         AS is_canonical
FROM grp"""


QUERIES["dedup_soft_weight"] = _pair(
    _soft_weight_sql(
        h_exact=_HASH60_SPARK.format(x="text"),
        h_near=_HASH60_SPARK.format(
            x="array_join(array_sort(array_distinct(split(text, ' '))), ' ')"
        )),
    _soft_weight_sql(
        h_exact=_HASH60_DUCK.format(x="text"),
        h_near=_HASH60_DUCK.format(
            x="array_to_string(list_sort(list_distinct(split(text, ' '))),"
              " ' ')")),
)


# --- doc-preserving bin packing (next-fit-decreasing) ------------------------
# text_encode_pack / text_pack_manifest pack by CONCAT-THEN-SPLIT: maximal
# density, but a document may straddle a sequence boundary. Instruction
# tuning and any objective with per-document loss masking wants the other
# published packing: whole documents into fixed-capacity bins, none split
# (the "example packing" of T5/FlanT5 pipelines; bin packing is NP-hard,
# next-fit-decreasing is the classic 2-approximation that needs ONE
# sequential pass over a sorted run). A sequential fold is not
# window-expressible (each bin break depends on every break before it),
# so the Spark side is the documented custom-operator escape hatch:
# applyInPandas per SHARD — one hash shuffle on the 8-way portable-md5
# shard key, then an in-pandas fold over each shard's (toks DESC, doc_id)
# order. Sequential work is per-shard and the shard count scales with the
# corpus, so per-task work stays constant at 100 TB — and the shard
# partitioning is what the downstream loader wants on disk anyway.
# Oversize docs (toks > capacity) sort first and each lands alone in its
# own bin, flagged, with NO special-casing in the fold (fill + toks <=
# cap is false for every successor — both engines run the identical
# rule). The DuckDB twin replays the SAME fold as a recursive CTE (one
# row per shard per step), so the cross-engine gate value-checks every
# bin boundary, not just aggregate counts. toks = the ~4-chars/token
# estimate shared with text_length_batching; capacity = SEQ_LEN
# (operators/packing.py), the same 128-token training-sequence budget
# the concat-then-split pack fills — the two packings are directly
# comparable, and the corpus's longest docs genuinely overflow a bin
# (the oversize path runs in the driver gate, not only in pytest).
BESTFIT_CAP = 128
BESTFIT_SHARDS = 8

_BESTFIT_DUCK = f"""WITH RECURSIVE doc_toks AS (
  SELECT doc_id,
         CAST(floor((length(text) + 3) / 4) AS BIGINT) AS toks,
         CAST({_HASH60_DUCK.format(
             x="'bf:' || CAST(doc_id AS VARCHAR)")} % {BESTFIT_SHARDS}
              AS INT) AS shard
  FROM documents
),
pos AS (
  SELECT doc_id, toks, shard,
         CAST(row_number() OVER (PARTITION BY shard
                                 ORDER BY toks DESC, doc_id ASC)
              AS BIGINT) AS rn
  FROM doc_toks WHERE toks > 0
),
fold AS (
  SELECT shard, doc_id, toks, rn,
         CAST(0 AS BIGINT) AS bin_id, CAST(toks AS BIGINT) AS fill
  FROM pos WHERE rn = 1
  UNION ALL
  SELECT p.shard, p.doc_id, p.toks, p.rn,
         CASE WHEN f.fill + p.toks <= {BESTFIT_CAP}
              THEN f.bin_id ELSE f.bin_id + 1 END,
         CASE WHEN f.fill + p.toks <= {BESTFIT_CAP}
              THEN f.fill + p.toks ELSE p.toks END
  FROM fold f JOIN pos p ON p.shard = f.shard AND p.rn = f.rn + 1
)
SELECT shard, doc_id,
       CAST(toks AS BIGINT) AS toks,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(sum(toks) OVER (PARTITION BY shard, bin_id) AS BIGINT)
         AS bin_toks,
       CAST(count(*) OVER (PARTITION BY shard, bin_id) AS INT) AS bin_docs,
       CAST(CASE WHEN toks > {BESTFIT_CAP} THEN 1 ELSE 0 END AS INT)
         AS oversize
FROM fold"""

HYBRID_ORACLES["text_pack_bestfit"] = _BESTFIT_DUCK


# --- Gopher quality-rule gate -------------------------------------------------
# The published Gopher repetition-free quality rules (Rae et al. 2021,
# Appendix A1.1), the document-shape subset expressible over this corpus:
#   r1  50 <= word count <= 100,000
#   r2  mean word length in [3, 10] chars
#   r3  <= 30% of lines end with an ellipsis
#   r4  <= 90% of lines start with a bullet
#   r5  >= 80% of words contain an alphabetic character
#   r6  >= 2 distinct stopwords present (the 8-word Gopher list)
# Every threshold is evaluated in EXACT integer arithmetic (10*e <= 3*n
# instead of e/n <= 0.3) — no float in any flag. The flat corpus carries
# no numerals/ellipses/bullets, so the operator decorates
# deterministically (the _DUCK_LINES page-model idiom): every
# (pos + doc_id) % (4 + doc_id % 4) == 0 word becomes a numeral (per-doc
# numeric fraction 1/4..1/7 straddles the 20% r5 bar), words group into
# 8-word lines, line_no % 5 == 0 lines get a bullet and % 5 == 1 lines an
# ellipsis suffix (short docs straddle the 30% r3 bar; r4 is the
# published bar and fires only on degenerate near-empty docs). Scale
# shape: one scan, a posexplode, two hash aggregates on doc_id and a 1:1
# doc_id join — linear, no corpus-wide window, nothing but doc_id-keyed
# shuffles.
_GOPHER_STOPS = "('the','a','to','of','and','that','have','with')"


def _gopher_sql(words_cte: str, str_t: str, div8: str, agg_body: str,
                alpha: str) -> str:
    return f"""WITH {words_cte},
gwords AS (
  SELECT doc_id, pos,
         CASE WHEN (pos + doc_id) % (4 + doc_id % 4) = 0
              THEN CAST(doc_id * 31 + pos AS {str_t}) ELSE word END AS word
  FROM words
),
glines AS (
  SELECT doc_id, {div8} AS line_no, {agg_body} AS body
  FROM gwords GROUP BY doc_id, {div8}
),
decorated AS (
  SELECT doc_id, line_no,
         CASE CAST(line_no % 5 AS INT)
           WHEN 0 THEN '- ' || body
           WHEN 1 THEN body || '...'
           ELSE body END AS line
  FROM glines
),
wstats AS (
  SELECT doc_id, count(*) AS n_words,
         sum(CASE WHEN {alpha} THEN 1 ELSE 0 END) AS alpha_words,
         sum(length(word)) AS word_chars,
         count(DISTINCT CASE WHEN word IN {_GOPHER_STOPS}
                             THEN word END) AS stop_hits
  FROM gwords GROUP BY doc_id
),
lstats AS (
  SELECT doc_id, count(*) AS n_lines,
         sum(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END)
           AS ellipsis_lines,
         sum(CASE WHEN line LIKE '- %' THEN 1 ELSE 0 END) AS bullet_lines
  FROM decorated GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(n_lines AS INT) AS n_lines,
       CAST(alpha_words AS INT) AS alpha_words,
       CAST(word_chars AS BIGINT) AS word_chars,
       CAST(stop_hits AS INT) AS stop_hits,
       CAST(ellipsis_lines AS INT) AS ellipsis_lines,
       CAST(bullet_lines AS INT) AS bullet_lines,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                 THEN 1 ELSE 0 END AS INT) AS r1_wordcount,
       CAST(CASE WHEN 3 * n_words <= word_chars
                  AND word_chars <= 10 * n_words
                 THEN 1 ELSE 0 END AS INT) AS r2_meanwordlen,
       CAST(CASE WHEN 10 * ellipsis_lines <= 3 * n_lines
                 THEN 1 ELSE 0 END AS INT) AS r3_ellipsis,
       CAST(CASE WHEN 10 * bullet_lines <= 9 * n_lines
                 THEN 1 ELSE 0 END AS INT) AS r4_bullets,
       CAST(CASE WHEN 5 * alpha_words >= 4 * n_words
                 THEN 1 ELSE 0 END AS INT) AS r5_alphawords,
       CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS INT)
         AS r6_stopwords,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND 3 * n_words <= word_chars
                  AND word_chars <= 10 * n_words
                  AND 10 * ellipsis_lines <= 3 * n_lines
                  AND 10 * bullet_lines <= 9 * n_lines
                  AND 5 * alpha_words >= 4 * n_words
                  AND stop_hits >= 2
                 THEN 1 ELSE 0 END AS INT) AS gopher_keep
FROM wstats w JOIN lstats l ON w.doc_id = l.doc_id"""


QUERIES["text_gopher_rules"] = _pair(
    _gopher_sql(
        words_cte=_WORDS_SPARK,
        str_t="STRING",
        div8="CAST(floor(pos / 8) AS INT)",
        agg_body=("array_join(transform(array_sort(collect_list("
                  "struct(pos, word))), x -> x.word), ' ')"),
        alpha="word RLIKE '[a-z]'"),
    _gopher_sql(
        words_cte=_WORDS_DUCK,
        str_t="VARCHAR",
        div8="CAST(pos // 8 AS INT)",
        agg_body="string_agg(word, ' ' ORDER BY pos)",
        alpha="regexp_matches(word, '[a-z]')"),
)


# --- CCNet perplexity buckets -------------------------------------------------
# The CCNet tiering (Wenzek et al. 2020): score each document with a
# corpus-fit LM, then split EACH LANGUAGE into perplexity thirds —
# head/middle/tail — so downstream mixing can prefer the fluent tier
# without a hard drop. The LM here is the oracle-checked unigram
# surprisal operator, composed verbatim as a subquery (the
# corpus_attributes idiom: component semantics live in ONE place); the
# bucket boundary is exact integer rank arithmetic (3*(rn-1) vs n), so a
# threshold change in the surprisal component flows through unchanged.
# Scale note: exact per-lang thirds take one window per language — the
# oracle-checkable form. At 100 TB the published pipeline computes two
# approximate percentile CUTPOINTS per language (broadcast scalars, one
# scan, no window) and tolerates epsilon rank error at the boundaries;
# the semantics pinned here are what that approximation converges to.
def _ccnet_sql(surp_query: str) -> str:
    return f"""WITH surp AS (
{surp_query}
),
tagged AS (
  SELECT s.doc_id, d.lang, s.avg_surprisal_x1e6,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.avg_surprisal_x1e6, s.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM surp s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, avg_surprisal_x1e6,
       CAST(n AS INT) AS lang_docs,
       CASE WHEN 3 * (rn - 1) < n THEN 'head'
            WHEN 3 * (rn - 1) < 2 * n THEN 'middle'
            ELSE 'tail' END AS ccnet_bucket
FROM tagged"""


QUERIES["text_ccnet_bucket"] = _pair(
    _ccnet_sql(QUERIES["text_unigram_surprisal"]["spark"]),
    _ccnet_sql(QUERIES["text_unigram_surprisal"]["duck"]),
)


# --- stratified train/val/test split -----------------------------------------
# text_quality_sample's hash-coin split is unbiased but BINOMIAL: a small
# (source, lang) stratum can land all its docs in train by chance, and
# eval sets need every stratum represented at exact proportions. This is
# the standard stratified holdout: within each stratum, order docs by a
# content-free 60-bit hash coin (reproducible on any cluster layout, no
# rand()) and slice EXACT counts — floor(n/10) test, floor(n/10) val,
# rest train; a stratum needs >= 10 docs before it yields any eval rows
# (the floor semantics every eval framework documents). Scale shape: ONE
# window partitioned by (source, lang) — bounded strata, narrow
# (doc_id, keys, coin) rows; division is one correctly-rounded IEEE op
# on exact integers (the fixed-point discipline).
def _strat_split_sql(coin: str) -> str:
    return f"""WITH ranked AS (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY {coin}, doc_id) AS rn,
         count(*) OVER (PARTITION BY source, lang) AS n
  FROM documents
)
SELECT doc_id, source, lang,
       CAST(n AS INT) AS stratum_docs,
       CASE WHEN rn <= CAST(floor(n * CAST(1.0 AS DOUBLE) / 10) AS BIGINT)
            THEN 'test'
            WHEN rn <= 2 * CAST(floor(n * CAST(1.0 AS DOUBLE) / 10)
                                AS BIGINT)
            THEN 'val'
            ELSE 'train' END AS split
FROM ranked"""


QUERIES["text_stratified_split"] = _pair(
    _strat_split_sql(_HASH60_SPARK.format(
        x="concat('sp:', CAST(doc_id AS STRING))")),
    _strat_split_sql(_HASH60_DUCK.format(
        x="'sp:' || CAST(doc_id AS VARCHAR)")),
)


# --- DSIR importance weights --------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): weight each
# document by sum over its words of ln(p_target(w) / p_raw(w)), with the
# target LM fit on an in-domain subset (lang = 'en' here — DSIR's
# hashed-ngram features reduce to unigrams on this single-token-feature
# corpus) and the raw LM on the whole corpus, both add-1 smoothed so
# out-of-target words contribute a finite negative ratio. Exactness
# discipline (the _SURPRISAL_TAIL rule): the ratio is formed from EXACT
# integer products ((ct+1)(Ns+V)) / ((cs+1)(Nt+V)) — both < 2^53 — so the
# only inexact steps are one correctly-rounded divide, one <=1-ulp ln and
# one multiply; per-word values quantize to 1e6 fixed point BEFORE the
# per-doc sum (integer aggregation is order-immune), and the boundary
# margin is guard-scanned in tests/test_oracle_stability.py (observed
# >= 5e-3 at every sf — six orders above ulp drift). Per-doc average =
# one divide of exact integers. dsir_keep = avg > 0 (closer to target
# than to raw) — a threshold, not a corpus-wide rank, so selection adds
# no shuffle. Scale shape: two count aggregates (the target one joins
# words to the broadcastable doc->lang relation), a broadcast vocab join
# back, one doc_id aggregate — the surprisal family's fit-then-transform
# shape, linear end to end.
def _dsir_sql(words_cte: str) -> str:
    return f"""WITH {words_cte},
tgt AS (
  SELECT w.word, count(*) AS ct
  FROM words w JOIN documents d ON w.doc_id = d.doc_id
  WHERE d.lang = 'en' GROUP BY w.word
),
raw AS (SELECT word, count(*) AS cs FROM words GROUP BY word),
nt AS (SELECT sum(ct) AS n FROM tgt),
ns AS (SELECT sum(cs) AS n FROM raw),
vocab AS (SELECT count(*) AS v FROM raw),
lr AS (
  SELECT r.word,
         CAST(floor(ln((coalesce(t.ct, 0) + 1) * CAST(1.0 AS DOUBLE)
                         * (ns.n + vocab.v)
                       / ((r.cs + 1) * CAST(1.0 AS DOUBLE)
                          * (nt.n + vocab.v)))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              AS BIGINT) AS s
  FROM raw r LEFT JOIN tgt t ON r.word = t.word
  CROSS JOIN nt CROSS JOIN ns CROSS JOIN vocab
),
docsum AS (
  SELECT w.doc_id, sum(l.s) AS tot_s, count(*) AS n_words
  FROM words w JOIN lr l ON w.word = l.word
  GROUP BY w.doc_id
)
SELECT d.doc_id, dl.lang,
       CAST(n_words AS INT) AS n_words,
       CAST(tot_s AS BIGINT) AS dsir_logratio_x1e6,
       CAST(floor(tot_s * CAST(1.0 AS DOUBLE) / n_words
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS avg_logratio_x1e6,
       CAST(CASE WHEN tot_s > 0 THEN 1 ELSE 0 END AS INT) AS dsir_keep
FROM docsum d JOIN documents dl ON d.doc_id = dl.doc_id"""


QUERIES["text_dsir_weight"] = _pair(
    _dsir_sql(_WORDS_SPARK),
    _dsir_sql(_WORDS_DUCK),
)


# --- event funnel analysis ----------------------------------------------------
# The ordered-funnel query every product-analytics engine ships
# (view -> click -> purchase, each step STRICTLY after the previous —
# subsequence matching, not set membership — and inside a 24-hour
# CONVERSION WINDOW per step, the windowed semantics real funnel tools
# define): per user, the first view, the first click within 24 h after
# that view, the first purchase within 24 h after that click; report
# the deepest step reached and the step-to-step latencies. The
# chained "first X after Y" structure is three user_id-keyed aggregates
# with equi-joins — every shuffle is on user_id (one reused key, AQE
# coalesces), no window over the raw event stream, no self-join
# explosion (each stage aggregates before joining). Timestamps compare
# at full parquet precision for the ordering; reported latencies are
# whole seconds via the engines' truncating epoch forms (the
# events_sessionize dialect pair), and NULL latencies for users who
# never reach a step are coalesced to -1 so the value hash is
# null-layout-independent.
def _funnel_sql(epoch: str) -> str:
    return f"""WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT v.user_id,
       CAST(CASE WHEN p.t_buy IS NOT NULL THEN 3
                 WHEN c.t_click IS NOT NULL THEN 2
                 ELSE 1 END AS INT) AS funnel_step,
       CAST(coalesce({epoch.format(ts='c.t_click')}
                       - {epoch.format(ts='v.t_view')}, -1) AS BIGINT)
         AS secs_view_to_click,
       CAST(coalesce({epoch.format(ts='p.t_buy')}
                       - {epoch.format(ts='c.t_click')}, -1) AS BIGINT)
         AS secs_click_to_buy
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id"""


QUERIES["events_funnel"] = _pair(
    _funnel_sql("unix_timestamp({ts})"),
    _funnel_sql("CAST(floor(epoch({ts})) AS BIGINT)"),
)


# --- cohort retention matrix --------------------------------------------------
# The third classic event-analytics shape after sessionization and the
# funnel: cohort users by their FIRST signup week, then for each
# (cohort_week, week_offset) report how many cohort members were active
# (any event) that many weeks later — the retention matrix every product
# dashboard draws. Weeks are exact integer arithmetic from a fixed epoch
# date (whole-day diffs // 7 — no timezone or DST float paths; the
# session timezone is pinned UTC by _prepare). Scale shape: one signup
# aggregate (min week per user), one DISTINCT (user, week) activity
# relation — both user_id-keyed — then a broadcastable cohort-size join
# and a (cohort_week, offset) aggregate over rows already deduplicated
# to user×week granularity; no window over the raw stream, every shuffle
# on user_id or the tiny matrix key. retention_bp <= 10000 by
# construction (offset-0 activity includes the signup event itself, so
# row 0 is the full cohort — the matrix's sanity diagonal).
def _retention_sql(week: str) -> str:
    return f"""WITH ev_weeks AS (
  SELECT DISTINCT user_id, {week} AS w FROM events
),
cohort AS (
  SELECT user_id, min({week}) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
sizes AS (SELECT cw, count(*) AS cohort_size FROM cohort GROUP BY cw),
active AS (
  SELECT c.cw, e.w - c.cw AS off, count(DISTINCT e.user_id) AS active_users
  FROM ev_weeks e JOIN cohort c ON e.user_id = c.user_id
  WHERE e.w >= c.cw GROUP BY c.cw, e.w - c.cw
)
SELECT CAST(a.cw AS INT) AS cohort_week,
       CAST(a.off AS INT) AS week_offset,
       CAST(s.cohort_size AS INT) AS cohort_size,
       CAST(a.active_users AS INT) AS active_users,
       CAST(floor(a.active_users * CAST(10000.0 AS DOUBLE) / s.cohort_size
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS retention_bp
FROM active a JOIN sizes s ON a.cw = s.cw"""


QUERIES["events_retention"] = _pair(
    _retention_sql(
        "CAST(floor(datediff(ts, DATE '2024-01-01') / 7) AS INT)"),
    _retention_sql(
        "CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"
        " / 7.0) AS INT)"),
)


# --- per-document TF-IDF keywords ----------------------------------------------
# The classic indexing/search primitive (Sparck Jones 1972) the corpus
# surface lacked: per document, the top-3 terms by tf·idf — what a
# retrieval index, a topic tagger or a dedup explainer reads. Exactness:
# idf = ln(N/df) quantized to 1e6 fixed point per TERM (margins
# guard-scanned at every sf alongside the surprisal/DSIR guards;
# df == N gives ln(1) = exactly 0.0 — no drift possible), then
# tfidf = tf × idf_fp is an exact integer product and the top-3 rank is
# integer/lexicographic. Scale shape: explode → (doc, word) and (word)
# hash aggregates, a broadcastable idf relation joined back, ONE window
# partitioned by doc_id (bounded partitions — a document's distinct
# terms, never the corpus).
def _tfidf_sql(words_from: str) -> str:
    return f"""WITH w AS (
  SELECT doc_id, word FROM {words_from}
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM w),
idf AS (
  SELECT word,
         CAST(floor(ln(n * CAST(1.0 AS DOUBLE) / df)
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
              AS BIGINT) AS idf_fp
  FROM df CROSS JOIN nd
),
scored AS (
  SELECT t.doc_id, t.word, t.tf, i.idf_fp, t.tf * i.idf_fp AS tfidf_fp
  FROM tf t JOIN idf i ON t.word = i.word
),
ranked AS (
  SELECT doc_id, word, tf, idf_fp, tfidf_fp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_fp DESC, word ASC) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, word AS keyword,
       CAST(tf AS INT) AS tf,
       CAST(idf_fp AS BIGINT) AS idf_x1e6,
       CAST(tfidf_fp AS BIGINT) AS tfidf_x1e6
FROM ranked WHERE rnk <= 3"""


QUERIES["text_tfidf_keywords"] = _pair(
    _tfidf_sql("documents LATERAL VIEW explode(split(text, ' ')) t AS word"),
    _tfidf_sql("(SELECT doc_id, unnest(split(text, ' ')) AS word "
               "FROM documents) u"),
)


# --- MinHash estimator quality ---------------------------------------------------
# The measurement row for the whole MinHash tier (the ann_recall_report
# idiom): Broder's estimator says E[matching signature slots / k] equals
# the true Jaccard — this row MEASURES that on a deterministic probe pair
# set instead of assuming it, reporting per pair the 16-slot estimate,
# the exact word-set Jaccard, and the absolute error, all in exact 1e4
# fixed point (est = matches×625 is exact integer arithmetic; truth is
# one correctly-rounded divide of exact integers). Probe pairs
# (i, i+1+i%7) for i%3==0 give varied true overlap on this corpus.
# Scale shape: the signatures are the dedup_minhash_signatures subquery
# verbatim (production serves them from the bucketed sink's stored
# bands — the signature chain never recomputes per probe); matches =
# one (doc, seed)-keyed equi-join, truth = word-set equi-joins on the
# probe pairs only — never all-pairs.
def _mh_quality_sql(sig_query: str, words_from: str) -> str:
    return f"""WITH sig AS (
{sig_query}
),
sets AS (SELECT DISTINCT doc_id, word FROM {words_from}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sets GROUP BY doc_id),
pairs AS (
  SELECT doc_id AS doc_a,
         CAST(doc_id + 1 + doc_id % 7 AS BIGINT) AS doc_b
  FROM documents
  WHERE doc_id % 3 = 0
    AND doc_id + 1 + doc_id % 7 <= (SELECT max(doc_id) FROM documents)
),
m AS (
  SELECT p.doc_a, p.doc_b,
         sum(CASE WHEN s1.minhash = s2.minhash THEN 1 ELSE 0 END)
           AS matches
  FROM pairs p
  JOIN sig s1 ON s1.doc_id = p.doc_a
  JOIN sig s2 ON s2.doc_id = p.doc_b AND s2.seed = s1.seed
  GROUP BY p.doc_a, p.doc_b
),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b AND sb.word = sa.word
  GROUP BY p.doc_a, p.doc_b
)
SELECT m.doc_a, m.doc_b,
       CAST(m.matches AS INT) AS matching_seeds,
       CAST(m.matches * 625 AS BIGINT) AS est_jaccard_x1e4,
       CAST(floor(coalesce(i.i, 0) * CAST(10000.0 AS DOUBLE)
                  / (za.sz + zb.sz - coalesce(i.i, 0))
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS true_jaccard_x1e4,
       CAST(abs(m.matches * 625
                - floor(coalesce(i.i, 0) * CAST(10000.0 AS DOUBLE)
                        / (za.sz + zb.sz - coalesce(i.i, 0))
                        + CAST(0.5 AS DOUBLE))) AS BIGINT) AS err_x1e4
FROM m
LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
JOIN sizes za ON za.doc_id = m.doc_a
JOIN sizes zb ON zb.doc_id = m.doc_b"""


QUERIES["dedup_minhash_quality"] = _pair(
    _mh_quality_sql(_MINHASH_SPARK,
                    "documents LATERAL VIEW explode(split(text, ' ')) "
                    "t AS word"),
    _mh_quality_sql(_MINHASH_DUCK,
                    "(SELECT doc_id, unnest(split(text, ' ')) AS word "
                    "FROM documents) u"),
)


# --- TPC-H Q1: pricing summary ------------------------------------------------
# The canonical warehouse scan-agg (TPC-H 2.4 §Q1) over the lineitem
# table the corpus ships — the one benchmark query every Spark/DuckDB
# deployment runs first. House exactness discipline where the spec says
# DECIMAL(15,2): every measure quantizes PER ROW to fixed-point integers
# (prices/discounts/taxes carry exactly 2 decimals, so floor(x*100+0.5)
# is exact), and the aggregates are INTEGER sums — order-immune, unlike
# summing raw doubles (join_revenue_topk gets away with post-sum
# quantization only because its per-group row counts keep the float
# error << half a cent; Q1's ~20k-row groups would not). disc_price and
# charge are exact integer PRODUCTS of the quantized terms (x1e4 / x1e6
# units; ~1e11 per row, ~6e15 per group at sf0.1 — BIGINT-safe; the
# 10^12-row form swaps the sums to DECIMAL(38,0), the clusters-op
# precedent). Averages are single correctly-rounded divides of exact
# integers. Scale shape: ONE pruned scan with the date filter pushed to
# parquet + a 4-group hash aggregate — pure map-side partials.
_TPCH_Q1 = """WITH rows_q AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS q_c,
         CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS p_c,
         CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS d_c,
         CAST(floor(l_tax * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(q_c) AS BIGINT) AS sum_qty_x1e2,
       CAST(sum(p_c) AS BIGINT) AS sum_base_price_x1e2,
       CAST(sum(p_c * (100 - d_c)) AS BIGINT) AS sum_disc_price_x1e4,
       CAST(sum(p_c * (100 - d_c) * (100 + t_c)) AS BIGINT)
         AS sum_charge_x1e6,
       CAST(floor(sum(q_c) * CAST(1.0 AS DOUBLE) / count(*)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_qty_x1e2,
       CAST(floor(sum(p_c) * CAST(1.0 AS DOUBLE) / count(*)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_price_x1e2,
       CAST(floor(sum(d_c) * CAST(1.0 AS DOUBLE) / count(*)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_disc_x1e2,
       count(*) AS count_order
FROM rows_q
GROUP BY l_returnflag, l_linestatus"""

QUERIES["tpch_q1_pricing"] = _pair(_TPCH_Q1, _TPCH_Q1)


# --- TPC-H Q5: local supplier volume -------------------------------------------
# The canonical star-join (TPC-H 2.4 §Q5): revenue per nation where the
# customer and the supplier share a nation, restricted to one region and
# a one-year order window — SIX tables in one query, which is exactly
# the plan-shape this engine must get right at 100 TB: the dimension
# chain region(5) -> nation(25) -> customer/supplier is broadcast end to
# end (plan-asserted — no dimension ever shuffles the fact table), the
# only big-table shuffle joins are lineitem ⋈ orders and the suppkey
# side, and AQE is free to reorder. Revenue uses the Q1 discipline:
# per-row fixed-point products, order-immune integer sums (the spec's
# DECIMAL arithmetic exactly, not a double approximation).
_TPCH_Q5 = """WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(floor(l.l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
              AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT)) AS rev_x1e4
  FROM lineitem l
  JOIN orders o    ON l.l_orderkey = o.o_orderkey
  JOIN customer c  ON o.o_custkey = c.c_custkey
  JOIN supplier s  ON l.l_suppkey = s.s_suppkey
  JOIN nation n    ON c.c_nationkey = n.n_nationkey
                  AND s.s_nationkey = n.n_nationkey
  JOIN region r    ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT nation, CAST(sum(rev_x1e4) AS BIGINT) AS revenue_x1e4,
       count(*) AS n_lineitems
FROM rev GROUP BY nation"""

QUERIES["tpch_q5_local_volume"] = _pair(_TPCH_Q5, _TPCH_Q5)


# --- ROLLUP data card ----------------------------------------------------------
# corpus_datacard aggregates at fixed granularities; this is the OLAP
# form a warehouse serves instead: ONE pass producing every level of the
# (source, lang) hierarchy — per-(source, lang), per-source subtotals,
# and the grand total — via GROUP BY ROLLUP, with GROUPING() flags
# disambiguating real NULL groups from subtotal rows (the reason
# coalesce-on-key alone is wrong in real warehouses). Spark plans this
# as one Expand + one hash aggregate: the input is read ONCE and
# replicated only at the aggregation width, not rescanned per level —
# the property that matters when the input is 100 TB and the rollup has
# 4 levels. Measures are exact integers (doc count, byte totals, token
# estimates), so every level is cross-engine exact.
_ROLLUP_CARD = """SELECT
  coalesce(source, 'ALL') AS source,
  coalesce(lang, 'ALL') AS lang,
  CAST(GROUPING(source) AS INT) AS source_total,
  CAST(GROUPING(lang) AS INT) AS lang_total,
  count(*) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS chars,
  CAST(sum(CAST(floor((length(text) + 3) / 4) AS BIGINT)) AS BIGINT)
    AS est_tokens
FROM documents
GROUP BY ROLLUP(source, lang)"""

QUERIES["corpus_rollup"] = _pair(_ROLLUP_CARD, _ROLLUP_CARD)


# --- sliding-window event value -------------------------------------------------
# The time-series frame the sessionizer and funnel don't exercise: per
# user, the TRAILING-HOUR sum and count of event value at every event —
# a RANGE frame over epoch seconds (peer rows at the same second enter
# together, which is what makes RANGE, not ROWS, the correct published
# semantics for sliding aggregates). Exactness: value quantizes to
# cents PER ROW before the frame sum (integer window aggregation is
# order-immune within the frame); epoch seconds via the truncating
# dialect pair. Scale shape: ONE window hash-partitioned by user_id,
# ordered within partition — no corpus-wide sort, bounded per-user
# partitions.
def _sliding_sql(epoch: str) -> str:
    return f"""WITH ev AS (
  SELECT user_id, event_id, {epoch} AS t,
         CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v_c
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(v_c) OVER w AS BIGINT) AS hour_value_x1e2,
       CAST(count(*) OVER w AS INT) AS hour_events
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY t
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)"""


QUERIES["events_sliding_value"] = _pair(
    _sliding_sql("unix_timestamp(ts)"),
    _sliding_sql("CAST(floor(epoch(ts)) AS BIGINT)"),
)


# --- TPC-H Q14: promotion effect -----------------------------------------------
# The conditional-share join (TPC-H 2.4 §Q14): what fraction of one
# month's discounted revenue came from PROMO parts — the fact ⋈ part
# dimension join with a CASE'd numerator over a shared denominator.
# Exactness: the Q1 per-row fixed-point discipline for both sums
# (exact integer products, order-immune integer aggregation), then the
# published promo/total share as ONE correctly-rounded divide
# emitted in 1e6 fixed point. Scale shape: the part dimension
# broadcasts (plan-asserted), the date filter pushes to the lineitem
# scan, and the whole query is one map-side-combinable aggregate — at
# 100 TB this is a broadcast-join scan, no fact shuffle at all.
_TPCH_Q14 = """WITH joined AS (
  SELECT CAST(floor(l.l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
              AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT)) AS rev_x1e4,
         CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
)
SELECT CAST(sum(CASE WHEN is_promo = 1 THEN rev_x1e4 ELSE 0 END)
            AS BIGINT) AS promo_revenue_x1e4,
       CAST(sum(rev_x1e4) AS BIGINT) AS total_revenue_x1e4,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(floor(sum(CASE WHEN is_promo = 1 THEN rev_x1e4 ELSE 0 END)
                  * CAST(1000000.0 AS DOUBLE) / sum(rev_x1e4)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS promo_share_x1e6
FROM joined"""

QUERIES["tpch_q14_promo"] = _pair(_TPCH_Q14, _TPCH_Q14)


# --- JSON property extraction ---------------------------------------------------
# The semi-structured column every event stream carries: events.props is
# a JSON string, and the warehouse question is an aggregate over a field
# inside it — extraction must happen engine-side (Spark get_json_object
# / DuckDB json_extract both evaluate JSONPath in the scan projection,
# no UDF) so predicate/column pruning still applies. Per event-type:
# count, sum/min/max of props.k, and how many rows carried a parseable
# k at all (a real stream has ragged props; the coalesce-to--1 count
# pins NULL-handling cross-engine instead of hiding it). Scale shape:
# one scan + one small-key hash aggregate — the JSONPath runs inside the
# projection, the string never shuffles.
def _json_sql(extract: str) -> str:
    return f"""WITH ev AS (
  SELECT event_type, {extract} AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_k,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS k_sum,
       CAST(min(coalesce(k, -1)) AS BIGINT) AS k_min,
       CAST(max(coalesce(k, -1)) AS BIGINT) AS k_max
FROM ev GROUP BY event_type"""


QUERIES["events_json_extract"] = _pair(
    _json_sql("CAST(get_json_object(props, '$.k') AS BIGINT)"),
    _json_sql("CAST(json_extract(props, '$.k') AS BIGINT)"),
)


# --- TPC-H Q4 shape: late-shipment priority count -------------------------------
# The EXISTS decorrelation shape (TPC-H 2.4 §Q4, adapted to the shipped
# columns: "an order is late if ANY of its lineitems shipped after the
# order month ended"): count orders per priority where a correlated
# EXISTS subquery fires. The plan property under test is that both
# engines decorrelate the EXISTS into a LEFT SEMI join on o_orderkey —
# the fact table is scanned once per side and the semi join never
# duplicates orders with many matching lineitems (the bug a naive
# INNER-join rewrite has). Scale shape: two scans + one key-partitioned
# semi join + a tiny-key aggregate.
_TPCH_Q4 = """SELECT o.o_orderpriority,
       count(*) AS late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority"""

QUERIES["tpch_q4_late_priority"] = _pair(_TPCH_Q4, _TPCH_Q4)
