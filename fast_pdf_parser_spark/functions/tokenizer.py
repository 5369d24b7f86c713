"""Greedy longest-match tokenizer — exact reference semantics, in Python.

Replicates ``TiktokenTokenizer`` (include/fast_pdf_parser/tiktoken_tokenizer.h):

- operates on the raw UTF-8 BYTES of the text (the reference works on
  ``std::string`` byte substrings, tiktoken_tokenizer.h:150-186),
- greedy longest match at each position with a 20-BYTE search window
  (``max_len = min(remaining, 20)``, tiktoken_tokenizer.h:161),
- unmatched positions fall back to one raw byte = one token
  (ids 0-255, tiktoken_tokenizer.h:177-181),
- vocabulary parsed from the tiktoken text format ``base64(token) id``
  (tiktoken_tokenizer.h:121-138),
- ``estimate_tokens(text) = (len_bytes + 3) // 4``
  (tiktoken_tokenizer.h:221-223) — the O(1) fast path, used only for
  size-bucketing, never for chunk boundaries (SURVEY.md §4).

The vocabulary is a process-level lazy singleton, mirroring the reference's
``static Vocabulary`` double-checked-lock idiom (tiktoken_tokenizer.h:74-84,
113-139): each Spark Python worker loads it once, not per Arrow batch.

Performance: instead of the reference's backward scan (20→1 byte substring
probes per token), we walk FORWARD through a prefix-closed set — every probe
after a miss is pruned — which visits ~(token_len+1) dict lookups per token.
Identical output by construction: both explore exactly the set of vocabulary
tokens starting at the position and pick the longest. A per-line memo cache
exploits the heavy line repetition of real corpora (blank lines, headings,
boilerplate).
"""

from __future__ import annotations

import base64
import os
from functools import lru_cache

_MAX_TOKEN_BYTES = 20  # tiktoken_tokenizer.h:161

# a newline followed by a non-newline byte inside one token would let a
# greedy match cross line-unit boundaries (see _line_decomposable)
import re as _re

_NL_NONNL = _re.compile(rb"\n[^\n]")
# split points of a multi-line text into countable units: after each
# newline run (lookbehind \n, lookahead non-\n) — every unit is a content
# segment plus its trailing newline run
_UNIT_SPLIT = _re.compile(r"(?<=\n)(?!\n)")


def _build_trie_regex(tokens: list[bytes]) -> "re.Pattern[bytes]":
    """Compile the vocabulary into a trie-structured regex whose matches are
    exactly the greedy longest-match tokens (plus a 1-byte fallback).

    Construction: one alternation branch per trie child (disjoint first
    bytes), and where a node is itself a token, its continuation subtree is
    wrapped as a GREEDY OPTIONAL group — so the engine always tries the
    longer continuation first and backtracks to the accepted shorter token,
    which is precisely longest-match semantics. The final ``(?s:.)``
    alternative is the raw-byte fallback (tiktoken_tokenizer.h:177-181).
    Equivalence to the explicit walk is asserted in tests (incl. fuzz).
    """
    import re as _re

    trie: dict = {}
    for t in tokens:
        node = trie
        for b in t:
            node = node.setdefault(b, {})
        node[None] = True

    def emit(node: dict) -> bytes:
        keys = [k for k in node if k is not None]
        if not keys:
            return b""
        alts = [_re.escape(bytes([k])) + emit(node[k]) for k in sorted(keys)]
        body = alts[0] if len(alts) == 1 else b"(?:" + b"|".join(alts) + b")"
        if None in node:  # node is a token: continuation is greedy-optional
            if len(body) == 1 or (len(body) == 2 and body[:1] == b"\\"):
                return body + b"?"
            return b"(?:" + body + b")?"
        return body

    body = emit(trie)
    return _re.compile(body + b"|(?s:.)" if body else b"(?s:.)")

_DEFAULT_VOCAB_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "vocab_fixture.tiktoken",
)

# The reference embeds the REAL cl100k_base vocabulary (1.6 MB, xxd -i —
# tiktoken_tokenizer.h:51,66-67) and claims 1-3% accuracy vs Python tiktoken
# (tiktoken_tokenizer.h:38-39). This container ships no such blob, so the
# default is a small deterministic fixture vocab — algorithmically exact,
# but with unreal token counts. When a genuine cl100k_base.tiktoken IS
# available (env var or drop-in file), it is preferred automatically.
_REAL_VOCAB_ENV = "FAST_PDF_PARSER_SPARK_VOCAB"


def find_real_vocab() -> str | None:
    """Locate a genuine ``cl100k_base.tiktoken`` if one is present.

    Resolution order: ``$FAST_PDF_PARSER_SPARK_VOCAB``, then the package
    DATA DIR drop-in. Discovery is DRIVER-SIDE only: every Spark job
    resolves it once (driver_vocab) and threads the path into its closure,
    so one job never mixes two tokenizations — an executor that cannot
    read the resolved path fails loudly (per-worker re-discovery could
    silently fall back to the fixture vocab on executors where the env
    var or drop-in is absent). Deliberately NOT searched: per-user
    cache dirs and other machine-local paths, which could resolve on the
    driver but not on executors (or differ across machines) and silently
    change every pinned token count. Returns None when absent — tests gate
    on this, mirroring the reference's GTEST_SKIP pattern
    (tests/test_parser.cpp:37-39).
    """
    candidates = []
    env = os.environ.get(_REAL_VOCAB_ENV)
    if env:
        candidates.append(env)
    data_dir = os.path.dirname(_DEFAULT_VOCAB_PATH)
    candidates.append(os.path.join(data_dir, "cl100k_base.tiktoken"))
    for c in candidates:
        if c and os.path.isfile(c):
            return c
    return None


def driver_vocab(vocab_path: str | None = None) -> str | None:
    """The vocabulary a Spark job threads into its UDF closures:
    ``vocab_path`` itself, else :func:`find_real_vocab` resolved ONCE, on
    the driver. Per-worker discovery (env var / drop-in file) can resolve
    differently on executors than on the driver, silently mixing two
    tokenizations within one job; an explicit path an executor cannot read
    fails loudly instead."""
    return vocab_path if vocab_path is not None else find_real_vocab()


def parse_vocab_text(data: str) -> dict[bytes, int]:
    """Parse ``base64(token) id`` lines (tiktoken_tokenizer.h:126-135)."""
    encoder: dict[bytes, int] = {}
    for line in data.split("\n"):
        space = line.find(" ")
        if space != -1:
            tok = base64.b64decode(line[:space])
            encoder[tok] = int(line[space + 1 :])
    return encoder


class TiktokenTokenizer:
    """Greedy longest-match tokenizer over a tiktoken-format vocabulary."""

    def __init__(self, vocab_path: str | None = None,
                 encoder: dict[bytes, int] | None = None) -> None:
        if encoder is None:
            encoder = _load_vocab_singleton(vocab_path or _DEFAULT_VOCAB_PATH)
        # Tokens longer than the search window can never match
        # (tiktoken_tokenizer.h:161) — drop them up front.
        self._encoder = {
            t: i for t, i in encoder.items() if len(t) <= _MAX_TOKEN_BYTES
        }
        self._decoder = {i: t for t, i in self._encoder.items()}
        # Prefix-closed walk table: prefix -> True if it is itself a token,
        # False if only a strict prefix of longer tokens. One dict probe per
        # candidate length (vs the reference's 20 backward probes,
        # tiktoken_tokenizer.h:164-171 — same result by construction).
        walk: dict[bytes, bool] = {}
        for tok in self._encoder:
            for l in range(1, len(tok)):
                walk.setdefault(tok[:l], False)
        for tok in self._encoder:
            walk[tok] = True
        self._walk = walk
        self._prefixes = walk  # membership-compatible alias
        self._trie_re = _build_trie_regex(list(self._encoder))
        self._count_line_cached = lru_cache(maxsize=65536)(self._count_uncached)
        # Line-decomposable counting is EXACT iff no token contains a
        # newline followed by a non-newline byte: greedy matches then never
        # cross a \n→non-\n boundary, so a multi-line text splits into
        # independently countable "content + trailing newline run" units
        # (each a stable cache key). Tokens like '.\n' or '\n\n' are fine —
        # they stay inside one unit. Checked once per vocabulary here; a
        # vocabulary that violates it silently falls back to whole-text
        # counting (correct, just uncached).
        self._line_decomposable = not any(
            _NL_NONNL.search(t) for t in self._encoder
        )

    # -- encode / decode -------------------------------------------------

    def encode(self, text: str) -> list[int]:
        """tiktoken_tokenizer.h:150-186 (greedy longest match + byte
        fallback), via the trie-structured regex: its matches are exactly
        the greedy tokens (the same equivalence the counter rides, fuzz-
        pinned against ``_encode_walk`` in tests/test_tokenizer.py), and
        the ``(?s:.)`` alternative surfaces fallback bytes as 1-byte
        matches — so one C-side scan replaces the per-position Python
        walk (~2.3x on the encode hot path; findall skips the per-match
        object finditer would allocate)."""
        data = text.encode("utf-8")
        enc = self._encoder
        return [enc[s] if s in enc else s[0]
                for s in self._trie_re.findall(data)]

    def _encode_walk(self, text: str) -> list[int]:
        """Reference prefix-walk encoder (validates the regex path)."""
        data = text.encode("utf-8")
        enc = self._encoder
        walk_get = self._walk.get
        tokens: list[int] = []
        pos = 0
        n = len(data)
        while pos < n:
            best_len = 0
            best_tok = -1
            max_len = min(n - pos, _MAX_TOKEN_BYTES)
            l = 1
            while l <= max_len:
                sub = data[pos : pos + l]
                hit = walk_get(sub)
                if hit is None:
                    break
                if hit:
                    best_len = l
                    best_tok = enc[sub]
                l += 1
            if best_len:
                tokens.append(best_tok)
                pos += best_len
            else:
                # byte fallback: ids 0-255 (tiktoken_tokenizer.h:177-181)
                tokens.append(data[pos])
                pos += 1
        return tokens

    def decode(self, tokens: list[int]) -> str:
        """tiktoken_tokenizer.h:191-207 (byte fallback, skip invalid)."""
        out = bytearray()
        for t in tokens:
            tok = self._decoder.get(t)
            if tok is not None:
                out += tok
            elif 0 <= t < 256:
                out.append(t)
        return out.decode("utf-8", errors="replace")

    # -- counting (the hot path) -----------------------------------------

    def _count_walk(self, data: bytes) -> int:
        """Reference prefix-walk counter (used to validate the regex path)."""
        walk_get = self._walk.get
        pos = 0
        n = len(data)
        count = 0
        while pos < n:
            best_len = 0
            max_len = min(n - pos, _MAX_TOKEN_BYTES)
            l = 1
            while l <= max_len:
                hit = walk_get(data[pos : pos + l])
                if hit is None:
                    break
                if hit:
                    best_len = l
                l += 1
            pos += best_len if best_len else 1
            count += 1
        return count

    def _count_uncached(self, data: bytes) -> int:
        """Greedy longest-match count via the trie-structured regex —
        identical result to _count_walk (see _build_trie_regex), ~2-3x
        faster (sre's C scan loop replaces the Python walk). subn with an
        empty replacement returns the non-overlapping match count without
        materializing a bytes object per token (~1.6x over findall)."""
        return self._trie_re.subn(b"", data)[1]

    def count_tokens(self, text: str) -> int:
        """tiktoken_tokenizer.h:213-215; memoized per distinct line.

        Multi-line texts (chunk recounts — each a unique concatenation the
        memo cache can never hit) are counted as the sum of their line
        units, each unit individually memoized: lines repeat heavily across
        chunks, passes, and documents, so the whole-text scan collapses to
        dict probes. Bit-exact vs the whole-text scan whenever the
        vocabulary is _line_decomposable (asserted at init; pinned by the
        unit-sum fuzz test in tests/test_tokenizer.py)."""
        if self._line_decomposable and "\n" in text:
            f = self._count_line_cached
            return sum(f(u.encode("utf-8")) for u in _UNIT_SPLIT.split(text))
        return self._count_line_cached(text.encode("utf-8"))

    def count_tokens_many(self, texts) -> list[int]:
        """Vectorized counting for a sequence of strings (pandas-friendly)."""
        return [self.count_tokens(t) for t in texts]


def estimate_tokens(text: str) -> int:
    """O(1) estimate ``(len+3)/4`` — tiktoken_tokenizer.h:221-223.

    The reference measures ``std::string::length()`` = UTF-8 byte length.
    """
    return (len(text.encode("utf-8")) + 3) // 4


# process-level vocab singleton keyed by path (tiktoken_tokenizer.h:74-84)
_VOCABS: dict[str, dict[bytes, int]] = {}
_TOKENIZERS: dict[str, TiktokenTokenizer] = {}


def _load_vocab_singleton(path: str) -> dict[bytes, int]:
    vocab = _VOCABS.get(path)
    if vocab is None:
        try:
            with open(path, encoding="ascii") as f:
                vocab = parse_vocab_text(f.read())
        except OSError:
            if path != _DEFAULT_VOCAB_PATH:
                raise
            # Default fixture vocab is code-generated and deterministic —
            # regenerate in memory when the data file is unreadable (e.g.
            # the package was shipped to executors as a --py-files zip).
            from fast_pdf_parser_spark.functions.vocab_fixture import (
                vocab_file_text,
            )
            vocab = parse_vocab_text(vocab_file_text())
        _VOCABS[path] = vocab
    return vocab


def get_tokenizer(vocab_path: str | None = None) -> TiktokenTokenizer:
    """Shared tokenizer instance per vocab path (one per Python worker).

    With no explicit path, a real cl100k_base.tiktoken is preferred when
    one is discoverable (find_real_vocab) — matching the reference, which
    always tokenizes with the real vocabulary — and the deterministic
    fixture vocab is the fallback.
    """
    key = vocab_path or find_real_vocab() or _DEFAULT_VOCAB_PATH
    tok = _TOKENIZERS.get(key)
    if tok is None:
        tok = TiktokenTokenizer(vocab_path=key)
        _TOKENIZERS[key] = tok
    return tok
