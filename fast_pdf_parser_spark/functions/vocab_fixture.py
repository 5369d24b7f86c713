"""Deterministic tokenizer vocabulary fixture.

The reference embeds the real 1.6MB cl100k_base vocabulary as a generated
header (include/fast_pdf_parser/cl100k_base_data.h — a missing large blob in
the snapshot) and parses it from the tiktoken text format
``base64(token_bytes) <space> token_id`` per line
(tiktoken_tokenizer.h:121-138).

Because the blob is absent, fixtures ship a small deterministic vocabulary in
the SAME file format, covering:

- all 256 single-byte tokens (ids 0-255 — the byte-fallback id space,
  tiktoken_tokenizer.h:177-181),
- common English words and the words used by the synthetic corpus templates,
  each with a leading-space variant (BPE-style), plus capitalized variants
  for frequent sentence-starters,
- markdown structure merges (``# ``, ``## ``, ``- ``, `` ``...) and
  punctuation merges (``. ``, ``, ``, ``.\n``...),

so golden outputs are self-consistent: they are produced by this vocab + the
exact greedy algorithm (20-byte cap, longest match, byte fallback —
tiktoken_tokenizer.h:150-186) and never depend on the missing blob.

Entries are capped at 20 bytes: longer tokens could never match in the
reference (the search window is ``min(remaining, 20)`` bytes,
tiktoken_tokenizer.h:161), so excluding them is semantics-preserving.
"""

from __future__ import annotations

import base64

# Deterministic word list: high-frequency English + every word that appears
# in the synthetic corpus templates (sources/synth.py) and test fixtures.
_WORDS = """
the of and to in is was for on that with as are be by this have from or an
at not they which one you were all we when there can more if no man out
other so what time up said each she how their will about many then them
write would like these her long make thing see him two has look who its
did get come made may part over new sound take only little work know
place year live me back give most very after things our just name good
sentence think say great where help through much before line right too
mean old any same tell boy follow came want show also around form three
small set put end does another well large must big even such because turn
here why ask went men read need land different home us move try kind hand
picture again change off play spell air away animal house point page
letter mother answer found study still learn should world high every near
add food between own below country plant last school father keep tree
never start city earth eye light thought head under story saw left dont
few while along might close something seem next hard open example begin
life always those both paper together got group often run important until
children side feet car mile night walk white sea began grow took river
four carry state once book hear stop without second later miss idea
enough eat face watch far really almost let above girl sometimes mountain
cut young talk soon list song being leave family body music color stand
sun question fish area mark dog horse birds problem complete room knew
since ever piece told usually didnt friends easy heard order red door
sure become top ship across today during short better best however low
hours black products happened whole measure remember early waves reached
section chapter introduction paragraph overview document text content
chunk token heading item code block table figure data value system method
result analysis process model function structure element algorithm
pipeline parallel extraction stream object offset media span kind index
spark partition executor shuffle schema column row batch vector cluster
quick brown fox jumps lazy lorem ipsum dolor sit amet consectetur
adipiscing elit sed eiusmod tempor incididunt labore dolore magna aliqua
a bank beats boundaries careful corpus counts decide deterministic
documents dominates exact explains explicitly follows guessing handle
keeps level main measurement plain processing scale significant skew
systems tail template tokenizer tuning words
""".split()

# Frequent multi-word / punctuation / markdown merges.
_MERGES = [
    "# ", "## ", "### ", "#### ",
    "- ", "* ", "+ ", "1. ", "2. ", "3. ", "```",
    ". ", ", ", ": ", "; ", "! ", "? ",
    ".\n", ",\n", ":\n", "\n\n", "  ", "    ",
    "'s", "'t", "'re", "'ll", "'ve",
    "ing", " ing", "ed", "tion", " tion", "er", "est", "ly",
    "the ", " the ", "of the", " of the", "in the", " in the",
    "is a", " is a", "and the", " and the",
]


def build_vocab_entries() -> list[bytes]:
    """Return the deterministic token list (bytes), order = token id."""
    entries: list[bytes] = [bytes([b]) for b in range(256)]
    seen = set(entries)

    def add(tok: str) -> None:
        b = tok.encode("utf-8")
        if 0 < len(b) <= 20 and b not in seen:
            seen.add(b)
            entries.append(b)

    for w in _WORDS:
        add(w)
        add(" " + w)
        add(w.capitalize())
        add(" " + w.capitalize())
    for m in _MERGES:
        add(m)
    return entries


def vocab_file_text() -> str:
    """The fixture vocabulary in the reference's tiktoken text format:
    ``base64(token) id`` per line (tiktoken_tokenizer.h:121-138)."""
    lines = []
    for token_id, tok in enumerate(build_vocab_entries()):
        lines.append(f"{base64.b64encode(tok).decode('ascii')} {token_id}")
    return "\n".join(lines) + "\n"
