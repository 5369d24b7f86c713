"""HTML main-content extraction: boilerplate strip + DOM heuristics.

The north rule names "HTML boilerplate strip, PDF/layout parse, DOM
heuristics" as the main-content extraction family; the reference repo
itself is the PDF member. This module adds the HTML member with the same
execution contract as the PDF lexer: pure Python, runs inside the
Arrow-batched per-document fold (operators/pipeline.py) for
``kind='html'`` spans, failures contained per span.

Pipeline (readability-style, public heuristics):

1. structural strip — comments, ``<script>``/``<style>`` payloads, and
   boilerplate containers (``head/nav/header/footer/aside``) are removed
   entirely, however deeply nested;
2. block extraction — ``h1-h6 / p / li / pre`` elements become candidate
   blocks in document order, driven by ``_MainContent``'s start/end/data
   handlers. Optional close tags (``</p>``/``</li>`` are OPTIONAL in valid
   HTML and pervasively omitted on real pages) are implied per the spec —
   an open ``<p>`` closes when any block-level element opens or its parent
   closes; an open ``<li>`` closes on a sibling ``<li>`` or when its list
   closes; an unclosed block at EOF is still emitted. Nested block content
   (``<li><p>x</p></li>``) joins its outer block once — never
   double-emitted. Two tokenizers feed those handlers, same events, same
   output (the pdf lexer's two-strategy pattern): one compiled tag regex
   (``_fast_main_content``) for markup inside the subset it recognizes —
   tags, comments, ``<!DOCTYPE>``, ``<script>``/``<style>`` raw text —
   and the stdlib ``html.parser`` state machine (``_parser_main_content``)
   for every other document;
3. boilerplate scoring — a block is dropped when its LINK DENSITY
   (characters inside ``<a>`` / total characters) exceeds 0.5 and it is
   short (<200 chars): menu rows, pagination, "related links" — the
   classic text-to-link-ratio heuristic of readability/boilerpipe
   (public literature);
4. markdown mapping — ``hN`` → ``'#'*N``, ``li`` → ``'- '``, ``pre`` →
   verbatim, ``p`` → plain; entities unescaped (html stdlib). The output
   feeds the SAME line classifier + 7-pass chunker the other span kinds
   use.

Like the PDF path, blank separator lines do not exist in HTML output —
the chunker's heading-break rule provides unit boundaries.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

_WS_RUN = re.compile(r"[ \t\r\n]+")


def _collapse_ws(text: str) -> str:
    """``_WS_RUN.sub(" ", text)`` without the regex pass when every
    whitespace run in ``text`` is already one plain space."""
    if "  " in text or "\n" in text or "\t" in text or "\r" in text:
        return _WS_RUN.sub(" ", text)
    return text


LINK_DENSITY_MAX = 0.5
LINK_SHORT_CHARS = 200

# containers removed entirely (with their content)
_DROP_TAGS = frozenset({"script", "style", "head",
                        "nav", "header", "footer", "aside"})
# the block-level drop containers: opening one implies </p> first (script/
# style are phrasing content — they do NOT close an open paragraph)
_BLOCK_DROP_TAGS = frozenset({"nav", "header", "footer", "aside"})
# elements that become output lines
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_BLOCK_TAGS = _HEADINGS | {"p", "li", "pre"}
# block-level elements: opening one implies </p>; passing through an open
# block contributes a word separator (display:block boundaries must not
# concatenate words)
_BLOCK_LEVEL = _BLOCK_TAGS | {
    "address", "article", "blockquote", "details", "dialog", "dd", "div",
    "dl", "dt", "fieldset", "figcaption", "figure", "form", "hgroup", "hr",
    "main", "ol", "section", "table", "tbody", "td", "th", "thead", "tr",
    "ul", "nav", "header", "footer", "aside",
}
# closing one of these while a p/li is still open implies the block's close
_CONTAINER_CLOSERS = frozenset({
    "ul", "ol", "div", "main", "section", "article", "blockquote", "table",
    "form", "dl", "dd", "dt", "td", "th", "tr", "body", "html", "figure",
    "details",
})
_VOID = frozenset({"hr", "br", "img", "input", "meta", "link", "wbr",
                   "source", "embed", "area", "base", "col", "track"})


class _MainContent(HTMLParser):
    """Single-pass extractor: drop-container stack, one open block at a
    time (outermost wins; nested blocks merge into it), per-block anchor
    accounting for the link-density heuristic, and a parallel tags→space
    stream for the no-blocks fallback."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop: list[str] = []      # open boilerplate containers
        self._block: str | None = None  # current open block element
        self._buf: list[str] = []       # its text fragments
        self._nested: list[str] = []    # block-level opens inside the block
        self._anchor = 0                # <a> nesting depth inside the block
        self._abuf: list[str] = []      # current anchor's text fragments
        self._linked = 0                # cleaned chars inside closed anchors
        self.lines: list[str] = []      # emitted markdown lines
        self.saw_block = False
        self._fb: list[str] = []        # fallback stream (tags → ' ')

    # -- block lifecycle ---------------------------------------------------

    def _end_anchor(self, force: bool = False) -> None:
        """One </a> unwinds ONE level of (malformed) <a> nesting; the
        anchor's text counts as linked only when the outermost closes.
        ``force`` closes all levels — used when the block itself ends."""
        if self._anchor:
            self._anchor = 0 if force else self._anchor - 1
            if self._anchor == 0:
                self._linked += len(
                    _collapse_ws("".join(self._abuf)).strip())
                self._abuf = []

    def _flush(self) -> None:
        tag, parts = self._block, self._buf
        self._block, self._buf, self._nested = None, [], []
        self._end_anchor(force=True)
        linked, self._linked = self._linked, 0
        if tag == "pre":
            # verbatim: preserve internal spacing/newlines
            text = "".join(parts).strip("\n")
            if text.strip():
                self.lines.extend(text.split("\n"))
            return
        text = _collapse_ws("".join(parts)).strip()
        if not text:
            return
        if linked / len(text) > LINK_DENSITY_MAX and \
                len(text) < LINK_SHORT_CHARS:
            return  # boilerplate: link farm / menu row
        if tag in _HEADINGS:
            self.lines.append("#" * int(tag[1]) + " " + text)
        elif tag == "li":
            self.lines.append("- " + text)
        else:
            self.lines.append(text)

    def _imply_close(self, tag: str) -> None:
        """Spec-style implied end tags: ``tag`` is about to open."""
        if self._block == "p" and tag in _BLOCK_LEVEL:
            self._flush()
        elif self._block == "li" and tag == "li" and not any(
                t in ("ul", "ol") for t in self._nested):
            self._flush()  # sibling item; a nested list's items merge
        elif self._block in _HEADINGS and tag in _BLOCK_LEVEL:
            self._flush()  # headings contain phrasing content only
        elif self._block == "pre" and tag == "pre":
            self._flush()

    # -- parser events -----------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "body" and "head" in self._drop:
            # an unclosed <head> ends where <body> begins
            self._drop = [t for t in self._drop if t != "head"]
        if tag in _DROP_TAGS:
            # a block-level boilerplate container (nav inside an open <p>)
            # implies the block's close BEFORE dropping begins — otherwise
            # pre- and post-container text would merge into one block
            if not self._drop and tag in _BLOCK_DROP_TAGS:
                self._imply_close(tag)
            self._drop.append(tag)
            return
        if self._drop:
            return
        self._fb.append(" ")
        if self._block == "pre":
            return  # pre requires an explicit close; markup inside is noise
        self._imply_close(tag)
        if tag in _BLOCK_TAGS:
            self.saw_block = True
            if self._block is None:
                self._block = tag
                return
        if self._block:
            if tag == "a":
                self._anchor += 1
            elif tag in ("br", "img"):
                # a line break / replaced image is visual separation:
                # 'one<br>two' must not read as 'onetwo'
                self._buf.append(" ")
                if self._anchor:
                    self._abuf.append(" ")
            elif tag in _BLOCK_LEVEL:
                self._buf.append(" ")  # block boundary = word boundary
                if tag not in _VOID:
                    self._nested.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in ("body", "html") and self._drop:
            # spec implied end tags: </body> closes every open element —
            # an unclosed <nav> in tag soup must not keep discarding the
            # rest of the document (mirrors the unclosed-<head>-ends-at-
            # <body> handling on the start-tag side)
            self._drop.clear()
        if tag in _DROP_TAGS:
            if tag in self._drop:
                for i in range(len(self._drop) - 1, -1, -1):
                    if self._drop[i] == tag:
                        del self._drop[i:]
                        break
            return
        if self._drop:
            return
        self._fb.append(" ")
        if not self._block:
            return
        if self._block == "pre":
            if tag == "pre":
                self._flush()
            return
        if tag == "a":
            self._end_anchor()
        elif tag == self._block:
            self._flush()
        elif tag in self._nested:
            while self._nested and self._nested.pop() != tag:
                pass
            self._buf.append(" ")
        elif tag in _CONTAINER_CLOSERS:
            self._flush()  # parent closed → implied block close

    def handle_data(self, data: str) -> None:
        if self._drop:
            return
        self._fb.append(data)
        if self._block:
            self._buf.append(data)
            if self._anchor:
                self._abuf.append(data)

    def finish(self) -> str:
        """End of input, for either tokenizer: flush the block still open
        at EOF (it is content) and return the main-content text."""
        if self._block:
            self._flush()
        if self.saw_block:
            # block structure existed: an empty result here means every
            # block was REJECTED as boilerplate — honor that verdict, do not
            # resurrect the rejected text via the fallback
            return "\n".join(self.lines)
        # No recognized block elements at all (div-soup pages, bare
        # fragments): never silently drop the document — return the visible
        # text, boilerplate containers already removed. Tags become spaces
        # (adjacent divs must not concatenate words), runs collapse.
        return _WS_RUN.sub(" ", "".join(self._fb)).strip()


# The fast tokenizer's subset, one alternative per construct after a '<':
# a start tag (group 1 name, group 2 the '/' of <x/>), an end tag (3), a
# comment (4 its body) or a <!DOCTYPE ...> (5). Names are [a-zA-Z0-9] only
# and attributes are separated by [ \t\n\r\f] (where html.parser's tag name
# ends; not \s), plain or quoted; within that subset html.parser ends each
# construct at the same '>' and emits the same events. Any other '<' matches
# the empty tail (lastindex None): a bare '<', <![CDATA[, <?...>, other <!
# declarations, end tags with attributes, unterminated constructs. Those,
# and a comment whose body holds '--', send the document to html.parser.
_TAG = re.compile(r"""<(?:
    ([a-zA-Z][a-zA-Z0-9]*)
    (?:[ \t\n\r\f]+[^\s/>"'=<]+
       (?:[ \t\n\r\f]*=[ \t\n\r\f]*(?:"[^"]*"|'[^']*'|[^\s"'=<>`]+))?)*
    [ \t\n\r\f]*(/?)>
  | /\s*([a-zA-Z][a-zA-Z0-9]*)\s*>
  | !--(.*?)--\s*>
  | (![dD][oO][cC][tT][yY][pP][eE][^>]*)>
)?""", re.VERBOSE | re.DOTALL)
# html.parser's own raw-text close rule for <script>/<style> (set_cdata_mode)
_RAW_CLOSE = {tag: re.compile(r"</\s*%s\s*>" % tag, re.I)
              for tag in HTMLParser.CDATA_CONTENT_ELEMENTS}


def _fast_main_content(html: str) -> str | None:
    """The fast strategy: one ``_TAG.search`` loop drives ``_MainContent``'s
    handlers with the events html.parser would emit — tag names lowercased,
    ``attrs`` empty (no handler reads them), text between constructs
    unescaped. None when ``html`` leaves the subset (the caller then runs
    ``_parser_main_content`` on a fresh parser: this pass already changed
    handler state)."""
    parser = _MainContent()
    start_tag = parser.handle_starttag
    end_tag = parser.handle_endtag
    data = parser.handle_data
    search = _TAG.search
    pos = 0
    try:
        while (m := search(html, pos)) is not None:
            at = m.start()
            if at > pos:
                text = html[pos:at]
                data(_unescape(text) if "&" in text else text)
            pos = m.end()
            kind = m.lastindex
            if kind == 2:
                tag = m.group(1).lower()
                start_tag(tag, [])
                if m.group(2):
                    end_tag(tag)  # <x/>: handle_startendtag's two events
                elif tag in _RAW_CLOSE:
                    close = _RAW_CLOSE[tag].search(html, pos)
                    if close is None:
                        return None
                    if close.start() > pos:
                        data(html[pos:close.start()])  # raw, not unescaped
                    end_tag(tag)
                    pos = close.end()
            elif kind == 3:
                end_tag(m.group(3).lower())
            elif kind is None or (kind == 4 and "--" in m.group(4)):
                return None
            # otherwise a comment or <!DOCTYPE>: no handler reads either
        if pos < len(html):
            text = html[pos:]
            data(_unescape(text) if "&" in text else text)
        return parser.finish()
    except Exception:
        # a handler error: html.parser meets the same event and contains it
        return None


def _parser_main_content(html: str) -> str:
    """The html.parser strategy: the fallback for input outside the fast
    subset, and the reference the fast strategy is tested against."""
    parser = _MainContent()
    try:
        parser.feed(html)
        parser.close()
        return parser.finish()
    except Exception:
        # tag soup beyond the parser: never drop the document — strip every
        # tag and return the visible text
        return _WS_RUN.sub(
            " ", _unescape(re.sub(r"<[^>]*>", " ", html))).strip()


def html_main_content(html: str) -> str:
    """HTML document/fragment → main-content text in the markdown shape the
    chunker consumes (headings as ``#``-runs, list items as ``- ``,
    ``pre`` verbatim). Boilerplate containers and high-link-density short
    blocks are dropped; optional/omitted close tags are implied."""
    html = html or ""
    out = _fast_main_content(html)
    return _parser_main_content(html) if out is None else out
