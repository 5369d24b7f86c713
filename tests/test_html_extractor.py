"""HTML main-content extraction tests: boilerplate strip, link-density
heuristic, markdown mapping, builder roundtrip, pipeline e2e, and the
equality of the two tokenizers (the compiled tag regex and its html.parser
fallback)."""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from fast_pdf_parser_spark.sources.html_extractor import (
    _WS_RUN,
    _collapse_ws,
    _fast_main_content,
    _parser_main_content,
    html_main_content,
)
from fast_pdf_parser_spark.sources.synth import (
    SPANS_DDL,
    html_from_page,
    iter_docs,
    make_doc,
    page_text,
)


def test_boilerplate_containers_dropped():
    html = (
        "<html><head><style>p{}</style><script>x<y</script></head><body>"
        "<header><h1>Site</h1></header>"
        "<nav><ul><li><a href='/a'>A</a></li></ul></nav>"
        "<p>Real content paragraph that should survive extraction.</p>"
        "<aside><p>ad ad ad</p></aside>"
        "<footer><p>contact</p></footer></body></html>"
    )
    assert html_main_content(html) == \
        "Real content paragraph that should survive extraction."


def test_link_density_heuristic():
    farm = "<p>" + " ".join(
        f"<a href='/t{i}'>tag{i}</a>" for i in range(10)) + "</p>"
    real = ("<p>This paragraph has a single <a href='/x'>inline link</a> "
            "inside a lot of ordinary prose, so its link density is low "
            "and it must be kept by the extractor as main content.</p>")
    out = html_main_content(farm + real)
    assert "tag3" not in out
    assert "inline link" in out and out.count("\n") == 0


def test_markdown_mapping_and_entities():
    html = ("<h1>Top &amp; Title</h1><h2>Sec</h2><h3>Sub</h3>"
            "<li>item &lt;one&gt;</li><pre>  code()  </pre>"
            "<p>body   text\nwrapped</p>")
    assert html_main_content(html).split("\n") == [
        "# Top & Title", "## Sec", "### Sub", "- item <one>",
        "  code()  ", "body text wrapped",
    ]


def test_nested_containers_unwound():
    html = ("<footer><nav><a href='/'>x</a></nav><p>legal</p></footer>"
            "<p>kept</p>")
    assert html_main_content(html) == "kept"


def test_builder_roundtrip_exact():
    # html_from_page wraps a synthetic page; extraction must return exactly
    # the page's non-blank lines — the golden contract the pipeline relies on
    for doc_idx in (0, 3, 7):
        md = page_text(doc_idx, 0)
        expected = "\n".join(l for l in md.split("\n") if l.strip())
        got = html_main_content(html_from_page(doc_idx, 0))
        assert got == expected


def test_pipeline_html_spans_e2e(spark):
    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
    from fast_pdf_parser_spark.operators.pipeline import (
        extract_documents,
        process_document,
    )

    docs = [make_doc(i, seed=11, include_html=True) for i in range(25)]
    html_docs = [d for d in docs
                 if any(s["kind"] == "html" for s in d["spans"])]
    assert html_docs, "corpus must actually contain html spans"
    df = spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL)
    result = extract_documents(df)
    got = {}
    for row in result.collect():
        got.setdefault(row.doc_id, []).append(
            (row.offset, row.kind, row.text, row.media_ref))
    tok = get_tokenizer()
    for d in docs:
        expected = [
            (r[1], r[2], r[3], r[4])
            for r in process_document(d["doc_id"], d["spans"], tok,
                                      ChunkOptions())
        ]
        assert sorted(got.get(d["doc_id"], [])) == expected, d["doc_id"]
    # html pages count as pages; none fail
    metas = {r.doc_id: r for r in result.select(
        "doc_id", "doc_total_pages", "doc_parse_failures").distinct().collect()}
    for d in html_docs:
        n_pages = sum(1 for s in d["spans"] if s["kind"] in ("text", "html"))
        assert metas[d["doc_id"]].doc_total_pages == n_pages
        assert metas[d["doc_id"]].doc_parse_failures == 0


def test_html_and_text_page_chunk_identically_modulo_blanks():
    # an html page and its source text page produce the same chunk TEXT
    # stream except for the blank separator lines (absent in HTML, exactly
    # like the PDF path) — pins that the heading-break rule still segments
    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
    from fast_pdf_parser_spark.operators.pipeline import process_document

    tok = get_tokenizer()
    spans_html = [{"kind": "html", "text": html_from_page(2, 0),
                   "media_ref": None, "offset": 0}]
    rows = process_document("d", spans_html, tok, ChunkOptions())
    text_all = "".join(r[3] for r in rows if r[2] == "chunk")
    md_nonblank = "\n".join(
        l for l in page_text(2, 0).split("\n") if l.strip())
    # chunker joins lines back with '\n' inside units; content preserved
    assert text_all.replace("\n", " ") .split() == \
        md_nonblank.replace("\n", " ").split()


def test_iter_docs_default_unchanged():
    # include_html must not perturb default corpora (fixture stability)
    a = [make_doc(i, seed=42) for i in range(8)]
    b = list(iter_docs(8, seed=42))
    assert a == b
    assert all(s["kind"] in ("text", "media") for d in a for s in d["spans"])


def test_div_soup_fallback_never_drops_document():
    # pages built from divs (no p/h/li/pre) must still extract their text
    html = ("<html><body><nav><a href='/'>menu</a></nav>"
            "<div>First part of the content.</div>"
            "<div>Second <b>part</b> here.</div></body></html>")
    assert html_main_content(html) == \
        "First part of the content. Second part here."
    # bare text fragment, no tags at all
    assert html_main_content("just plain text") == "just plain text"
    # empty / None-ish input stays empty
    assert html_main_content("") == ""
    assert html_main_content("<html><body></body></html>") == ""


def test_all_boilerplate_page_stays_empty():
    # a page whose only blocks are link farms must NOT resurrect them via
    # the fallback; head/title text is metadata, never content
    html = ("<html><head><title>T</title></head><body>"
            "<p><a href='/x'>click</a> <a href='/y'>here</a></p>"
            "</body></html>")
    assert html_main_content(html) == ""


def test_fuzz_never_raises_no_tags_leak():
    """Arbitrary tag soup: html_main_content never raises and block-mode
    output lines never contain raw tags."""
    import random

    rnd = random.Random(77)
    frags = ["<p>", "</p>", "<div>", "</div>", "<nav>", "</nav>", "<h2>",
             "</h2>", "<li>", "</li>", "<pre>", "</pre>", "<a href='/x'>",
             "</a>", "<script>", "</script>", "word", "two words", "&amp;",
             "&", "<", ">", "<!--", "-->", "\n", "  ", "<h9>", "<<>>",
             "<p class='x y\" z'>", "\x00", "é€"]
    for _ in range(300):
        soup = "".join(rnd.choice(frags) for _ in range(rnd.randint(0, 40)))
        out = html_main_content(soup)
        assert isinstance(out, str)
        assert out == _parser_main_content(soup), soup
    # well-formed block docs never leak markup
    for i in range(10):
        out = html_main_content(html_from_page(i, 0))
        assert "<" not in out and ">" not in out


def test_unclosed_p_and_li_are_implied_closed():
    # </p> and </li> are OPTIONAL in valid HTML and pervasively omitted on
    # real pages; the round-2 regex parser silently dropped such blocks.
    html = ("<ul><li>first item<li>second item<li>third item</ul>"
            "<p>para one<p>para two"
            "<h2>heading after unclosed p</h2>"
            "<p>tail para")
    assert html_main_content(html).split("\n") == [
        "- first item", "- second item", "- third item",
        "para one", "para two",
        "## heading after unclosed p",
        "tail para",
    ]


def test_mixed_closed_and_unclosed_blocks_keep_all():
    # a page with SOME closed blocks must not lose the unclosed ones
    html = ("<p>closed block</p>"
            "<ul><li>unclosed item</ul>"
            "<p>unclosed para"
            "<div><p>implied close by parent</div>"
            "<p>eof-unclosed")
    assert html_main_content(html).split("\n") == [
        "closed block", "- unclosed item", "unclosed para",
        "implied close by parent", "eof-unclosed",
    ]
    # <p> inside an open <li> nests per the spec (li holds flow content):
    # its text joins the item, once
    assert html_main_content("<li>item<p>detail") == "- item detail"


def test_nested_blocks_emit_once():
    # <li><p>..</p></li> must not double-emit (the regex matched both)
    html = "<ul><li><p>one</p></li><li>plain <p>two</p> tail</li></ul>"
    assert html_main_content(html).split("\n") == [
        "- one", "- plain two tail",
    ]
    # nested list items merge into their parent item, never duplicate
    nested = "<ul><li>outer<ul><li>inner</li></ul></li></ul>"
    assert html_main_content(nested) == "- outer inner"


def test_unclosed_boilerplate_and_head_body_boundary():
    # an unclosed <head> ends at <body>; content after it must survive
    html = ("<html><head><title>T</title><body>"
            "<p>kept after unclosed head</p></body></html>")
    assert html_main_content(html) == "kept after unclosed head"
    # link density still applies to implied-closed blocks
    farm = ("<li><a href='/a'>aa</a> <a href='/b'>bb</a>"
            "<li>real list item with enough plain prose to keep")
    assert html_main_content(farm) == \
        "- real list item with enough plain prose to keep"


def test_br_and_img_are_word_boundaries():
    # a line break / replaced image renders as separation — the words
    # around it must not concatenate
    assert html_main_content("<p>one<br>two</p>") == "one two"
    assert html_main_content("<p>txt<img src='x.png'>more</p>") == "txt more"
    # other inline markup still joins seamlessly
    assert html_main_content("<p>a<b>c</b></p>") == "ac"


def test_stray_end_tags_and_heading_implied_close():
    # stray close tags are ignored; a block opening inside a heading
    # implies the heading's close (headings hold phrasing content only)
    assert html_main_content("</p></li><p>ok</p></div>") == "ok"
    assert html_main_content("<h1>title<p>body").split("\n") == [
        "# title", "body"]


def test_html_line_three_way_twin_equality(spark):
    """Python html_line == the Spark Column CASE == the DuckDB CASE on
    every branch, including the tricky ones (whitespace-only line, empty
    line, marker-only lines)."""
    import duckdb

    from fast_pdf_parser_spark.operators.relational import (
        _html_line_case_duck,
    )
    from fast_pdf_parser_spark.sources.synth import html_line

    lines = ["# h", "## hh", "### hhh", "#### not-a-marker", "- item",
             "  code", "   three spaces", "", "plain text", "-dash",
             "# ", "- ", "  "]
    py = [html_line(l) for l in lines]

    con = duckdb.connect()
    duck = [con.execute(
        f"SELECT {_html_line_case_duck()} FROM (SELECT ? AS line)", [l]
    ).fetchone()[0] for l in lines]
    assert py == duck

    # the Spark Column twin lives inside _pipeline_html_meta; evaluate the
    # same CASE via the SQL dialect it compiles to
    import __spark_entry__ as e

    df = spark.createDataFrame([(l,) for l in lines], schema="line string")
    df.createOrReplaceTempView("lines_twin")
    spark_case = _html_line_case_duck().replace("substr(", "substring(")
    got = [r[0] for r in spark.sql(
        f"SELECT {spark_case} FROM lines_twin").collect()]
    assert sorted(got) == sorted(py)
    _ = e


def test_empty_output_doc_keeps_meta_row():
    """A doc whose every span fails (or yields nothing) must still emit its
    meta counters — one kind='meta' row (error-containment contract)."""
    import base64

    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.functions.tokenizer import get_tokenizer
    from fast_pdf_parser_spark.operators.pipeline import process_document
    from fast_pdf_parser_spark.sources.pdf_builder import build_pdf

    corrupt = base64.b64encode(
        build_pdf("some text", seed_key="c", corrupt=True)).decode()
    spans = [{"kind": "pdf", "text": corrupt, "media_ref": None, "offset": 0}]
    rows = process_document("lost", spans, get_tokenizer(), ChunkOptions())
    assert len(rows) == 1
    r = rows[0]
    assert r[2] == "meta" and r[1] == 0
    assert r[-3] == 1  # doc_parse_failures surfaced
    assert r[-1] and "page 0" in r[-1]  # doc_error surfaced
    # a truly empty span list still yields nothing (no doc, no meta)
    assert process_document("none", [], get_tokenizer(), ChunkOptions()) == []


def test_unclosed_drop_container_cleared_at_body_end():
    """ADVICE r3: an unclosed <nav> must not discard the rest of the
    document — </body>/</html> imply every open element's close."""
    html = ("<body><nav>menu menu menu"  # <nav> never closed
            "</body><p>after body soup</p>")
    assert html_main_content(html) == "after body soup"
    # same via </html>
    html2 = "<body><aside>junk</html><p>tail</p>"
    assert html_main_content(html2) == "tail"
    # no-blocks page: fallback text after the implied close still surfaces
    html3 = "<body><nav>menu</body>plain tail words"
    assert html_main_content(html3) == "plain tail words"


def test_nested_anchor_depth_unwinds_one_level_per_close():
    """ADVICE r3: the first </a> of a (malformed) nested <a> pair must not
    zero the depth — text inside the still-open outer anchor counts as
    linked, so a short link-farm row is still dropped."""
    # 34 linked chars of 39 total (87% > 0.5, len < 200) → dropped
    farm = ("<li><a href='/x'>outer start <a href='/y'>inner</a>"
            " outer end tail</a> x</li>")
    assert html_main_content(farm) == ""
    # the same shape with enough unlinked prose survives
    keep = ("<li><a href='/x'>start <a href='/y'>in</a> end</a> " +
            "plain " * 40 + "</li>")
    out = html_main_content(keep)
    assert out.startswith("- start in end plain")


def test_drop_container_implies_block_close():
    """ADVICE r3: <nav> opening inside an open <p> closes the paragraph —
    pre- and post-nav text are separate blocks, not one merged block."""
    html = "<p>before menu<nav>drop me</nav><p>after menu"
    assert html_main_content(html).split("\n") == [
        "before menu", "after menu"]
    # script/style are phrasing content: they do NOT close an open <p>
    html2 = "<p>one<script>var x=1;</script> two</p>"
    assert html_main_content(html2) == "one two"


# -- the fast tokenizer against its html.parser reference -------------------

_TAG_NAMES = st.sampled_from(
    ["p", "li", "ul", "h2", "pre", "div", "a", "nav", "main", "br", "img",
     "P", "LI", "Div", "H1", "A"])
_ATTRS = st.sampled_from(
    ["href", "class", "data-x", "hidden", "href=x", "href=/x/", "title=a>b",
     "title='a>b'", 'title="a>b"', "href = 'q'", "alt=\"it's\""])
_WS = st.sampled_from([" ", "  ", "\n", "\t"])
_START = st.builds(
    lambda name, attrs, close: "<" + name + "".join(
        sep + a for sep, a in attrs) + close,
    _TAG_NAMES, st.lists(st.tuples(_WS, _ATTRS), max_size=3),
    st.sampled_from([">", " >", "/>", " />"]))
_END = st.builds(lambda name, ws: "</" + name + ws + ">",
                 _TAG_NAMES, st.sampled_from(["", " ", "\n"]))
_RAW = st.builds(
    lambda tag, body, lead, upper, trail: (
        f"<{tag}>{body}</{lead}{tag.upper() if upper else tag}{trail}>"),
    st.sampled_from(["script", "style"]),
    st.sampled_from(["", "var a = 1 < 2;", "</p><p>x", "if (a&&b) {}"]),
    st.sampled_from(["", " "]), st.booleans(), st.sampled_from(["", " "]))
_TEXT = st.sampled_from(
    ["word", "two words", " ", "\n", "&amp;", "&nbsp", "&nbsp;x", "&#65;",
     "a & b", "x > y", "\u00e9\u20ac", "&lt;tag&gt;"])
_MISC = st.sampled_from(
    ["<!-- note -->", "<!---->", "<!-- a - b --\n>", "<!DOCTYPE html>",
     "<!doctype html>"])
_MARKUP = st.lists(st.one_of(_START, _END, _RAW, _TEXT, _MISC),
                   max_size=30).map("".join)


@settings(max_examples=300, deadline=None)
@given(html=_MARKUP)
def test_fast_strategy_equals_parser_on_generated_markup(html):
    # everything the generator emits is inside the fast subset: the fast
    # strategy engages and its output is the html.parser path's, exactly
    assert _fast_main_content(html) == _parser_main_content(html)


def test_fast_strategy_engages_on_every_synth_page():
    pages = [s["text"] for i in range(40)
             for s in make_doc(i, seed=11, include_html=True)["spans"]
             if s["kind"] == "html"]
    assert len(pages) > 100
    for html in pages:
        fast = _fast_main_content(html)
        assert fast is not None
        assert fast == html_main_content(html) == _parser_main_content(html)


@pytest.mark.parametrize("html, handled", [
    # outside the subset: the fast strategy reports "not handled"
    ("<p>a < b</p>", False),                          # bare '<' in text
    ("<p>x</p><", False),                             # bare '<' at EOF
    ("<p>a<![CDATA[x<y]]>b</p>", False),              # CDATA section
    ("<?xml version='1.0'?><p>t</p>", False),         # processing instr.
    ("<!ENTITY e 'x'><p>t</p>", False),               # other <! decl.
    ("<p>a<!x>b</p>", False),                         # bogus comment
    ("<my-tag>x</my-tag><p>t</p>", False),            # '-' in a tag name
    ("<p>x</p:q>", False),                            # ':' in an end tag
    ("<p>x</p class='y'>", False),                    # end tag attributes
    ("<p>text<a href='x'", False),                    # unterminated tag
    ("<p>text<!-- open", False),                      # unterminated comment
    ("<p>t</p><script>var a = 1;", False),            # unterminated script
    ("<p>t</p><style>a{}</style", False),             # unterminated style
    ("<p>a<!-- x -- y -->b</p>", False),              # '--' in a comment
    # inside the subset, at its edges
    ("<script>a</ script>b</script>", True),          # stdlib close rule
    ("<p>a<style>x</STYLE >b</p>", True),
    ("<!DOCTYPE html><P>x<BR/>y</P >", True),
    ("<p title='a>b' data-x=y>t</p>", True),
    ("<p>a &amp; b &nbsp c &#65;</p>", True),
])
def test_fast_strategy_fallback_boundary(html, handled):
    reference = _parser_main_content(html)
    assert _fast_main_content(html) == (reference if handled else None)
    assert html_main_content(html) == reference


@settings(max_examples=200, deadline=None)
@given(text=st.text(alphabet=" \t\r\n\x0b\x0c\xa0ab", max_size=12))
def test_collapse_ws_equals_the_regex(text):
    # both tokenizers share the handlers, so this shortcut is pinned
    # against the regex it skips, not against the html.parser path
    assert _collapse_ws(text) == _WS_RUN.sub(" ", text)
