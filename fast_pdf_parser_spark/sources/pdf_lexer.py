"""From-scratch PDF text extraction for the fixture-defined subset.

The Spark-native replacement for the reference's MuPDF stext path
(src/text_extractor.cpp:27-77, flags FZ_STEXT_PRESERVE_LIGATURES |
FZ_STEXT_PRESERVE_WHITESPACE at :57-59): runs as pure Python inside the
vectorized extraction UDF (operators/pipeline.py), one call per ``kind='pdf'``
span. Any failure raises — the pipeline converts it into the per-page error
row semantics of src/text_extractor.cpp:108-114 (job never fails).

Supported subset (closed — fixtures are generated by sources/pdf_builder.py):

- classic cross-reference table + trailer (``startxref`` → ``xref`` →
  ``trailer``), AND PDF 1.5 cross-reference STREAMS (/Type /XRef, /W field
  widths, /Index subsections) with object streams (/Type /ObjStm — the
  north-star "object stream decode"),
- indirect objects, dictionaries, arrays, names, numbers, literal strings
  (with ``\\``-escapes and octal) and hex strings,
- content streams, optionally FlateDecode (zlib) compressed,
- text operators: BT/ET, Tf, Tm, Td, TD, Tj, TJ (kerning numbers),
  everything else ignored,
- glyph→Unicode via /ToUnicode CMap (bfchar + bfrange) or latin-1
  (WinAnsi-subset) fallback,
- layout reconstruction: baseline y-clustering into lines (tolerance 2pt),
  reading-order sort (top→bottom, left→right), word segmentation from
  x-gaps under the fixed-advance model (width = 0.5*font_size per byte,
  the builder's geometry convention).

Blank lines of the original source do not exist as PDF text and are
therefore absent from the extraction — exactly like the reference's MuPDF
output, where the chunker's heading-break rule (not blank lines) provides
unit boundaries for PDF input.
"""

from __future__ import annotations

import re
import zlib


class PdfError(ValueError):
    pass


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Tokenizer for PDF object syntax."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def next_token(self):
        """Returns one of: (\"name\", str) (\"num\", float|int) (\"str\", bytes)
        (\"kw\", str) (\"dict_open\"/\"dict_close\"/\"arr_open\"/\"arr_close\", None)
        or None at EOF."""
        self._skip_ws()
        d = self.data
        n = len(d)
        if self.pos >= n:
            return None
        c = d[self.pos]
        if c == 0x2F:  # /Name
            start = self.pos + 1
            self.pos = start
            while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
                self.pos += 1
            return ("name", d[start : self.pos].decode("latin-1"))
        if d.startswith(b"<<", self.pos):
            self.pos += 2
            return ("dict_open", None)
        if d.startswith(b">>", self.pos):
            self.pos += 2
            return ("dict_close", None)
        if c == 0x5B:
            self.pos += 1
            return ("arr_open", None)
        if c == 0x5D:
            self.pos += 1
            return ("arr_close", None)
        if c == 0x28:  # ( literal string
            return ("str", self._literal_string())
        if c == 0x3C:  # < hex string
            return ("str", self._hex_string())
        if c in b"+-.0123456789":
            start = self.pos
            self.pos += 1
            while self.pos < n and d[self.pos] in b"+-.0123456789":
                self.pos += 1
            tok = d[start : self.pos]
            num = float(tok) if b"." in tok else int(tok)
            return ("num", num)
        # keyword (obj, endobj, stream, R, Tj, BT, ...)
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise PdfError(f"lex error at byte {self.pos}")
        return ("kw", d[start : self.pos].decode("latin-1"))

    def _literal_string(self) -> bytes:
        d = self.data
        n = len(d)
        self.pos += 1  # past '('
        depth = 1
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                mapped = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                          0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
                if e in mapped:
                    out.append(mapped[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray()
                    while (self.pos < n and len(oct_digits) < 3
                           and 0x30 <= d[self.pos] <= 0x37):
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits.decode(), 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
            out.append(c)
            self.pos += 1
        raise PdfError("unterminated literal string")

    def _hex_string(self) -> bytes:
        d = self.data
        end = d.find(b">", self.pos)
        if end == -1:
            raise PdfError("unterminated hex string")
        hexdata = re.sub(rb"\s", b"", d[self.pos + 1 : end])
        if len(hexdata) % 2:
            hexdata += b"0"
        self.pos = end + 1
        return bytes.fromhex(hexdata.decode("ascii"))

    def parse_object(self, tok=None):
        """Parse a full object (dict/array/number/name/string/ref/keyword)."""
        if tok is None:
            tok = self.next_token()
        if tok is None:
            raise PdfError("unexpected EOF")
        kind, val = tok
        if kind == "dict_open":
            d: dict = {}
            while True:
                t = self.next_token()
                if t is None:
                    raise PdfError("unterminated dict")
                if t[0] == "dict_close":
                    return d
                if t[0] != "name":
                    raise PdfError(f"dict key not a name: {t}")
                d[t[1]] = self.parse_object()
        if kind == "arr_open":
            arr = []
            while True:
                t = self.next_token()
                if t is None:
                    raise PdfError("unterminated array")
                if t[0] == "arr_close":
                    return arr
                arr.append(self.parse_object(t))
        if kind == "num":
            # possible indirect reference: "N G R"
            save = self.pos
            t2 = self.next_token()
            if t2 and t2[0] == "num":
                t3 = self.next_token()
                if t3 == ("kw", "R"):
                    return Ref(int(val))
            self.pos = save
            return val
        if kind in ("name", "str"):
            return val
        if kind == "kw":
            if val == "true":
                return True
            if val == "false":
                return False
            if val == "null":
                return None
            return Keyword(val)
        raise PdfError(f"unexpected token {tok}")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


class Keyword(str):
    pass


class PdfDocument:
    """Parsed single PDF: xref walk + object access (lazy)."""

    def __init__(self, data: bytes):
        self.data = data
        if not data.startswith(b"%PDF-"):
            raise PdfError("not a PDF (missing %PDF- header)")
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self.offsets = self._parse_xref()

    # -- xref / trailer walk ---------------------------------------------

    def _parse_xref(self):
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("startxref not found")
        xref_pos = int(m.group(1))
        if not self.data.startswith(b"xref", xref_pos):
            # PDF 1.5+: a cross-reference STREAM lives here instead
            return self._parse_xref_stream(xref_pos)
        lx = _Lexer(self.data, xref_pos + 4)
        offsets: dict[int, int] = {}
        while True:
            lx._skip_ws()
            if self.data.startswith(b"trailer", lx.pos):
                lx.pos += len(b"trailer")
                self.trailer = lx.parse_object()
                if not isinstance(self.trailer, dict):
                    raise PdfError("bad trailer")
                return offsets
            first = lx.next_token()
            count = lx.next_token()
            if not (first and count and first[0] == "num" and count[0] == "num"):
                raise PdfError("bad xref subsection header")
            lx._skip_ws()
            for i in range(int(count[1])):
                entry = self.data[lx.pos : lx.pos + 20]
                if len(entry) < 18:
                    raise PdfError("truncated xref entry")
                off, _gen, typ = entry[:10], entry[11:16], entry[17:18]
                if typ == b"n":
                    offsets[int(first[1]) + i] = int(off)
                lx.pos += 20

    def _parse_xref_stream(self, xref_pos: int) -> dict:
        """PDF 1.5 cross-reference stream (/Type /XRef): binary entries of
        /W-sized fields; type-1 = byte offset, type-2 = (objstm, index) for
        objects living inside object streams. The stream dict doubles as the
        trailer (/Root /Size)."""
        lx = _Lexer(self.data, xref_pos)
        t1, _t2, t3 = lx.next_token(), lx.next_token(), lx.next_token()
        if not (t1 and t1[0] == "num" and t3 == ("kw", "obj")):
            raise PdfError("xref stream: object header expected at startxref")
        sdict = lx.parse_object()
        if not isinstance(sdict, dict) or sdict.get("Type") != "XRef":
            raise PdfError("xref stream: /Type /XRef expected")
        lx._skip_ws()
        if not self.data.startswith(b"stream", lx.pos):
            raise PdfError("xref stream: stream data expected")
        raw = self._read_stream(sdict, lx)

        w = sdict.get("W")
        size = sdict.get("Size")
        if not (isinstance(w, list) and len(w) == 3 and isinstance(size, (int, float))):
            raise PdfError("xref stream: bad /W or /Size")
        w = [int(x) for x in w]
        index = sdict.get("Index") or [0, int(size)]
        width = sum(w)

        offsets: dict[int, object] = {}
        pos = 0
        pairs = [(int(index[i]), int(index[i + 1]))
                 for i in range(0, len(index), 2)]
        for first, count in pairs:
            for i in range(count):
                if pos + width > len(raw):
                    raise PdfError("xref stream: truncated entries")
                fields = []
                for fw in w:
                    fields.append(int.from_bytes(raw[pos : pos + fw], "big")
                                  if fw else 1)  # omitted type defaults to 1
                    pos += fw
                typ, f2, f3 = fields
                num = first + i
                if typ == 1:
                    offsets[num] = f2
                elif typ == 2:
                    offsets[num] = ("objstm", f2, f3)
                # type 0 = free: skip
        self.trailer = sdict
        return offsets

    # -- objects -----------------------------------------------------------

    def _objstm_objects(self, stm_num: int) -> dict[int, object]:
        """Parse an object stream (/Type /ObjStm): header of N (objnum,
        offset) pairs, then the concatenated objects."""
        cached = self._objstm_cache.get(stm_num)
        if cached is not None:
            return cached
        obj = self.get_object(stm_num)
        if not (isinstance(obj, tuple) and obj[0] == "stream"
                and obj[1].get("Type") == "ObjStm"):
            raise PdfError(f"object {stm_num} is not an ObjStm")
        sdict, data = obj[1], obj[2]
        n = int(self.resolve(sdict.get("N")))
        first = int(self.resolve(sdict.get("First")))
        hx = _Lexer(data[:first])
        pairs = []
        for _ in range(n):
            a, b = hx.next_token(), hx.next_token()
            if not (a and b and a[0] == "num" and b[0] == "num"):
                raise PdfError("ObjStm: bad header pair")
            pairs.append((int(a[1]), int(b[1])))
        out: dict[int, object] = {}
        for objnum, off in pairs:
            ox = _Lexer(data, first + off)
            out[objnum] = ox.parse_object()
        self._objstm_cache[stm_num] = out
        return out

    def resolve(self, obj):
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num)
        return obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.offsets.get(num)
        if off is None:
            raise PdfError(f"object {num} not in xref")
        if isinstance(off, tuple):  # ("objstm", stream_obj_num, index)
            objs = self._objstm_objects(off[1])
            if num not in objs:
                raise PdfError(f"object {num} not found in ObjStm {off[1]}")
            self._cache[num] = objs[num]
            return objs[num]
        lx = _Lexer(self.data, off)
        t1, t2, t3 = lx.next_token(), lx.next_token(), lx.next_token()
        if not (t1 and t1[0] == "num" and int(t1[1]) == num and t3 == ("kw", "obj")):
            raise PdfError(f"object header mismatch for {num}")
        obj = lx.parse_object()
        if isinstance(obj, dict):
            lx._skip_ws()
            if self.data.startswith(b"stream", lx.pos):
                obj = ("stream", obj, self._read_stream(obj, lx))
        self._cache[num] = obj
        return obj

    def _read_stream(self, sdict: dict, lx: _Lexer) -> bytes:
        pos = lx.pos + len(b"stream")
        if self.data.startswith(b"\r\n", pos):
            pos += 2
        elif self.data.startswith(b"\n", pos):
            pos += 1
        length = self.resolve(sdict.get("Length"))
        if not isinstance(length, (int, float)):
            raise PdfError("stream /Length missing")
        raw = self.data[pos : pos + int(length)]
        if len(raw) < int(length):
            raise PdfError("truncated stream")
        filt = self.resolve(sdict.get("Filter"))
        if filt == "FlateDecode" or (isinstance(filt, list) and "FlateDecode" in filt):
            try:
                raw = zlib.decompress(raw)
            except zlib.error as exc:
                raise PdfError(f"FlateDecode failed: {exc}") from exc
        elif filt not in (None,):
            raise PdfError(f"unsupported filter {filt}")
        return raw

    def stream_data(self, obj) -> bytes:
        obj = self.resolve(obj)
        if isinstance(obj, tuple) and obj[0] == "stream":
            return obj[2]
        raise PdfError("expected stream object")

    # -- page access --------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("no /Root catalog")
        out: list[dict] = []

        def walk(node):
            node = self.resolve(node)
            if not isinstance(node, dict):
                raise PdfError("bad page tree node")
            if node.get("Type") == "Pages" or "Kids" in node:
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid)
            else:
                out.append(node)

        walk(root.get("Pages"))
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, list):
            return b"\n".join(
                self.stream_data(c) for c in contents
            )
        return self.stream_data(page.get("Contents"))

    def page_fonts(self, page: dict) -> dict[str, dict]:
        res = self.resolve(page.get("Resources")) or {}
        fonts = self.resolve(res.get("Font")) or {}
        return {name: self.resolve(f) for name, f in fonts.items()}


# -- ToUnicode CMap ----------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)


def parse_tounicode(cmap: bytes) -> dict[int, str]:
    """code (single byte) → unicode str, from bfchar + bfrange sections."""
    mapping: dict[int, str] = {}
    for block in _BFRANGE_RE.findall(cmap):
        for lo, hi, start in _HEXTRIPLE_RE.findall(block):
            lo_i, hi_i, start_i = int(lo, 16), int(hi, 16), int(start, 16)
            for code in range(lo_i, hi_i + 1):
                mapping[code] = chr(start_i + (code - lo_i))
    for block in _BFCHAR_RE.findall(cmap):
        for code, uni in _HEXPAIR_RE.findall(block):
            u = int(uni, 16)
            mapping[int(code, 16)] = chr(u)
    return mapping


# -- content-stream interpretation -------------------------------------------

def _cmap_table(cmap: dict[int, str]) -> dict[int, str]:
    """str.translate table (C-speed) for a single-byte ToUnicode mapping."""
    return {code: uni for code, uni in cmap.items() if chr(code) != uni}


def _decode_string(raw: bytes, table: dict[int, str] | None) -> str:
    s = raw.decode("latin-1")
    return s.translate(table) if table else s


# One-pass scanner for content streams (hot path: ~100k tokens/page batch).
# Literal strings use a non-nesting fast pattern; nested parens (legal PDF,
# absent from the fixture subset) match ``badstr`` and raise PdfError.
_CS_TOKEN = re.compile(
    rb"(?P<str>\((?:\\.|[^\\()])*\))"
    rb"|(?P<hex><[0-9A-Fa-f\s]*>)"
    rb"|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<arr>\[|\])"
    rb"|(?P<kw>[A-Za-z'\"*]+)"
    rb"|(?P<junk>%[^\r\n]*|<<|>>)"
    rb"|(?P<badstr>\()",  # a '(' the str group could not match = nested
    re.S,
)

_STR_ESCAPES = re.compile(rb"\\(?:[0-7]{1,3}|\r\n|.)", re.S)
_ESC_MAP = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\x08",
            0x66: b"\x0c"}


def _unescape_literal(body: bytes) -> bytes:
    """Unescape a (non-nested) literal string body."""
    if b"\\" not in body:
        return body

    def sub(m: re.Match) -> bytes:
        e = m.group(0)[1:]
        if e[:1].isdigit() and all(0x30 <= c <= 0x37 for c in e):
            return bytes([int(e, 8) & 0xFF])
        if e in (b"\n", b"\r", b"\r\n"):
            return b""
        return _ESC_MAP.get(e[0], e)

    return _STR_ESCAPES.sub(sub, body)


_CHAR_ADV_FACTOR = 0.5  # builder geometry: advance = 0.5 * font_size / byte
_Y_TOLERANCE = 2.0


# Operation-level fast scanner: one regex match per complete text OPERATION
# (vs one per token in _CS_TOKEN — operations average ~4-8 tokens, so the
# Python dispatch loop runs ~5x less often). Only the closed set of shapes
# the fixture subset uses is recognized; any content byte not consumed by a
# recognized op (unknown operators, hex-string shows, 8-operand Tm, nested
# parens...) makes the scan return None and the exact token-at-a-time
# interpreter below takes over — so this is purely an execution strategy,
# never a semantics change (equality is asserted per-page by
# tests/test_pdf_lexer.py::test_fast_scanner_equals_generic).
_NUM_B = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
# unrolled-loop literal: same language as \((?:[^()\\]|\\.)*\) but the
# engine consumes plain-text runs with one character-class scan instead of
# a per-character alternation — measurably faster on string-heavy streams
_LIT_B = rb"\([^()\\]*(?:\\.[^()\\]*)*\)"
# The two dominant op pairs in real streams — a text-matrix or text-move
# immediately followed by a show — are FUSED into single alternatives
# (first, so they win at their position): one regex step then handles what
# would otherwise be two matches plus an extra inter-op gap check, roughly
# halving scanner overhead on show-heavy pages. The standalone alternatives
# remain for every unpaired occurrence; semantics are identical.
_FAST_OP = re.compile(
    rb"" + _NUM_B + rb"\s+" + _NUM_B + rb"\s+" + _NUM_B + rb"\s+"
    + _NUM_B + rb"\s+(?P<fme>" + _NUM_B + rb")\s+(?P<fmf>" + _NUM_B
    + rb")\s+Tm\s*(?P<ftj>" + _LIT_B + rb")\s*Tj"
    rb"|(?P<fdx>" + _NUM_B + rb")\s+(?P<fdy>" + _NUM_B
    + rb")\s+T[dD]\s*(?P<fdj>" + _LIT_B + rb")\s*Tj"
    rb"|(?P<tj>" + _LIT_B + rb")\s*Tj"
    rb"|(?P<arr>\[(?:\s*(?:" + _LIT_B + rb"|" + _NUM_B + rb"))*\s*\])\s*TJ"
    rb"|" + _NUM_B + rb"\s+" + _NUM_B + rb"\s+" + _NUM_B + rb"\s+"
    + _NUM_B + rb"\s+(?P<tme>" + _NUM_B + rb")\s+(?P<tmf>" + _NUM_B
    + rb")\s+Tm"
    rb"|(?P<tdx>" + _NUM_B + rb")\s+(?P<tdy>" + _NUM_B + rb")\s+T[dD]"
    rb"|/(?P<tfn>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)\s+(?P<tfs>" + _NUM_B
    + rb")\s+Tf"
    rb"|(?P<bt>BT|ET)\b",
    re.S,
)
_TJ_EL = re.compile(_LIT_B + rb"|" + _NUM_B, re.S)

# integer group indices for the dispatch below: m.lastindex is one C-level
# attribute read, where m.lastgroup pays a reverse groupindex lookup per
# match and the branch tests pay string compares; group(int) skips the
# name->index dict hop of group(str)
_GI = _FAST_OP.groupindex
_I_FME, _I_FMF, _I_FTJ = _GI["fme"], _GI["fmf"], _GI["ftj"]
_I_FDX, _I_FDY, _I_FDJ = _GI["fdx"], _GI["fdy"], _GI["fdj"]
_I_TJ, _I_ARR = _GI["tj"], _GI["arr"]
_I_TME, _I_TMF = _GI["tme"], _GI["tmf"]
_I_TDX, _I_TDY = _GI["tdx"], _GI["tdy"]
_I_TFN, _I_TFS = _GI["tfn"], _GI["tfs"]
_I_BT = _GI["bt"]


def _fast_text_items(content: bytes, tables: dict):
    """Fast interpretation of a fixture-shaped content stream; None when any
    non-whitespace byte is not part of a recognized operation (caller falls
    back to the generic interpreter)."""
    items: list[tuple[float, float, str, float]] = []
    append = items.append
    font_size = 12.0
    cur_table: dict[int, str] | None = None
    lm_x = lm_y = cur_x = cur_y = 0.0
    unit = _CHAR_ADV_FACTOR * font_size
    pos = 0
    for m in _FAST_OP.finditer(content):
        start = m.start()
        if start != pos:
            # inter-op gap must be pure whitespace; it is almost always a
            # single newline — test that byte directly before paying for
            # the slice + translate general case
            if start - pos == 1:
                if content[pos] not in _WS:
                    return None
            elif content[pos:start].translate(None, _WS):
                return None
        pos = m.end()
        lg = m.lastindex
        if lg == _I_FTJ:  # fused Tm + Tj (the dominant show shape)
            fme, fmf, ftj = m.group(_I_FME, _I_FMF, _I_FTJ)
            lm_x = float(fme)
            lm_y = float(fmf)
            raw = _unescape_literal(ftj[1:-1])
            append((lm_x, lm_y, _decode_string(raw, cur_table), font_size))
            cur_x = lm_x + len(raw) * unit
            cur_y = lm_y
        elif lg == _I_FDJ:  # fused Td/TD + Tj
            fdx, fdy, fdj = m.group(_I_FDX, _I_FDY, _I_FDJ)
            lm_x += float(fdx)
            lm_y += float(fdy)
            raw = _unescape_literal(fdj[1:-1])
            append((lm_x, lm_y, _decode_string(raw, cur_table), font_size))
            cur_x = lm_x + len(raw) * unit
            cur_y = lm_y
        elif lg == _I_TJ:
            raw = _unescape_literal(m.group(_I_TJ)[1:-1])
            append((cur_x, cur_y, _decode_string(raw, cur_table), font_size))
            cur_x += len(raw) * unit
        elif lg == _I_ARR:
            for el in _TJ_EL.finditer(m.group(_I_ARR)):
                s = el.group()
                if s[:1] == b"(":
                    raw = _unescape_literal(s[1:-1])
                    append((cur_x, cur_y, _decode_string(raw, cur_table),
                            font_size))
                    cur_x += len(raw) * unit
                else:
                    cur_x -= float(s) / 1000.0 * font_size
        elif lg == _I_TDY:
            lm_x += float(m.group(_I_TDX))
            lm_y += float(m.group(_I_TDY))
            cur_x, cur_y = lm_x, lm_y
        elif lg == _I_TMF:
            lm_x = float(m.group(_I_TME))
            lm_y = float(m.group(_I_TMF))
            cur_x, cur_y = lm_x, lm_y
        elif lg == _I_TFS:
            font_size = float(m.group(_I_TFS))
            unit = _CHAR_ADV_FACTOR * font_size
            cur_table = tables.get(m.group(_I_TFN).decode("latin-1"))
        elif m.group(_I_BT) == b"BT":
            lm_x = lm_y = cur_x = cur_y = 0.0
    if content[pos:].translate(None, _WS):
        return None
    return items


def extract_text_items(doc: PdfDocument, page: dict) -> list[tuple[float, float, str, float]]:
    """Interpret the content stream → [(x, y, text, font_size)] show items.

    Two strategies, same semantics: the operation-level fast scanner
    (_fast_text_items) when the stream is inside the recognized subset,
    else the single-pass token scan (one finditer over the stream) —
    itself already faster than a token-at-a-time lexer.
    """
    content = doc.page_content(page)
    fonts = doc.page_fonts(page)
    tables: dict[str, dict[int, str] | None] = {}
    for name, f in fonts.items():
        tu = f.get("ToUnicode") if isinstance(f, dict) else None
        tables[name] = (
            _cmap_table(parse_tounicode(doc.stream_data(tu)))
            if tu is not None else None
        )

    fast = _fast_text_items(content, tables)
    if fast is not None:
        return fast
    return _generic_text_items(content, tables)


def _generic_text_items(
    content: bytes, tables: dict
) -> list[tuple[float, float, str, float]]:
    """The generic single-pass token interpreter (the fallback strategy).

    Exposed as its own function so per-page equality of the two strategies
    is directly assertable (tests/test_pdf_lexer.py runs BOTH on the same
    stream and compares items)."""
    stack: list = []
    arrays: list[list] = []  # open TJ arrays (nesting depth stack)
    items: list[tuple[float, float, str, float]] = []

    font_size = 12.0
    cur_table: dict[int, str] | None = None
    lm_x = lm_y = 0.0  # line matrix origin
    cur_x = cur_y = 0.0  # current drawing point
    unit = _CHAR_ADV_FACTOR * font_size

    def push(v) -> None:
        (arrays[-1] if arrays else stack).append(v)

    for m in _CS_TOKEN.finditer(content):
        g = m.lastgroup
        if g == "num":
            push(float(m.group()))
        elif g == "str":
            push(_unescape_literal(m.group()[1:-1]))
        elif g == "badstr":
            # nested unescaped parens — legal PDF, outside the fixture
            # subset; refuse loudly rather than misparse silently
            raise PdfError("nested literal string (out of subset)")
        elif g == "hex":
            h = re.sub(rb"\s", b"", m.group()[1:-1])
            if len(h) % 2:
                h += b"0"
            push(bytes.fromhex(h.decode("ascii")))
        elif g == "name":
            push(m.group()[1:].decode("latin-1"))
        elif g == "arr":
            if m.group() == b"[":
                arrays.append([])
            elif arrays:
                arr = arrays.pop()
                push(arr)
        elif g == "kw":
            op = m.group()
            if op == b"Tj":
                if stack and isinstance(stack[-1], bytes):
                    raw = stack[-1]
                    items.append((cur_x, cur_y, _decode_string(raw, cur_table),
                                  font_size))
                    cur_x += len(raw) * unit
            elif op == b"TJ":
                if stack and isinstance(stack[-1], list):
                    for el in stack[-1]:
                        if isinstance(el, bytes):
                            items.append(
                                (cur_x, cur_y, _decode_string(el, cur_table),
                                 font_size))
                            cur_x += len(el) * unit
                        elif isinstance(el, float):
                            cur_x -= el / 1000.0 * font_size
            elif op in (b"Td", b"TD"):
                if len(stack) >= 2:
                    lm_x += stack[-2]
                    lm_y += stack[-1]
                    cur_x, cur_y = lm_x, lm_y
            elif op == b"Tm":
                if len(stack) >= 6:
                    lm_x, lm_y = stack[-2], stack[-1]
                    cur_x, cur_y = lm_x, lm_y
            elif op == b"Tf":
                if len(stack) >= 2:
                    font_size = float(stack[-1])
                    unit = _CHAR_ADV_FACTOR * font_size
                    cur_table = tables.get(stack[-2])
            elif op == b"BT":
                lm_x = lm_y = cur_x = cur_y = 0.0
            stack.clear()
            arrays.clear()
        # 'junk' (comments, dict markers) is skipped
    return items


def reconstruct_lines(items: list[tuple[float, float, str, float]]) -> str:
    """Baseline y-clustering + reading-order sort + x-gap word segmentation."""
    return "\n".join(reconstruct_line_list(items))


def reconstruct_line_list(
    items: list[tuple[float, float, str, float]]
) -> list[str]:
    """reconstruct_lines, one string per visual line (the join-free form:
    the chunker splits page text straight back into lines, so the pdf
    route hands the line list over directly — see pipeline/push_lines)."""
    if not items:
        return []
    # cluster by y within tolerance. sorted() with a tuple key is the
    # single hottest allocation on simple pages, and content streams
    # overwhelmingly emit show ops already in reading order (top-to-bottom,
    # left-to-right — the builder and real writers alike); detect that in
    # one pass and skip the sort. The comparison mirrors the sort key
    # (-y, x) exactly, so the fast path is order-identical.
    in_order = True
    py, px = items[0][1], items[0][0]
    for it in items:
        y, x = it[1], it[0]
        if y > py or (y == py and x < px):
            in_order = False
            break
        py, px = y, x
    items_sorted = items if in_order else \
        sorted(items, key=lambda it: (-it[1], it[0]))
    lines: list[list[tuple[float, float, str, float]]] = []
    for it in items_sorted:
        if lines and abs(lines[-1][0][1] - it[1]) <= _Y_TOLERANCE:
            lines[-1].append(it)
        else:
            lines.append([it])

    # page left margin = leftmost text start; leading indentation is
    # reconstructed relative to it (a line's own x carries no absolute
    # meaning — a page whose every line is indented reads as unindented,
    # an accepted layout-heuristic limit)
    page_left = min(min(it[0] for it in line) for line in lines)

    out_lines: list[str] = []
    for line in lines:
        if len(line) == 1:
            # dominant shape: one show op per line — no x-sort, no pen
            x, _y, s, size = line[0]
            lead_gap = x - page_left
            lead_unit = _CHAR_ADV_FACTOR * size
            if lead_gap > 0.3 * lead_unit:
                s = " " * max(1, round(lead_gap / lead_unit)) + s
            out_lines.append(s)
            continue
        line.sort(key=lambda it: it[0])
        text = ""
        lead_gap = line[0][0] - page_left
        lead_unit = _CHAR_ADV_FACTOR * line[0][3]
        if lead_gap > 0.3 * lead_unit:
            text = " " * max(1, round(lead_gap / lead_unit))
        pen_x: float | None = None
        for x, _y, s, size in line:
            if pen_x is not None:
                gap = x - pen_x
                unit = _CHAR_ADV_FACTOR * size
                if gap > 0.3 * unit:
                    text += " " * max(1, round(gap / unit))
            text += s
            pen_x = x + len(s) * _CHAR_ADV_FACTOR * size
        out_lines.append(text)
    return out_lines


def extract_pdf_pages(data: bytes) -> list[str]:
    """PDF bytes → one text per page (reading order), lines joined by
    '\\n'. The per-page analogue of extract_page + the block/line flatten
    (src/text_extractor.cpp:27-77 + src/hierarchical_chunker.cpp:578-589)."""
    doc = PdfDocument(data)
    return [
        reconstruct_lines(extract_text_items(doc, p)) for p in doc.pages()
    ]


def extract_pdf_pages_lines(data: bytes) -> list[list[str]]:
    """PDF bytes → one LIST OF LINES per page — the join-free twin of
    extract_pdf_pages for consumers that re-split anyway (the chunker).
    ``"\\n".join(lines)`` reproduces extract_pdf_pages exactly."""
    doc = PdfDocument(data)
    return [
        reconstruct_line_list(extract_text_items(doc, p))
        for p in doc.pages()
    ]


def extract_pdf_page_text(data: bytes) -> str:
    """PDF bytes → whole-document text (pages joined by blank lines)."""
    pages = extract_pdf_pages(data)
    if not pages:
        return ""
    if len(pages) == 1:
        return pages[0]
    return "\n\n".join(pages).strip("\n")


# -- structured (option-gated) extraction -------------------------------------

def extract_page_structured(data: bytes, extract_positions: bool = False,
                            extract_fonts: bool = False) -> dict:
    """PDF bytes → the reference's per-page dynamic-JSON shape
    (stext_to_json, src/text_extractor.cpp:128-191): blocks → lines, with
    bbox emitted only when ``extract_positions`` and per-char font/size only
    when ``extract_fonts`` — the option-gated projection the chunking path
    turns OFF (src/hierarchical_chunker.cpp:562-563), i.e. schema pruning at
    the source (SURVEY.md §4.1).

    Geometry follows the builder convention (fixed 0.5*size advance); bbox =
    {x0: line start, y0: baseline, x1: line end pen, y1: baseline + size}.
    The fixture subset renders one text block per page.
    """
    doc = PdfDocument(data)
    pages = doc.pages()
    if not pages:
        return {"blocks": []}
    items = extract_text_items(doc, pages[0])
    if not items:
        return {"blocks": []}

    # cluster to lines exactly like reconstruct_lines
    items_sorted = sorted(items, key=lambda it: (-it[1], it[0]))
    clusters: list[list] = []
    for it in items_sorted:
        if clusters and abs(clusters[-1][0][1] - it[1]) <= _Y_TOLERANCE:
            clusters[-1].append(it)
        else:
            clusters.append([it])
    page_left = min(min(it[0] for it in line) for line in clusters)

    lines_out = []
    for line in clusters:
        line.sort(key=lambda it: it[0])
        text = ""
        chars = []
        lead_unit = _CHAR_ADV_FACTOR * line[0][3]
        lead_gap = line[0][0] - page_left
        if lead_gap > 0.3 * lead_unit:
            text = " " * max(1, round(lead_gap / lead_unit))
        pen_x = None
        y = line[0][1]
        size = line[0][3]
        for x, _y, s, sz in line:
            if pen_x is not None:
                gap = x - pen_x
                unit = _CHAR_ADV_FACTOR * sz
                if gap > 0.3 * unit:
                    text += " " * max(1, round(gap / unit))
            if extract_fonts or extract_positions:
                cx = x
                for ch in s:
                    char_entry: dict = {"char": ch}
                    if extract_positions:
                        adv = _CHAR_ADV_FACTOR * sz
                        char_entry["bbox"] = {"x0": cx, "y0": y,
                                              "x1": cx + adv, "y1": y + sz}
                        char_entry["origin_x"] = cx
                        char_entry["origin_y"] = y
                        cx += adv
                    if extract_fonts:
                        char_entry["font"] = {"name": "fixture",
                                              "is_bold": False,
                                              "is_italic": False,
                                              "is_monospace": False}
                        char_entry["size"] = sz
                    chars.append(char_entry)
            text += s
            pen_x = x + len(s) * _CHAR_ADV_FACTOR * sz
        line_entry: dict = {"text": text}
        if extract_positions:
            line_entry["bbox"] = {
                "x0": line[0][0], "y0": y,
                "x1": pen_x if pen_x is not None else line[0][0],
                "y1": y + size,
            }
        if extract_fonts or extract_positions:
            line_entry["chars"] = chars
            chars = []
        lines_out.append(line_entry)

    block: dict = {"type": "text", "lines": lines_out}
    if extract_positions and lines_out:
        block["bbox"] = {
            "x0": min(l["bbox"]["x0"] for l in lines_out),
            "y0": min(l["bbox"]["y0"] for l in lines_out),
            "x1": max(l["bbox"]["x1"] for l in lines_out),
            "y1": max(l["bbox"]["y1"] for l in lines_out),
        }
    return {"blocks": [block]}
