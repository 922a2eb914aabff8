"""From-scratch PDF text + layout extraction in pure Python (no deps).

The north rule's extraction tier names "PDF/layout parse" alongside the
HTML boilerplate strip; the reference (nolanw/HTMLReader) has no PDF
counterpart, so this module is built directly from the public PDF 1.7
object model (ISO 32000-1): classic xref tables AND cross-reference
streams, object streams (ObjStm), FlateDecode with PNG predictors,
ASCIIHex/ASCII85/RunLength filters, the page tree, and a content-stream
interpreter covering the text-showing and positioning operators
(BT/ET, Tf/Td/TD/Tm/T*/TL/Tc/Tw/Tz/Ts, Tj/'/"/TJ), graphics state
(q/Q/cm), form XObjects, and image XObjects / inline images (emitted as
``media`` placeholders in content order, matching the interleaved-span
model of the HTML pipeline — extract.py's span re-emission).

Layout analysis — the part that makes this "layout parse" rather than
string concatenation — happens on device-space glyph fragments:

* line clustering by baseline y (tolerance scaled to font size),
* word-gap inference from x advances (both across show ops and from
  TJ kern offsets), so text with no literal space glyphs round-trips,
* two-column reading-order detection (gutter search with a crossing
  penalty), left column before right,
* repeated header/footer ("page furniture") removal across pages with
  digit masking so page numbers don't defeat the repeat detection,
* /Rotate handling (scanner-style sideways pages): the inverse display
  rotation is baked into the initial CTM, so fragments land in reader
  space and all of the above works unchanged.

Font decoding: ToUnicode CMaps (bfchar/bfrange), simple-font
/Encoding + /Differences via an Adobe-glyph-list subset, WinAnsi /
MacRoman base encodings, Type0 (Identity-H) CID fonts with /W widths.
Encrypted PDFs and unsupported filters raise ``PDFError`` — surfaced
per-row by the Spark error channel, never a task failure.

A deterministic writer (``build_pdf``) exists for testing: it embeds
its own /Widths array and emits words either as TJ arrays with kern
offsets (no space glyphs at all) or as separately positioned Tj runs,
so the extractor's spacing inference is exercised by construction, and
``pdf_extract_text(build_pdf(...))`` round-trips the input text
exactly. Two system PDFs produced by independent toolchains (pdfTeX
and DocBook/FO) serve as external fixtures in the tests.
"""

from __future__ import annotations

import math
import re
import zlib
from operator import itemgetter


class PDFError(ValueError):
    """Malformed or unsupported PDF; callers surface this per-row."""


class PDFBudgetError(PDFError):
    """Adversarial-work budget exceeded (page-tree / form-XObject
    traversal, decoded stream bytes). A distinct subclass so the
    interpreter's per-op malformed-operand recovery (which swallows
    ValueError) and the font loader's ToUnicode recovery can re-raise
    it: budget exhaustion must abort the document, not be retried
    op-by-op."""


WS = b"\x00\t\n\x0c\r "
DELIMS = b"()<>[]{}/%"


class Name(str):
    """A PDF name object (/Foo) — distinct from a text string."""


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self):
        return f"{self.num} {self.gen} R"

    def __eq__(self, other):
        return (isinstance(other, Ref) and self.num == other.num
                and self.gen == other.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict, self.raw = d, raw


# ---------------------------------------------------------------------------
# object lexer / parser


_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")


def _skip_ws(data: bytes, i: int) -> int:
    m = _WS_RE.match(data, i)
    return m.end() if m else i


_NAME_BODY_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _parse_name(data: bytes, i: int):
    # data[i] == '/'
    # fast path: simple name without #xx hex escapes (the normal case)
    m = _NAME_BODY_RE.match(data, i + 1)
    body = m.group()
    if b"#" not in body:
        return Name(body.decode("latin-1")), i + 1 + len(body)
    i += 1
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        if c in WS or c in DELIMS:
            break
        if c == 0x23 and i + 2 < n:  # #xx
            try:
                out.append(int(data[i + 1:i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return Name(out.decode("latin-1")), i


def _parse_literal_string(data: bytes, i: int):
    # data[i] == '('
    # fast path: no escapes / nesting before the closing paren — the
    # overwhelmingly common shape of content-stream text strings
    j = data.find(b")", i + 1)
    if j >= 0:
        body = data[i + 1:j]
        if b"\\" not in body and b"(" not in body:
            return body, j + 1
    i += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e == 0x6E:
                out.append(0x0A)
            elif e == 0x72:
                out.append(0x0D)
            elif e == 0x74:
                out.append(0x09)
            elif e == 0x62:
                out.append(0x08)
            elif e == 0x66:
                out.append(0x0C)
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
            elif 0x30 <= e <= 0x37:  # \ooo 1-3 octal digits
                oct_ = [e - 0x30]
                for _ in range(2):
                    if i + 1 < n and 0x30 <= data[i + 1] <= 0x37:
                        i += 1
                        oct_.append(data[i] - 0x30)
                v = 0
                for d in oct_:
                    v = v * 8 + d
                out.append(v & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                if e == 0x0D and i + 1 < n and data[i + 1] == 0x0A:
                    i += 1
            else:
                out.append(e)
            i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                i += 1
                return bytes(out), i
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise PDFError("unterminated literal string")


def _parse_hex_string(data: bytes, i: int):
    # data[i] == '<' (single)
    i += 1
    digits = bytearray()
    n = len(data)
    while i < n and data[i] != 0x3E:
        c = data[i]
        if c not in WS:
            digits.append(c)
        i += 1
    if i >= n:
        raise PDFError("unterminated hex string")
    i += 1
    if len(digits) % 2:
        digits.append(0x30)
    try:
        return bytes.fromhex(digits.decode("ascii")), i
    except ValueError as e:
        raise PDFError(f"bad hex string: {e}") from None


_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
_NUM_RE = re.compile(_NUM)
_INT_RE = re.compile(rb"\d+")

# Whitespace and comments before a token. Each byte has exactly one way
# to match and the quantifiers are possessive, so a failing branch after
# the prefix costs linear time (an ambiguous ``(?:ws+|%...)*`` backtracks
# exponentially over a run of blanks) and a comment never gives back
# characters to be read as a token (ISO 32000-1 §7.2.3: comments are
# ignored).
_SEP = rb"[\x00\t\n\x0c\r ]*+(?:%[^\r\n]*+[\x00\t\n\x0c\r ]*+)*+"
# the same, non-empty: separates the two integers and the R of a reference
_SEP1 = rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)++"

# Array-element fast path: one combined match for leading whitespace plus
# either an indirect reference ("n g R") or a plain number. Numeric arrays
# (/Widths with ~100 entries, /W, matrices, Kids) otherwise cost 4-5
# separate regex calls per element through the generic dispatch.
_ARR_ITEM_RE = re.compile(
    _SEP
    + rb"(?:(?P<rnum>\d+)" + _SEP1 + rb"(?P<rgen>\d+)" + _SEP1 + rb"R"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|(?P<num>" + _NUM + rb"))"
)


def parse_object(data: bytes, i: int):
    """Parse one PDF object at ``i``; returns (object, next_index)."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise PDFError("unexpected EOF")
    c = data[i]
    if c == 0x2F:
        return _parse_name(data, i)
    if c == 0x28:
        return _parse_literal_string(data, i)
    if c == 0x3C:
        if data[i:i + 2] == b"<<":
            d = {}
            i += 2
            while True:
                i = _skip_ws(data, i)
                if data[i:i + 2] == b">>":
                    return d, i + 2
                if i >= len(data):
                    raise PDFError("unterminated dict")
                if data[i] != 0x2F:
                    raise PDFError(f"dict key not a name at {i}")
                k, i = _parse_name(data, i)
                v, i = parse_object(data, i)
                d[str(k)] = v
        return _parse_hex_string(data, i)
    if c == 0x5B:  # [
        arr = []
        append = arr.append
        i += 1
        item_match = _ARR_ITEM_RE.match
        while True:
            m = item_match(data, i)
            if m is not None:
                tok = m.group("num")
                if tok is not None:
                    append(float(tok) if b"." in tok else int(tok))
                else:
                    append(Ref(int(m.group("rnum")), int(m.group("rgen"))))
                i = m.end()
                continue
            i = _skip_ws(data, i)
            if i >= len(data):
                raise PDFError("unterminated array")
            if data[i] == 0x5D:
                return arr, i + 1
            v, i = parse_object(data, i)
            append(v)
    m = _NUM_RE.match(data, i)
    if m and m.start() == i:
        tok = m.group()
        j = m.end()
        if b"." not in tok:
            # possible "num gen R" indirect reference
            k = _skip_ws(data, j)
            m2 = _INT_RE.match(data, k)
            if m2 and m2.start() == k:
                k2 = _skip_ws(data, m2.end())
                if (data[k2:k2 + 1] == b"R"
                        and (k2 + 1 >= len(data)
                             or data[k2 + 1] in WS
                             or data[k2 + 1] in DELIMS)):
                    return Ref(int(tok), int(m2.group())), k2 + 1
            return int(tok), j
        return float(tok), j
    if data[i:i + 4] == b"true":
        return True, i + 4
    if data[i:i + 5] == b"false":
        return False, i + 5
    if data[i:i + 4] == b"null":
        return None, i + 4
    raise PDFError(f"cannot parse object at offset {i}: {data[i:i+16]!r}")


# ---------------------------------------------------------------------------
# stream filters

# Decoded bytes per document, over all its streams and filters. FlateDecode
# inflates up to ~1000x (a 64 KB stream decodes to 64 MB), LZW and
# RunLength expand too, and a worker that runs out of memory fails its
# task rather than returning an error row. The external fixtures decode
# to at most 333 KB in total, generated documents to under 30 KB.
DECODE_BUDGET = 64 << 20


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int,
                   limit: int = DECODE_BUDGET) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    if -(-len(data) // (row_len + 1)) * row_len > limit:
        raise PDFBudgetError("decoded stream budget exceeded")
    out = bytearray()
    prev = bytearray(row_len)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        i += 1
        row = bytearray(data[i:i + row_len])
        if len(row) < row_len:
            row.extend(b"\x00" * (row_len - len(row)))
        i += row_len
        if ft == 1:  # Sub
            for j in range(bpp, row_len):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(row_len):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(row_len):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(row_len):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                cpx = prev[j - bpp] if j >= bpp else 0
                p = a + b - cpx
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cpx)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cpx)
                row[j] = (row[j] + pred) & 0xFF
        elif ft != 0:
            raise PDFError(f"bad PNG predictor filter byte {ft}")
        out.extend(row)
        prev = row
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    data = re.sub(rb"\s", b"", data)
    if data.endswith(b"~>"):
        data = data[:-2]
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        if data[i:i + 1] == b"z":
            out.extend(b"\x00\x00\x00\x00")
            i += 1
            continue
        group = data[i:i + 5]
        pad = 5 - len(group)
        group = group + b"u" * pad
        v = 0
        for ch in group:
            if not (0x21 <= ch <= 0x75):
                raise PDFError("bad ASCII85 char")
            v = v * 85 + (ch - 0x21)
        quad = v.to_bytes(4, "big")
        out.extend(quad[:4 - pad])
        i += 5
    return bytes(out)


def _runlength_decode(data: bytes, limit: int = DECODE_BUDGET) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        if len(out) > limit:
            raise PDFBudgetError("decoded stream budget exceeded")
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out.extend(data[i:i + l + 1])
            i += l + 1
        else:
            out.extend(data[i:i + 1] * (257 - l))
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1,
                limit: int = DECODE_BUDGET) -> bytes:
    """PDF LZWDecode (ISO 32000-1 §7.4.4): variable 9-12 bit codes,
    MSB-first, clear=256, EOD=257; ``early`` is /EarlyChange (default 1:
    the code width bumps one code early, as TIFF does). Raises
    PDFBudgetError once the output passes ``limit`` bytes."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code > 255:
                    raise PDFError("LZW: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and code < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise PDFError("LZW: code out of range")
            out += entry
            if len(out) > limit:
                raise PDFBudgetError("decoded stream budget exceeded")
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def decode_stream(pdf: "PDF", st: Stream) -> bytes:
    """Apply the stream's filter chain. Every filter's output counts
    against the document's ``decode_left`` budget (``DECODE_BUDGET`` on
    first use); decoding stops with PDFBudgetError as soon as it would
    overrun, before the output is held in memory."""
    d = st.dict
    filt = pdf.resolve(d.get("Filter"))
    parms = pdf.resolve(d.get("DecodeParms") or d.get("DP"))
    if filt is None:
        return st.raw
    filters = filt if isinstance(filt, list) else [filt]
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    data = st.raw
    for f, p in zip(filters, parms_list):
        f = str(pdf.resolve(f))
        p = pdf.resolve(p) or {}
        left = getattr(pdf, "decode_left", DECODE_BUDGET)
        if left < 0:  # a budget error was raised and swallowed before
            raise PDFBudgetError("decoded stream budget exceeded")
        if f in ("FlateDecode", "Fl"):
            try:
                # a decompressobj tolerates a truncated stream and
                # trailing garbage; one byte over ``left`` tells overrun
                data = zlib.decompressobj().decompress(data, left + 1)
            except zlib.error as e:
                raise PDFError(f"FlateDecode failed: {e}") from None
        elif f in ("ASCIIHexDecode", "AHx"):
            body = data.split(b">")[0]
            digits = re.sub(rb"\s", b"", body)
            if len(digits) % 2:
                digits += b"0"
            data = bytes.fromhex(digits.decode("ascii"))
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _runlength_decode(data, left)
        elif f in ("LZWDecode", "LZW"):
            early = 1
            if isinstance(p, dict):
                try:
                    early = int(pdf.resolve(p.get("EarlyChange", 1)))
                except (TypeError, ValueError):
                    early = 1
            data = _lzw_decode(data, early, left)
        else:
            raise PDFError(f"unsupported stream filter {f}")
        pred = pdf.resolve(p.get("Predictor", 1)) if isinstance(p, dict) else 1
        if pred and pred >= 10:
            data = _png_unpredict(
                data,
                int(pdf.resolve(p.get("Columns", 1))),
                int(pdf.resolve(p.get("Colors", 1))),
                int(pdf.resolve(p.get("BitsPerComponent", 8))),
                left,
            )
        elif pred == 2:
            raise PDFError("TIFF predictor unsupported")
        pdf.decode_left = left - len(data)
        if pdf.decode_left < 0:
            raise PDFBudgetError("decoded stream budget exceeded")
    return data


# ---------------------------------------------------------------------------
# file structure: xref chain, object fetch


class PDF:
    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            # spec allows junk before header; search the first 1 KB
            idx = data.find(b"%PDF-", 0, 1024)
            if idx < 0:
                raise PDFError("not a PDF (no %PDF- header)")
            data = data[idx:]
        self.data = data
        self.xref: dict[int, tuple] = {}  # num -> ("off", offset) | ("stm", stmnum, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._load_xref_chain()
        if "Encrypt" in self.trailer:
            raise PDFError("encrypted PDF unsupported")

    # -- xref ----------------------------------------------------------
    def _load_xref_chain(self):
        tail = self.data[-2048:]
        m = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not m:
            raise PDFError("startxref not found")
        offset = int(m[-1].group(1))
        seen = set()
        while offset and offset not in seen:
            seen.add(offset)
            offset = self._load_xref_at(offset)

    def _load_xref_at(self, offset: int) -> int:
        data = self.data
        i = _skip_ws(data, offset)
        if data[i:i + 4] == b"xref":
            return self._load_xref_table(i + 4)
        # cross-reference stream: "num gen obj <<...>> stream"
        obj, _ = self._parse_indirect_at(i)
        if not isinstance(obj, Stream):
            raise PDFError(f"xref at {offset} is neither table nor stream")
        return self._load_xref_stream(obj)

    def _load_xref_table(self, i: int) -> int:
        data = self.data
        while True:
            i = _skip_ws(data, i)
            if data[i:i + 7] == b"trailer":
                i = _skip_ws(data, i + 7)
                tr, i = parse_object(data, i)
                for k, v in tr.items():
                    self.trailer.setdefault(k, v)
                nxt = 0
                if "XRefStm" in tr:  # hybrid file: newer than /Prev
                    try:
                        self._load_xref_at(int(tr["XRefStm"]))
                    except PDFError:
                        pass
                if "Prev" in tr:
                    nxt = int(self.resolve(tr["Prev"]))
                return nxt
            m = re.match(rb"(\d+)\s+(\d+)", data[i:i + 40])
            if not m:
                raise PDFError(f"bad xref section header at {i}")
            start, count = int(m.group(1)), int(m.group(2))
            i += m.end()
            i = _skip_ws(data, i)
            for k in range(count):
                ent = data[i:i + 20]
                em = re.match(rb"(\d{10})\s(\d{5})\s([nf])", ent)
                if not em:
                    raise PDFError(f"bad xref entry at {i}: {ent!r}")
                if em.group(3) == b"n":
                    self.xref.setdefault(start + k, ("off", int(em.group(1))))
                # spec entries are exactly 20 bytes, but a known class of
                # broken writers emits 19 (single-char EOL): advance past
                # the matched 18-byte body, then eat whatever EOL follows
                i += em.end()
                while i < len(data) and data[i] in b" \r\n":
                    i += 1

    def _load_xref_stream(self, st: Stream) -> int:
        d = st.dict
        data = decode_stream(self, st)
        w = [int(self.resolve(x)) for x in self.resolve(d["W"])]
        size = int(self.resolve(d["Size"]))
        index = self.resolve(d.get("Index", [0, size]))
        pairs = [(int(index[j]), int(index[j + 1]))
                 for j in range(0, len(index), 2)]
        rw = sum(w)
        pos = 0
        for start, count in pairs:
            for k in range(count):
                if pos + rw > len(data):
                    break
                fields = []
                for width in w:
                    v = int.from_bytes(data[pos:pos + width], "big") if width else None
                    pos += width
                    fields.append(v)
                typ = fields[0] if w[0] else 1
                num = start + k
                if typ == 1:
                    # /W field-2 width 0 is legal per ISO 32000-1 (the
                    # default applies) but leaves no offset to seek to —
                    # skip the entry instead of storing ('off', None),
                    # which would escape the PDFError contract as a
                    # TypeError in _parse_indirect_at (round-6 ADVICE)
                    if fields[1] is not None:
                        self.xref.setdefault(num, ("off", fields[1]))
                elif typ == 2:
                    if fields[1] is not None and fields[2] is not None:
                        self.xref.setdefault(
                            num, ("stm", fields[1], fields[2])
                        )
        for k, v in d.items():
            if k not in ("W", "Index", "Length", "Filter", "DecodeParms", "Type"):
                self.trailer.setdefault(k, v)
        return int(self.resolve(d["Prev"])) if "Prev" in d else 0

    # -- object access -------------------------------------------------
    def _parse_indirect_at(self, offset: int):
        data = self.data
        i = _skip_ws(data, offset)
        m = re.match(rb"(\d+)\s+(\d+)\s+obj\b", data[i:i + 40])
        if not m:
            raise PDFError(f"expected 'n g obj' at {offset}")
        num = int(m.group(1))
        i += m.end()
        obj, i = parse_object(data, i)
        i = _skip_ws(data, i)
        if isinstance(obj, dict) and data[i:i + 6] == b"stream":
            i += 6
            if data[i:i + 2] == b"\r\n":
                i += 2
            elif data[i:i + 1] in (b"\n", b"\r"):
                i += 1
            length = self.resolve(obj.get("Length"))
            if isinstance(length, int) and 0 <= length <= len(data) - i:
                raw = data[i:i + length]
                j = _skip_ws(data, i + length)
                if data[j:j + 9] != b"endstream":
                    end = data.find(b"endstream", i)
                    raw = data[i:end].rstrip(b"\r\n") if end > 0 else raw
            else:
                end = data.find(b"endstream", i)
                if end < 0:
                    raise PDFError("endstream not found")
                raw = data[i:end].rstrip(b"\r\n")
            obj = Stream(obj, raw)
        return obj, num

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        obj = None
        if ent is None:
            obj = None
        elif ent[0] == "off":
            obj, pnum = self._parse_indirect_at(ent[1])
            if pnum != num:
                # corrupt offset; broken files exist — one linear rescue scan
                obj = self._rescue_scan(num)
        else:
            _, stmnum, idx = ent
            objs = self._load_objstm(stmnum)
            obj = objs.get(num)
        self._cache[num] = obj
        return obj

    def _rescue_scan(self, num: int):
        pat = re.compile(rb"(?m)^\s*%d\s+\d+\s+obj\b" % num)
        m = pat.search(self.data)
        if not m:
            return None
        obj, _ = self._parse_indirect_at(m.start())
        return obj

    def _load_objstm(self, stmnum: int) -> dict[int, object]:
        if stmnum in self._objstm_cache:
            return self._objstm_cache[stmnum]
        st = self.get(stmnum)
        if not isinstance(st, Stream):
            raise PDFError(f"object stream {stmnum} missing")
        data = decode_stream(self, st)
        n = int(self.resolve(st.dict["N"]))
        first = int(self.resolve(st.dict["First"]))
        header = data[:first].split()
        objs: dict[int, object] = {}
        for k in range(n):
            onum = int(header[2 * k])
            ooff = int(header[2 * k + 1])
            obj, _ = parse_object(data, first + ooff)
            objs[onum] = obj
        self._objstm_cache[stmnum] = objs
        return objs

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref):
            if depth > 32:
                raise PDFError("reference cycle")
            obj = self.get(obj.num)
            depth += 1
        return obj

    # -- document structure --------------------------------------------
    def catalog(self) -> dict:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PDFError("document catalog missing")
        return root

    def pages(self) -> list[dict]:
        """Flattened page dicts with inherited Resources/MediaBox merged in."""
        out: list[dict] = []
        root = self.resolve(self.catalog().get("Pages"))
        if not isinstance(root, dict):
            raise PDFError("page tree missing")

        visited = [0]  # total-work budget, not just depth (round-6
        # ADVICE: a crafted tree can reference the same kid many times
        # per level — 16 kids x 64 levels is exponential traversal that
        # the per-row error channel cannot interrupt)

        def walk(node: dict, inherited: dict, depth: int):
            if depth > 64:
                raise PDFError("page tree too deep")
            visited[0] += 1
            if visited[0] > 10_000:
                raise PDFError("page tree too large")
            inh = dict(inherited)
            for key in ("Resources", "MediaBox", "Rotate"):
                if key in node:
                    inh[key] = node[key]
            typ = str(self.resolve(node.get("Type", "")))
            kids = self.resolve(node.get("Kids"))
            if typ == "Page" or (kids is None and "Contents" in node):
                page = dict(node)
                for key, v in inh.items():
                    page.setdefault(key, v)
                out.append(page)
                return
            if isinstance(kids, list):
                for kid in kids:
                    k = self.resolve(kid)
                    if isinstance(k, dict):
                        walk(k, inh, depth + 1)

        walk(root, {}, 0)
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return decode_stream(self, contents)
        if isinstance(contents, list):
            parts = []
            for c in contents:
                cs = self.resolve(c)
                if isinstance(cs, Stream):
                    parts.append(decode_stream(self, cs))
            return b"\n".join(parts)
        return b""

    def info(self) -> dict:
        info = self.resolve(self.trailer.get("Info"))
        return info if isinstance(info, dict) else {}


# ---------------------------------------------------------------------------
# fonts

WIN_ANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

# Adobe-glyph-list subset covering the glyph names common in web / TeX /
# DocBook PDFs.  Single-letter names and uniXXXX handled in code.
GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "perthousand": "‰", "minus": "−", "fraction": "⁄",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ",
    "ffi": "ﬃ", "ffl": "ﬄ",
    "exclamdown": "¡", "questiondown": "¿", "cent": "¢",
    "sterling": "£", "yen": "¥", "florin": "ƒ",
    "section": "§", "currency": "¤", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "mu": "µ", "paragraph": "¶", "periodcentered": "·",
    "dotlessi": "ı", "germandbls": "ß",
    "ae": "æ", "AE": "Æ", "oslash": "ø",
    "Oslash": "Ø", "oe": "œ", "OE": "Œ",
    "Lslash": "Ł", "lslash": "ł", "eth": "ð",
    "Eth": "Ð", "thorn": "þ", "Thorn": "Þ",
    "circumflex": "ˆ", "tilde": "˜", "macron": "¯",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "cedilla": "¸", "hungarumlaut": "˝", "ogonek": "˛",
    "caron": "ˇ", "brokenbar": "¦", "nbspace": " ",
    "sfthyphen": "­", "middot": "·",
}
_ACCENT_SUFFIXES = {
    "acute": "́", "grave": "̀", "circumflex": "̂",
    "tilde": "̃", "dieresis": "̈", "ring": "̊",
    "cedilla": "̧", "caron": "̌", "breve": "̆",
    "macron": "̄",
}
import unicodedata as _ud


def glyph_to_unicode(name: str) -> str:
    if len(name) == 1:
        return name
    if name in GLYPH_NAMES:
        return GLYPH_NAMES[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})(?:[0-9A-Fa-f]{4})*", name)
    if m:
        return "".join(
            chr(int(name[i:i + 4], 16)) for i in range(3, len(name), 4)
        )
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"([A-Za-z])(%s)" % "|".join(_ACCENT_SUFFIXES), name)
    if m:
        composed = _ud.normalize("NFC", m.group(1) + _ACCENT_SUFFIXES[m.group(2)])
        return composed
    return "�"


def _parse_tounicode(data: bytes) -> dict[int, str]:
    text = data.decode("latin-1", "replace")
    out: dict[int, str] = {}

    def hex2uni(h: str) -> str:
        b = bytes.fromhex(h)
        if len(b) % 2:
            b += b"\x00"
        try:
            return b.decode("utf-16-be", "replace")
        except Exception:
            return "�"

    for block in re.findall(r"beginbfchar(.*?)endbfchar", text, re.S):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block):
            out[int(src, 16)] = hex2uni(dst)
    for block in re.findall(r"beginbfrange(.*?)endbfrange", text, re.S):
        pos = 0
        rng = re.compile(
            r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
            re.S)
        for m in rng.finditer(block):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if hi - lo > 65535:
                continue
            if m.group(3) is not None:
                base_hex = m.group(3)
                base = bytes.fromhex(base_hex)
                base_int = int(base_hex, 16)
                for k in range(hi - lo + 1):
                    out[lo + k] = hex2uni(format(base_int + k, "0%dx" % len(base_hex)))
            else:
                dsts = re.findall(r"<([0-9A-Fa-f]+)>", m.group(4))
                for k, dh in enumerate(dsts):
                    if lo + k <= hi:
                        out[lo + k] = hex2uni(dh)
    return out


class Font:
    __slots__ = ("two_byte", "to_unicode", "enc_map", "widths",
                 "default_width", "space_code", "name", "_trans", "_warr")

    def __init__(self):
        self.two_byte = False
        self.to_unicode: dict[int, str] = {}
        self.enc_map: dict[int, str] = {}
        self.widths: dict[int, float] = {}
        self.default_width = 500.0
        self.space_code = 32
        self.name = ""
        self._trans = None  # lazy 256-entry tables for the 1-byte hot path
        self._warr = None

    def tables(self):
        """(str.translate map, width list) over all 256 single-byte codes —
        lets ``show`` replace per-glyph dict probes with one decode +
        translate and an array-indexed width sum."""
        if self._trans is None:
            self._trans = {c: self.char(c) for c in range(256)}
            self._warr = [self.width(c) for c in range(256)]
        return self._trans, self._warr

    def char(self, code: int) -> str:
        if code in self.to_unicode:
            return self.to_unicode[code]
        if code in self.enc_map:
            return self.enc_map[code]
        if self.two_byte:
            return "�"
        if 32 <= code < 127:
            return chr(code)
        if code in WIN_ANSI_HIGH:
            return WIN_ANSI_HIGH[code]
        if 0xA0 <= code <= 0xFF:
            return chr(code)
        return "�"

    def width(self, code: int) -> float:
        return self.widths.get(code, self.default_width)

    def iter_codes(self, raw: bytes):
        if self.two_byte:
            for i in range(0, len(raw) - 1, 2):
                yield (raw[i] << 8) | raw[i + 1]
        else:
            yield from raw


def load_font(pdf: PDF, fd: dict) -> Font:
    fd = pdf.resolve(fd) or {}
    f = Font()
    f.name = str(pdf.resolve(fd.get("BaseFont", "")))
    subtype = str(pdf.resolve(fd.get("Subtype", "")))
    tu = pdf.resolve(fd.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            f.to_unicode = _parse_tounicode(decode_stream(pdf, tu))
        except PDFBudgetError:
            raise
        except PDFError:
            pass
    if subtype == "Type0":
        enc = pdf.resolve(fd.get("Encoding"))
        enc_name = str(enc) if isinstance(enc, (Name, str)) else ""
        f.two_byte = True  # Identity-H and virtually all web CMaps are 2-byte
        desc = pdf.resolve(fd.get("DescendantFonts"))
        if isinstance(desc, list) and desc:
            d0 = pdf.resolve(desc[0]) or {}
            f.default_width = float(pdf.resolve(d0.get("DW", 1000)))
            warr = pdf.resolve(d0.get("W"))
            if isinstance(warr, list):
                i = 0
                while i < len(warr):
                    c = pdf.resolve(warr[i])
                    if i + 1 < len(warr) and isinstance(pdf.resolve(warr[i + 1]), list):
                        ws = pdf.resolve(warr[i + 1])
                        for k, wv in enumerate(ws):
                            f.widths[int(c) + k] = float(pdf.resolve(wv))
                        i += 2
                    elif i + 2 < len(warr):
                        c2 = pdf.resolve(warr[i + 1])
                        wv = float(pdf.resolve(warr[i + 2]))
                        c2i = int(c2)
                        if c2i - int(c) <= 65535:
                            for cc in range(int(c), c2i + 1):
                                f.widths[cc] = wv
                        i += 3
                    else:
                        break
        f.space_code = -1  # CID space handled via width gaps
        if enc_name and "Identity" not in enc_name and not f.to_unicode:
            # Named non-identity CMap with no ToUnicode: codes undecodable
            pass
        return f
    # simple font
    first = pdf.resolve(fd.get("FirstChar"))
    widths = pdf.resolve(fd.get("Widths"))
    if isinstance(widths, list) and isinstance(first, int):
        scale = 1.0
        if subtype == "Type3":
            fm = pdf.resolve(fd.get("FontMatrix"))
            if isinstance(fm, list) and fm:
                scale = abs(float(pdf.resolve(fm[0]))) * 1000.0
        for k, wv in enumerate(widths):
            try:
                f.widths[first + k] = float(pdf.resolve(wv)) * scale
            except (TypeError, ValueError):
                pass
    desc = pdf.resolve(fd.get("FontDescriptor")) or {}
    if isinstance(desc, dict) and "MissingWidth" in desc:
        try:
            f.default_width = float(pdf.resolve(desc["MissingWidth"]))
        except (TypeError, ValueError):
            pass
    enc = pdf.resolve(fd.get("Encoding"))
    base = None
    diffs = None
    if isinstance(enc, (Name, str)):
        base = str(enc)
    elif isinstance(enc, dict):
        base = str(pdf.resolve(enc.get("BaseEncoding", "")))
        diffs = pdf.resolve(enc.get("Differences"))
    if base == "MacRomanEncoding":
        for code in range(128, 256):
            try:
                f.enc_map[code] = bytes([code]).decode("mac-roman")
            except Exception:
                pass
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = pdf.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, (Name, str)):
                f.enc_map[code] = glyph_to_unicode(str(item))
                code += 1
    return f


# ---------------------------------------------------------------------------
# content-stream interpreter

IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def mat_mul(a, b):
    """Apply ``a`` then ``b`` (PDF row-vector convention)."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def mat_apply(m, x, y):
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


class Frag:
    """One positioned text run (or media placeholder) in device space."""
    __slots__ = ("kind", "x0", "y", "x1", "size", "text", "ref")

    def __init__(self, kind, x0, y, x1, size, text, ref=None):
        self.kind, self.x0, self.y, self.x1 = kind, x0, y, x1
        self.size, self.text, self.ref = size, text, ref


# Content-stream tokens. Both regexes start with the same prefix and end
# in ``\Z``, so a match exists at every offset: trailing whitespace or
# an end-of-stream comment is one empty token, never a skipped byte.
# Branch order matters — numbers before generic operators.
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_NAME = rb"/" + _REGULAR + rb"*"
_OP = _REGULAR + rb"+"

# general loop: one ``match`` per token, delimiters dispatched in Python
_CTOK_RE = re.compile(
    _SEP
    + rb"(?:(?P<num>" + _NUM + rb")"
    rb"|(?P<name>" + _NAME + rb")"
    rb"|(?P<op>" + _OP + rb")"
    rb"|(?P<delim>[()<>{}\[\]])|\Z)"
)

# fast path: one ``findall`` per stream, groups (num, name, op, literal
# string without unescaped nested parentheses, hex string, bracket,
# other delimiter); the last group sends the stream to the general loop
_CTOK_FAST_RE = re.compile(
    _SEP
    + rb"(?:(" + _NUM + rb")|(" + _NAME + rb")|(" + _OP + rb")"
    rb"|(\([^()\\]*+(?:\\.[^()\\]*+)*+\))"
    rb"|(<[0-9A-Fa-f\x00\t\n\x0c\r ]*+>)"
    rb"|([\[\]])|([()<>{}])|\Z)",
    re.S,
)


def _content_tokens(data: bytes) -> list:
    """Return the content stream's tokens, ``[(kind, value), ...]``:
    ``('obj', o)`` for an operand, ``('op', b)`` for an operator. An
    inline image is its ``('op', b'BI')`` alone: its parameters and data
    through ``EI`` are skipped.

    Arrays (TJ) are assembled inline; no indirect references exist
    inside content streams (ISO 32000-1 §7.8.2), so all numbers are
    plain floats. One ``findall`` tokenizes the stream
    (:func:`_fast_tokens`); a stream it does not cover — a dict, a
    string with unescaped nested parentheses, a stray delimiter, a
    malformed token, an inline image — goes through the general loop
    (:func:`_scan_tokens`) instead, which yields the same tokens where
    both apply. Returns a prebuilt list rather than a generator: the
    ~2 tokens/op generator frame switches were a measured ~15% of
    interpret_page.
    """
    toks = _fast_tokens(data)
    return _scan_tokens(data) if toks is None else toks


def _fast_tokens(data: bytes) -> list | None:
    """:func:`_content_tokens` from one ``findall``, or None where the
    stream needs the general loop. The regex builds every token in C;
    Python only converts and dispatches."""
    out: list = []
    emit = out.append
    stack: list[list] = []
    for num, name, op, lit, hx, br, other in _CTOK_FAST_RE.findall(data):
        if num:
            obj = float(num)
        elif op:
            if op == b"BI":
                return None
            if stack:
                stack.clear()  # op inside an unterminated array: recover
            emit(("op", op))
            continue
        elif name:
            if b"#" in name:
                obj = _parse_name(name, 0)[0]
            else:
                obj = Name(name[1:].decode("latin-1"))
        elif lit:
            if b"\\" in lit:
                obj = _parse_literal_string(lit, 0)[0]
            else:
                obj = lit[1:-1]
        elif br:
            if br == b"[":
                stack.append([])
                continue
            if not stack:
                continue  # stray
            obj = stack.pop()
        elif hx:
            digits = hx[1:-1].translate(None, WS)
            if len(digits) % 2:
                digits += b"0"
            obj = bytes.fromhex(digits.decode("ascii"))
        elif other:
            return None
        else:
            continue  # trailing whitespace / comment
        if stack:
            stack[-1].append(obj)
        else:
            emit(("obj", obj))
    return out


def _scan_tokens(data: bytes) -> list:
    """:func:`_content_tokens` one ``match`` at a time: the general loop,
    which parses dicts and nested strings with the object parser, skips
    stray delimiters and malformed strings, and skips inline images."""
    out: list = []
    emit = out.append
    i = 0
    n = len(data)
    stack: list[list] = []
    ctok_match = _CTOK_RE.match
    while i < n:
        m = ctok_match(data, i)  # never None: the regex ends in ``|\Z``
        i = m.end()
        kind = m.lastgroup
        if kind is None:
            break  # trailing whitespace / comment
        # NOTE group(kind), not group(): the match includes the leading
        # whitespace/comment prefix; the token is the named group
        if kind == "op":
            if stack:
                stack.clear()  # op inside an unterminated array: recover
            op = m.group("op")
            emit(("op", op))
            if op == b"BI":  # inline image: resume after its EI
                i = _find_inline_image_end(data, i)
            continue
        obj = None
        if kind == "num":
            obj = float(m.group("num"))
        elif kind == "name":
            tok = m.group("name")
            if b"#" in tok:
                obj, _ = _parse_name(tok, 0)
            else:
                obj = Name(tok[1:].decode("latin-1"))
        else:  # delimiter
            c = m.group("delim")
            d0 = m.start("delim")
            try:
                if c == b"[":
                    stack.append([])
                    continue
                if c == b"]":
                    if not stack:
                        continue  # stray
                    obj = stack.pop()
                elif c == b"(":
                    obj, i = _parse_literal_string(data, d0)
                elif c == b"<":
                    if data.startswith(b"<<", d0):
                        obj, i = parse_object(data, d0)
                    else:
                        obj, i = _parse_hex_string(data, d0)
                else:
                    continue  # stray ) > { }
            except PDFError:
                continue
        if stack:
            stack[-1].append(obj)
        else:
            emit(("obj", obj))
    return out


def _find_inline_image_end(data: bytes, i: int) -> int:
    m = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r /\[\]<>(]|$)") \
        .search(data, i)
    return m.end() if m else len(data)


def interpret_page(pdf: PDF, page: dict, *, _depth: int = 0,
                   _content: bytes | None = None,
                   _resources: dict | None = None,
                   _ctm=IDENTITY, _budget: list | None = None) -> list[Frag]:
    """Run the content stream(s); return device-space fragments."""
    if _depth > 8:
        return []
    if _budget is None:
        _budget = [1000]  # cumulative Form-XObject invocations for the
        # whole page tree walk: depth alone admits k^8 traversals of a
        # form referenced k times per level (round-6 ADVICE)
    content = _content if _content is not None else pdf.page_content(page)
    resources = pdf.resolve(
        _resources if _resources is not None else page.get("Resources")) or {}
    fonts_d = pdf.resolve(resources.get("Font")) or {}
    xobjs = pdf.resolve(resources.get("XObject")) or {}

    # document-level font cache: multi-page docs share font dicts, and
    # re-parsing a ToUnicode CMap + /W array per PAGE is O(pages) waste
    doc_cache = getattr(pdf, "_font_cache", None)
    if doc_cache is None:
        doc_cache = pdf._font_cache = {}
    # decoded Form XObject content, once per document: a form painted on
    # every page spends the decode budget once, not once per ``Do``
    form_cache = getattr(pdf, "_form_cache", None)
    if form_cache is None:
        form_cache = pdf._form_cache = {}

    def get_font(name: str) -> Font:
        fd = fonts_d.get(name)
        if fd is None:
            return Font()
        key = (fd.num, fd.gen) if isinstance(fd, Ref) else id(fd)
        if key not in doc_cache:
            doc_cache[key] = load_font(pdf, fd)
        return doc_cache[key]

    frags: list[Frag] = []
    ctm = _ctm
    stack: list[tuple] = []
    font = Font()
    tfs = 0.0
    tc = tw = 0.0
    tz = 100.0
    tl = 0.0
    ts = 0.0
    tm = lm = IDENTITY
    in_text = False
    operands: list = []

    def dev_size(m):
        return abs(tfs) * (m[2] * m[2] + m[3] * m[3]) ** 0.5

    def show(raw: bytes):
        nonlocal tm
        if not isinstance(raw, bytes) or not raw:
            return
        m = tm if ctm is IDENTITY else mat_mul(tm, ctm)
        x0, y0 = mat_apply(m, 0.0, ts)
        if not font.two_byte:
            # aggregate 1-byte path: only the TOTAL advance positions the
            # fragment, so the per-glyph sum collapses to one width sum +
            # count terms, and decoding is one translate over latin-1
            trans, warr = font.tables()
            sum_w = sum(map(warr.__getitem__, raw))  # C-level per-byte sum
            tx = (sum_w / 1000.0 * tfs + len(raw) * tc
                  + raw.count(32) * tw) * tz / 100.0
            text = raw.decode("latin-1").translate(trans)
        else:
            chars: list[str] = []
            tx = 0.0
            for code in font.iter_codes(raw):
                chars.append(font.char(code))
                adv = font.width(code) / 1000.0 * tfs + tc
                tx += adv * tz / 100.0
            text = "".join(chars)
        x1 = x0 + m[0] * tx  # mat_apply x-component, y dropped
        if text.strip("\ufffd "):  # pure spaces / unknowns only advance
            frags.append(Frag("text", x0, y0, x1, dev_size(m), text))
        # translation-only advance: inline mat_mul((1,0,0,1,tx,0), tm)
        tm = (tm[0], tm[1], tm[2], tm[3],
              tm[4] + tx * tm[0], tm[5] + tx * tm[1])

    for kind, op in _content_tokens(content):
        if kind == "obj":
            operands.append(op)
            continue
        try:
            # branches in order of operator frequency (Tm and Tj lead
            # in generated PDFs, TJ and Td in pdfTeX output)
            if op == b"Tm" and len(operands) >= 6:
                lm = tm = tuple(map(float, operands[-6:]))
            elif op == b"Tj" and operands:
                show(operands[-1])
            elif op == b"TJ" and operands and isinstance(operands[-1], list):
                for item in operands[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)):
                        shift = -float(item) / 1000.0 * tfs * tz / 100.0
                        if item <= -180:
                            # kern wide enough to be an encoded word space
                            m = (tm if ctm is IDENTITY
                                 else mat_mul(tm, ctm))
                            sx0, sy0 = mat_apply(m, 0.0, ts)
                            frags.append(Frag(
                                "text", sx0, sy0,
                                sx0 + m[0] * shift,
                                dev_size(m), " "))
                        tm = (tm[0], tm[1], tm[2], tm[3],
                              tm[4] + shift * tm[0],
                              tm[5] + shift * tm[1])
            elif op == b"Td" and len(operands) >= 2:
                lm = mat_mul((1, 0, 0, 1,
                              float(operands[-2]), float(operands[-1])), lm)
                tm = lm
            elif op == b"Tf" and len(operands) >= 2:
                font = get_font(str(operands[-2]))
                tfs = float(operands[-1])
            elif op == b"BT":
                in_text = True
                tm = lm = IDENTITY
            elif op == b"ET":
                in_text = False
            elif op == b"q":
                # §8.4.2: the graphics state includes the TEXT-state
                # params (font, size, Tc/Tw/Tz/TL/Ts), not just the CTM
                stack.append((ctm, font, tfs, tc, tw, tz, tl, ts))
            elif op == b"Q":
                if stack:
                    ctm, font, tfs, tc, tw, tz, tl, ts = stack.pop()
            elif op == b"cm" and len(operands) >= 6:
                ctm = mat_mul(tuple(map(float, operands[-6:])), ctm)
            elif op == b"TD" and len(operands) >= 2:
                tl = -float(operands[-1])
                lm = mat_mul((1, 0, 0, 1,
                              float(operands[-2]), float(operands[-1])), lm)
                tm = lm
            elif op == b"T*":
                lm = mat_mul((1, 0, 0, 1, 0.0, -tl), lm)
                tm = lm
            elif op == b"TL" and operands:
                tl = float(operands[-1])
            elif op == b"Tc" and operands:
                tc = float(operands[-1])
            elif op == b"Tw" and operands:
                tw = float(operands[-1])
            elif op == b"Tz" and operands:
                tz = float(operands[-1])
            elif op == b"Ts" and operands:
                ts = float(operands[-1])
            elif op == b"'" and operands:
                lm = mat_mul((1, 0, 0, 1, 0.0, -tl), lm)
                tm = lm
                show(operands[-1])
            elif op == b'"' and len(operands) >= 3:
                tw = float(operands[-3])
                tc = float(operands[-2])
                lm = mat_mul((1, 0, 0, 1, 0.0, -tl), lm)
                tm = lm
                show(operands[-1])
            elif op == b"Do" and operands:
                name = str(operands[-1])
                xo = pdf.resolve(xobjs.get(name))
                if isinstance(xo, Stream):
                    st = str(pdf.resolve(xo.dict.get("Subtype", "")))
                    if st == "Image":
                        x, y = mat_apply(ctm, 0.5, 0.5)
                        ref = f"pdfimg:{name}"
                        frags.append(Frag("media", x, y, x, 0.0, None, ref))
                    elif st == "Form":
                        _budget[0] -= 1
                        if _budget[0] < 0:
                            raise PDFBudgetError(
                                "form-xobject budget exceeded")
                        fm = pdf.resolve(xo.dict.get("Matrix"))
                        m = (tuple(float(pdf.resolve(v)) for v in fm)
                             if isinstance(fm, list) and len(fm) == 6
                             else IDENTITY)
                        # Streams live in pdf._cache: id(xo) is stable
                        body = form_cache.get(id(xo))
                        if body is None:
                            body = form_cache[id(xo)] = \
                                decode_stream(pdf, xo)
                        frags.extend(interpret_page(
                            pdf, page, _depth=_depth + 1,
                            _content=body,
                            _resources=pdf.resolve(
                                xo.dict.get("Resources")) or resources,
                            _ctm=mat_mul(m, ctm), _budget=_budget))
            elif op == b"BI":
                # inline image (the tokenizer skipped it): placeholder
                x, y = mat_apply(ctm, 0.5, 0.5)
                frags.append(Frag("media", x, y, x, 0.0, None, "pdfimg:inline"))
        except PDFBudgetError:
            raise
        except (TypeError, ValueError, KeyError, IndexError):
            pass  # malformed operand run — PDF viewers skip, so do we
        operands = []
    return frags


# ---------------------------------------------------------------------------
# layout assembly


class Line:
    __slots__ = ("kind", "y", "x0", "x1", "text", "size", "ref")

    def __init__(self, kind, y, x0, x1, text, size, ref=None):
        self.kind, self.y, self.x0, self.x1 = kind, y, x0, x1
        self.text, self.size, self.ref = text, size, ref


_MULTISPACE_RE = re.compile(r"  +")
_first = itemgetter(0)


def _frags_to_lines(frags: list[Frag]) -> list[Line]:
    """Cluster a page's text fragments into lines by baseline y, join each
    line's parts left to right with inferred word spaces, and return the
    text and media lines top to bottom.

    Fragments are visited in ``(-y, x0)`` order, and each joins the
    earliest-created line within ``tol`` of its y (first fit), else starts
    a new one. Lines are created in non-increasing y and keep their y, so
    the lines within ``tol`` of a fragment are a suffix of the line list
    whose start never moves back: one pointer sweep finds the first fit.
    That holds for finite y only (``inf - inf`` is NaN), so a page with a
    non-finite y scans the list for each fragment instead.
    """
    text_frags = [f for f in frags if f.kind == "text"]
    media_frags = [f for f in frags if f.kind == "media"]
    sizes = sorted(f.size for f in text_frags if f.size > 0)
    med = sizes[len(sizes) // 2] if sizes else 10.0
    tol = max(1.0, 0.45 * med)
    lines: list[Line] = []
    order = sorted(text_frags, key=lambda f: (-f.y, f.x0))
    # a sum is finite only if every term is (an overflow just scans)
    sweep = math.isfinite(sum([f.y for f in order]))
    k = 0  # sweep: index of the first line within tol of the fragment
    for f in order:
        y = f.y
        if sweep:
            n = len(lines)
            while k < n and not lines[k].y - y <= tol:
                k += 1
            placed = lines[k] if k < n else None
        else:
            placed = next((ln for ln in lines if abs(ln.y - y) <= tol), None)
        x0, x1 = f.x0, f.x1
        if placed is None:
            lines.append(Line("text", y, x0, x1, [(x0, x1, f.text, f.size)],
                              f.size))
        else:
            placed.text.append((x0, x1, f.text, f.size))
            if x0 < placed.x0:
                placed.x0 = x0
            if x1 > placed.x1:
                placed.x1 = x1
    out: list[Line] = []
    for ln in lines:
        parts = sorted(ln.text, key=_first)
        buf: list[str] = []
        prev_x1 = None
        for x0, x1, text, size in parts:
            if prev_x1 is not None and text and not text.startswith(" "):
                gap = x0 - prev_x1
                if gap > max(0.9, 0.17 * (size or ln.size)):
                    if buf and not buf[-1].endswith(" "):
                        buf.append(" ")
            buf.append(text)
            prev_x1 = max(x1, x0)
        joined = _MULTISPACE_RE.sub(" ", "".join(buf)).strip()
        if joined:
            out.append(Line("text", ln.y, ln.x0, ln.x1, joined, ln.size))
    for f in media_frags:
        out.append(Line("media", f.y, f.x0, f.x0, None, 0.0, f.ref))
    out.sort(key=lambda l: (-l.y, l.x0))
    return out


def _order_columns(lines: list[Line]) -> list[Line]:
    """Two-column reading order: if a clean vertical gutter exists, emit
    the left column top-to-bottom, then the right."""
    text = [l for l in lines if l.kind == "text"]
    if len(text) < 8:
        return lines
    x_lo = min(l.x0 for l in text)
    x_hi = max(l.x1 for l in text)
    body = x_hi - x_lo
    if body <= 0:
        return lines
    best = None
    for step in range(7, 14):  # candidate gutters at 35%..65% of body
        split = x_lo + body * step / 20.0
        crossing = sum(1 for l in text if l.x0 < split - 2 and l.x1 > split + 2)
        left = sum(1 for l in text if (l.x0 + l.x1) / 2 < split)
        right = len(text) - left
        if crossing <= max(1, len(text) // 20) and \
                left >= len(text) * 0.25 and right >= len(text) * 0.25:
            score = crossing - min(left, right) * 0.001
            if best is None or score < best[0]:
                best = (score, split)
    if best is None:
        return lines
    split = best[1]
    left = [l for l in lines if (l.x0 + l.x1) / 2 < split]
    right = [l for l in lines if (l.x0 + l.x1) / 2 >= split]
    return left + right


def _norm_furniture(text: str) -> str:
    return re.sub(r"\d+", "#", re.sub(r"\s+", " ", text or "")).strip().lower()


def _drop_page_furniture(
    pages: list[list[Line]], boxes: list[tuple[float, float]],
) -> list[list[Line]]:
    """Remove headers/footers: lines in the top/bottom 6% band of the
    MediaBox whose digit-masked text repeats at a consistent y on ≥60%
    of pages.  Both the band and the y-consistency requirement exist so
    repetitive *body* text (which digit masking can collapse) is never
    mistaken for furniture."""
    if len(pages) < 3:
        return pages

    def in_band(l: Line, box) -> bool:
        y0, y1 = box
        band = 0.06 * max(y1 - y0, 1.0)
        return l.y >= y1 - band or l.y <= y0 + band

    counts: dict[str, int] = {}
    ys: dict[str, list[float]] = {}
    for lines, box in zip(pages, boxes):
        seen = set()
        for l in lines:
            if l.kind != "text" or not in_band(l, box):
                continue
            key = _norm_furniture(l.text)
            if key and key not in seen:
                counts[key] = counts.get(key, 0) + 1
                ys.setdefault(key, []).append(l.y)
                seen.add(key)
    thresh = max(2, (len(pages) * 3 + 4) // 5)  # ceil(0.6 * n)
    furniture = {
        k for k, v in counts.items()
        if v >= thresh and max(ys[k]) - min(ys[k]) <= 6.0
    }
    if not furniture:
        return pages
    return [
        [l for l in lines
         if not (l.kind == "text" and in_band(l, box)
                 and _norm_furniture(l.text) in furniture)]
        for lines, box in zip(pages, boxes)
    ]


# ---------------------------------------------------------------------------
# public API


def _page_view(pdf: PDF, page: dict):
    """(initial ctm, reader-space y-range) honouring /Rotate.

    /Rotate turns the page for DISPLAY (ISO 32000-1 §14.8.4.2 treats the
    displayed orientation as reading order); baking the inverse rotation
    into the initial CTM puts fragments straight into reader space, so
    line clustering / column order / furniture bands work unchanged.
    """
    mb = pdf.resolve(page.get("MediaBox")) or [0, 0, 612, 792]
    try:
        x0, y0, x1, y1 = (float(pdf.resolve(v)) for v in mb[:4])
    except (TypeError, ValueError):
        x0, y0, x1, y1 = 0.0, 0.0, 612.0, 792.0
    try:
        rot = int(pdf.resolve(page.get("Rotate")) or 0) % 360
    except (TypeError, ValueError):
        rot = 0
    if rot == 90:    # display = page turned clockwise
        return (0.0, -1.0, 1.0, 0.0, -y0, x1), (0.0, x1 - x0)
    if rot == 180:
        return (-1.0, 0.0, 0.0, -1.0, x1, y1), (0.0, y1 - y0)
    if rot == 270:
        return (0.0, 1.0, -1.0, 0.0, y1, -x0), (0.0, x1 - x0)
    return IDENTITY, (y0, y1)


def pdf_page_lines(data: bytes) -> list[list[Line]]:
    pdf = PDF(data)
    pages = pdf.pages()
    if not pages:
        raise PDFError("no pages")
    if len(pages) > 10000:
        raise PDFError("page count implausible")
    per_page = []
    boxes = []
    for page in pages:
        ctm0, ybounds = _page_view(pdf, page)
        frags = interpret_page(pdf, page, _ctm=ctm0)
        per_page.append(_order_columns(_frags_to_lines(frags)))
        boxes.append(ybounds)
    return _drop_page_furniture(per_page, boxes)


def _assemble_spans(pages: list[list[Line]]) -> list[dict]:
    spans: list[dict] = []
    buf: list[str] = []

    def flush():
        if buf:
            spans.append({"kind": "text", "text": "\n".join(buf),
                          "media_ref": None, "offset": len(spans)})
            buf.clear()

    for lines in pages:
        for ln in lines:
            if ln.kind == "media":
                flush()
                spans.append({"kind": "media", "text": None,
                              "media_ref": ln.ref, "offset": len(spans)})
            else:
                buf.append(ln.text)
        flush()  # page boundary ends the text run
    return spans


def pdf_extract_spans(data: bytes) -> list[dict]:
    """PDF bytes → interleaved spans [{kind, text, media_ref, offset}].

    Text lines accumulate into one text span per run; an image XObject /
    inline image flushes the run and emits a ``media`` span, preserving
    content order — the same span-sequence model as extract.py:247's
    HTML re-emission, so downstream operators are format-agnostic.
    """
    return _assemble_spans(pdf_page_lines(data))


def pdf_doc_spans(data: bytes) -> tuple[list[dict], int]:
    """Single-parse ``(interleaved spans, page count)``.

    The unit of work of the Spark worker (:func:`pdf_parsed_df`) — one
    xref load and one content-stream interpretation serve both outputs.
    """
    pages = pdf_page_lines(data)
    return _assemble_spans(pages), len(pages)


def pdf_extract_text(data: bytes) -> str:
    """PDF bytes → extracted main text (page furniture removed)."""
    parts = [s["text"] for s in pdf_extract_spans(data) if s["kind"] == "text"]
    return "\n".join(parts)


def pdf_page_count(data: bytes) -> int:
    return len(PDF(data).pages())


def pdf_links(data: bytes) -> list[dict]:
    """URI link annotations in page order: [{page, uri}, ...].

    The PDF analogue of the HTML tier's anchor extraction
    (spark/links.py): /Annots → /Subtype /Link → /A /S /URI. Internal
    GoTo destinations carry no URL and are skipped.
    """
    pdf = PDF(data)
    out: list[dict] = []
    for pno, page in enumerate(pdf.pages()):
        annots = pdf.resolve(page.get("Annots"))
        if not isinstance(annots, list):
            continue
        for a in annots:
            a = pdf.resolve(a)
            if (not isinstance(a, dict)
                    or str(pdf.resolve(a.get("Subtype"))) != "Link"):
                continue
            action = pdf.resolve(a.get("A"))
            if (not isinstance(action, dict)
                    or str(pdf.resolve(action.get("S"))) != "URI"):
                continue
            uri = pdf.resolve(action.get("URI"))
            if isinstance(uri, bytes):
                uri = uri.decode("latin-1", "replace")
            if isinstance(uri, str) and uri:
                out.append({"page": pno, "uri": uri})
    return out


def pdf_metadata(data: bytes) -> dict:
    pdf = PDF(data)
    info = pdf.info()
    out = {"pages": len(pdf.pages())}
    for k in ("Title", "Author", "Subject", "Producer", "Creator"):
        v = pdf.resolve(info.get(k))
        if isinstance(v, bytes):
            if v.startswith(b"\xfe\xff"):
                v = v.decode("utf-16-be", "replace").lstrip("﻿")
            else:
                v = v.decode("latin-1", "replace")
        if isinstance(v, str) and v:
            out[k.lower()] = v
    return out


# ---------------------------------------------------------------------------
# deterministic writer (tests / datagen) — Helvetica metrics embedded

HELV_WIDTHS = [
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584,
]  # codes 32..126, thousandths of em (Adobe core-14 Helvetica AFM)


def _helv_width(text: str, size: float) -> float:
    total = 0
    for ch in text:
        c = ord(ch)
        total += HELV_WIDTHS[c - 32] if 32 <= c <= 126 else 556
    return total / 1000.0 * size


def _esc_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _wrap_words(words: list[str], width_pts: float, size: float) -> list[list[str]]:
    lines: list[list[str]] = []
    cur: list[str] = []
    cur_w = 0.0
    space_w = HELV_WIDTHS[0] / 1000.0 * size
    for w in words:
        ww = _helv_width(w, size)
        add = ww if not cur else ww + space_w
        if cur and cur_w + add > width_pts:
            lines.append(cur)
            cur, cur_w = [w], ww
        else:
            cur.append(w)
            cur_w += add
    if cur:
        lines.append(cur)
    return lines


def build_pdf(pages: list[list[tuple]], *, header: str | None = None,
              footer: str | None = None, two_column: bool = False,
              compress: bool = True, font_size: float = 10.0,
              page_size: tuple = (612, 792), margin: float = 54.0,
              rotate: int = 0, xref_stream: bool = False) -> bytes:
    """Deterministic PDF writer for tests.

    ``pages`` is a list of pages; each page is a list of items:
    ``("text", str)`` paragraphs or ``("image",)`` placeholders. Words
    are emitted with NO space glyphs: even lines use one TJ array with
    -278/1000 em kern offsets between words; odd lines position every
    word with its own Tm — both force the extractor to *infer* spacing
    from advances, which is the layout property under test.

    ``rotate`` ∈ {0, 90, 180, 270} stores the content pre-rotated in
    user space with a matching /Rotate page entry (how scanners emit
    sideways pages) — the DISPLAYED text is identical, so extraction
    must return the same spans as the unrotated document.
    """
    pw, ph = page_size
    rotate %= 360
    if rotate not in (0, 90, 180, 270):
        raise ValueError("rotate must be a multiple of 90")
    if rotate in (90, 270):
        media_box = (ph, pw)  # unrotated sheet is the displayed one turned
    else:
        media_box = (pw, ph)
    rot_cm = {
        0: None,
        # R = D^-1 for pdf_page_lines._page_view's display mapping: lay
        # content out in display coords, store it rotated back
        90: f"0 1 -1 0 {ph:g} 0 cm",
        180: f"-1 0 0 -1 {pw:g} {ph:g} cm",
        270: f"0 -1 1 0 0 {pw:g} cm",
    }[rotate]
    objects: list[bytes] = []  # 1-based implicit numbering

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    font_num = add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /FirstChar 32 /LastChar 126 /Widths ["
        + " ".join(str(w) for w in HELV_WIDTHS).encode()
        + b"] /Encoding /WinAnsiEncoding >>")
    img_raw = zlib.compress(bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 40, 40, 40]))
    img_num = add(
        b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
        b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode"
        b" /Length " + str(len(img_raw)).encode() + b" >>\nstream\n"
        + img_raw + b"\nendstream")

    page_nums: list[int] = []
    n_links = sum(1 for items in pages for it in items if it[0] == "link")
    pages_tree_num = len(objects) + 2 * len(pages) + n_links + 1

    space_w = HELV_WIDTHS[0]  # 278

    for pno, items in enumerate(pages):
        ops: list[str] = []
        if rot_cm:
            ops.append(rot_cm)
        ops += ["BT", f"/F1 {font_size:g} Tf"]
        if header:
            hx = margin
            ops.append(f"1 0 0 1 {hx:g} {ph - 28:g} Tm")
            ops.append(f"({_esc_pdf_string(header)}) Tj")
        col_w = ((pw - 2 * margin) - 18) / 2 if two_column else pw - 2 * margin
        col_x = [margin, margin + col_w + 18] if two_column else [margin]
        leading = font_size * 1.35
        top_y = ph - margin - font_size
        bot_y = margin + (14 if footer else 0)
        col = 0
        y = top_y
        line_idx = 0

        def emit_line(words: list[str], x: float, yy: float, idx: int):
            if idx % 2 == 0:
                arr = []
                for k, w in enumerate(words):
                    if k:
                        arr.append(str(-space_w))
                    arr.append(f"({_esc_pdf_string(w)})")
                ops.append(f"1 0 0 1 {x:.2f} {yy:.2f} Tm")
                ops.append("[" + " ".join(arr) + "] TJ")
            else:
                wx = x
                for w in words:
                    ops.append(f"1 0 0 1 {wx:.2f} {yy:.2f} Tm")
                    ops.append(f"({_esc_pdf_string(w)}) Tj")
                    wx += _helv_width(w, font_size) \
                        + space_w / 1000.0 * font_size

        # links collected up front: they are annotations, not layout, so
        # overflow must not drop them (pages_tree_num pre-counts them all)
        page_links: list[str] = [str(it[1]) for it in items
                                 if it[0] == "link"]
        overflow = False
        for item in items:
            if overflow:
                break
            if item[0] == "link":
                continue
            if item[0] == "image":
                if y - 34 < bot_y:
                    if two_column and col == 0:
                        col, y = 1, top_y
                    else:
                        overflow = True
                        continue
                ops.append(f"q 40 0 0 30 {col_x[col]:.2f} {y - 30:.2f} cm"
                           f" /Im1 Do Q")
                y -= 34 + leading * 0.5
                continue
            words = str(item[1]).split()
            for line_words in _wrap_words(words, col_w, font_size):
                if y < bot_y:
                    if two_column and col == 0:
                        col, y = 1, top_y
                    else:
                        overflow = True
                        break
                emit_line(line_words, col_x[col], y, line_idx)
                line_idx += 1
                y -= leading
            y -= leading * 0.35  # paragraph gap
        if footer:
            ops.append(f"1 0 0 1 {margin:g} 22 Tm")
            ops.append(f"({_esc_pdf_string(footer)} {pno + 1}) Tj")
        ops.append("ET")
        content = "\n".join(ops).encode("latin-1")
        extra = b""
        if compress:
            content = zlib.compress(content)
            extra = b" /Filter /FlateDecode"
        cnum = add(b"<< /Length " + str(len(content)).encode() + extra
                   + b" >>\nstream\n" + content + b"\nendstream")
        rot_entry = f" /Rotate {rotate}".encode() if rotate else b""
        annots_entry = b""
        if page_links:
            anums = [
                add(b"<< /Type /Annot /Subtype /Link /Rect [54 "
                    + f"{20 + 14 * k:g} 200 {32 + 14 * k:g}".encode()
                    + b"] /A << /S /URI /URI ("
                    + _esc_pdf_string(uri).encode("latin-1", "replace")
                    + b") >> >>")
                for k, uri in enumerate(page_links)
            ]
            annots_entry = (b" /Annots ["
                            + " ".join(f"{n} 0 R" for n in anums).encode()
                            + b"]")
        pnum = add(
            b"<< /Type /Page /Parent " + str(pages_tree_num).encode()
            + b" 0 R /MediaBox [0 0 "
            + f"{media_box[0]:g} {media_box[1]:g}".encode()
            + b"]" + rot_entry + annots_entry
            + b" /Resources << /Font << /F1 " + str(font_num).encode()
            + b" 0 R >> /XObject << /Im1 " + str(img_num).encode()
            + b" 0 R >> >> /Contents " + str(cnum).encode() + b" 0 R >>")
        page_nums.append(pnum)

    kids = " ".join(f"{n} 0 R" for n in page_nums).encode()
    ptn = add(b"<< /Type /Pages /Kids [" + kids + b"] /Count "
              + str(len(page_nums)).encode() + b" >>")
    assert ptn == pages_tree_num, (ptn, pages_tree_num)
    cat = add(b"<< /Type /Catalog /Pages " + str(ptn).encode() + b" 0 R >>")
    info = add(b"<< /Producer (sparkhtml.pdf build_pdf) >>")

    if xref_stream:
        # PDF 1.5 layout: non-stream objects packed into one /ObjStm
        # (type-2 xref entries), stream objects direct (type-1), and a
        # /Type /XRef cross-reference STREAM instead of a classic table
        # — the same structures pdfTeX emits, so the reader's hardest
        # D1 branches get volume self-coverage, not just two externals.
        out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
        objstm_num = len(objects) + 1
        xref_num = len(objects) + 2
        size = len(objects) + 3
        direct_off: dict[int, int] = {}
        packed: dict[int, bytes] = {}
        for num, obj in enumerate(objects, 1):
            if b"endstream" in obj:
                direct_off[num] = len(out)
                out += str(num).encode() + b" 0 obj\n" + obj + b"\nendobj\n"
            else:
                packed[num] = obj
        hdr_parts = []
        body = bytearray()
        idx_of: dict[int, int] = {}
        for k, (num, obj) in enumerate(packed.items()):
            idx_of[num] = k
            hdr_parts.append(f"{num} {len(body)}")
            body += obj + b"\n"
        hdr = (" ".join(hdr_parts) + "\n").encode()
        stm = zlib.compress(bytes(hdr + body))
        direct_off[objstm_num] = len(out)
        out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
                f"/First {len(hdr)} /Filter /FlateDecode "
                f"/Length {len(stm)} >>\nstream\n").encode()
        out += stm + b"\nendstream\nendobj\n"
        xref_off = len(out)
        direct_off[xref_num] = xref_off
        rows = bytearray()
        for num in range(size):
            if num == 0:
                t, f2, f3 = 0, 0, 65535
            elif num in idx_of:
                t, f2, f3 = 2, objstm_num, idx_of[num]
            else:
                t, f2, f3 = 1, direct_off[num], 0
            rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        xdata = zlib.compress(bytes(rows))
        out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} "
                f"/W [1 4 2] /Root {cat} 0 R /Info {info} 0 R "
                f"/Filter /FlateDecode /Length {len(xdata)} >>\n"
                f"stream\n").encode()
        out += xdata + b"\nendstream\nendobj\n"
        out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
        return bytes(out)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += str(num).encode() + b" 0 obj\n" + obj + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 " + str(len(objects) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(len(objects) + 1).encode()
            + b" /Root " + str(cat).encode() + b" 0 R /Info "
            + str(info).encode() + b" 0 R >>\nstartxref\n"
            + str(xref_off).encode() + b"\n%%EOF\n")
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark operators — Arrow-batched, per-row error channel, zero shuffle


def _parse_arrow(batches, schema):
    """mapInArrow worker: (id, pdf bytes) → (id, spans, n_pages, err).

    One :func:`pdf_doc_spans` call per document. A blob that fails to
    parse yields empty spans, a null ``n_pages`` and the error text in
    ``err`` — never a task failure (multimodal.py's error-channel
    contract).
    """
    import pyarrow as pa

    spans_t = schema.field("spans").type
    for batch in batches:
        all_spans, pages, errs = [], [], []
        for blob in batch.column(1).to_pylist():
            try:
                if blob is None:
                    raise PDFError("null payload")
                spans, n_pg = pdf_doc_spans(blob)
                all_spans.append(spans)
                pages.append(n_pg)
                errs.append(None)
            except Exception as e:  # noqa: BLE001 — error channel
                all_spans.append([])
                pages.append(None)
                errs.append(f"{type(e).__name__}: {e}"[:500])
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), pa.array(all_spans, spans_t),
             pa.array(pages, pa.int32()), pa.array(errs, pa.string())],
            schema=schema)


def pdf_parsed_df(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """(id, pdf bytes) → (id, spans, n_pages, err) (``schemas.PDF_PARSED``),
    the PDF tier's one worker: a scan-local ``mapInArrow``, zero shuffle,
    as in pipeline.py. :func:`pdf_spans_df` and :func:`pdf_extract_df`
    project it."""
    from functools import partial

    from pyspark.sql import types as T

    from . import schemas
    from .partitioning import fan_out

    schema = T.StructType([T.StructField(id_col, T.StringType()),
                           *schemas.PDF_PARSED.fields[1:]])
    worker = partial(_parse_arrow, schema=schemas.to_arrow(schema))
    return fan_out(df.select(id_col, payload_col)).mapInArrow(worker, schema)


def pdf_extract_df(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """(id, pdf bytes) → (id, n_pages, n_media, n_chars, text, err).

    A JVM projection over the parsed spans: ``text`` joins the text spans
    with newlines, ``n_media`` counts the media spans. Malformed /
    encrypted / unsupported-filter PDFs land in ``err`` with the other
    columns null.
    """
    from pyspark.sql import functions as F

    ok = F.col("err").isNull()
    text = F.array_join(
        F.transform(F.filter("spans", lambda s: s.kind == "text"),
                    lambda s: s.text), "\n")
    n_media = F.size(F.filter("spans", lambda s: s.kind == "media"))
    return pdf_parsed_df(df, payload_col, id_col).select(
        id_col, "n_pages",
        F.when(ok, n_media).alias("n_media"),
        F.when(ok, F.length(text)).alias("n_chars"),
        F.when(ok, text).alias("text"),
        "err")


def pdf_spans_df(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """(id, pdf bytes) → (id, spans, err): PDFs become rows of the SAME
    spans table as parsed HTML (schemas.DOCUMENTS_INTERLEAVED), so every
    downstream operator (dedup, quality, curation, span re-emission) is
    format-agnostic."""
    return pdf_parsed_df(df, payload_col, id_col).select(id_col, "spans", "err")
