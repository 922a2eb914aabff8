"""PDF text + layout extraction tests (sparkhtml.spark.pdf).

Correctness rests on three independent legs:

1. writer↔extractor round-trips where the writer deliberately emits NO
   space glyphs (TJ kern offsets on even lines, per-word Tm positioning
   on odd lines), so spacing must be *inferred* from advances;
2. closed-form layout properties (two-column reading order, repeated
   header/footer removal, media placeholders in content order);
3. two system PDFs produced by independent toolchains (pdfTeX 1.40.x),
   exercising cross-reference streams, object streams, and TeX Type1
   fonts this repo's writer never emits.
"""

import os

import pytest

from sparkhtml.spark.pdf import (
    PDF,
    PDFError,
    Name,
    Ref,
    Stream,
    _ascii85_decode,
    _parse_tounicode,
    _png_unpredict,
    _runlength_decode,
    build_pdf,
    decode_stream,
    glyph_to_unicode,
    load_font,
    parse_object,
    pdf_doc_spans,
    pdf_extract_spans,
    pdf_extract_text,
    pdf_metadata,
    pdf_page_count,
)

EXTERNAL = [
    ("/usr/share/doc/libtasn1-doc/libtasn1.pdf",
     36, ["ASN.1", "libtasn1", "asn1_write_value"]),
    ("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
     17, ["Shared MIME-info Database", "freedesktop.org", "magic"]),
]


# ---------------------------------------------------------------------------
# object parser


def test_parse_basic_objects():
    assert parse_object(b" 42 ", 0)[0] == 42
    assert parse_object(b"-3.5", 0)[0] == -3.5
    assert parse_object(b".25", 0)[0] == 0.25
    assert parse_object(b"true", 0)[0] is True
    assert parse_object(b"null", 0)[0] is None
    assert parse_object(b"/Name#20x", 0)[0] == Name("Name x")
    assert parse_object(b"(lit (nested) \\(esc\\) \\101)", 0)[0] == \
        b"lit (nested) (esc) A"
    assert parse_object(b"<48 65 6C6C6F7>", 0)[0] == b"Hellop"  # ws ignored, odd padded


def test_parse_ref_vs_ints():
    obj, _ = parse_object(b"12 0 R", 0)
    assert obj == Ref(12, 0)
    # two ints NOT followed by R parse as a single int first
    obj, i = parse_object(b"12 0 obj", 0)
    assert obj == 12
    arr, _ = parse_object(b"[1 2 R 3]", 0)  # "1 2 R" is a ref, then 3
    assert arr == [Ref(1, 2), 3]


def test_parse_dict_nested():
    d, _ = parse_object(
        b"<< /A 1 /B [ /X (s) ] /C << /D 2 0 R >> >>", 0)
    assert d["A"] == 1 and d["B"] == [Name("X"), b"s"]
    assert d["C"]["D"] == Ref(2, 0)


def test_literal_string_line_continuation_and_octal():
    assert parse_object(b"(a\\\nb)", 0)[0] == b"ab"
    assert parse_object(b"(\\0053)", 0)[0] == b"\x053"


# ---------------------------------------------------------------------------
# filters


def test_png_predictor_up_sub_paeth():
    # columns=2, 1 byte/px: rows [1,2] then deltas
    raw = bytes([0, 1, 2,   # none
                 2, 3, 4,   # up: 4,6
                 1, 5, 1])  # sub: 5,6
    out = _png_unpredict(raw, 2, 1, 8)
    assert list(out) == [1, 2, 4, 6, 5, 6]


def test_ascii85_runlength():
    import zlib
    assert _ascii85_decode(b"ARTY*~>") == b"easy"
    assert _ascii85_decode(b"ARTY*+E1n#F*R~>") == b"easy peasy"  # partial group
    assert _runlength_decode(bytes([2]) + b"abc" + bytes([254]) + b"z"
                             + bytes([128])) == b"abczzz"


def test_decode_stream_filter_chain():
    import zlib
    payload = b"hello filter chain"
    flate = zlib.compress(payload)
    hexed = flate.hex().encode() + b">"
    st = Stream({"Filter": [Name("ASCIIHexDecode"), Name("FlateDecode")]},
                hexed)

    class FakePDF:
        def resolve(self, o, depth=0):
            return o

    assert decode_stream(FakePDF(), st) == payload


def test_unsupported_filter_raises():
    st = Stream({"Filter": Name("JBIG2Decode")}, b"x")

    class FakePDF:
        def resolve(self, o, depth=0):
            return o

    with pytest.raises(PDFError):
        decode_stream(FakePDF(), st)


# ---------------------------------------------------------------------------
# fonts


def test_glyph_names():
    assert glyph_to_unicode("comma") == ","
    assert glyph_to_unicode("quotedblleft") == "“"
    assert glyph_to_unicode("fi") == "ﬁ"
    assert glyph_to_unicode("uni0041") == "A"
    assert glyph_to_unicode("u1F600") == "😀"
    assert glyph_to_unicode("eacute") == "é"
    assert glyph_to_unicode("Z") == "Z"


def test_tounicode_cmap():
    cmap = b"""
    begincmap
    2 beginbfchar
    <0041> <0061>
    <0042> <00660066>
    endbfchar
    1 beginbfrange
    <0050> <0052> <0070>
    endbfrange
    1 beginbfrange
    <0060> <0061> [<007A> <0079>]
    endbfrange
    endcmap
    """
    m = _parse_tounicode(cmap)
    assert m[0x41] == "a" and m[0x42] == "ff"
    assert m[0x50] == "p" and m[0x52] == "r"
    assert m[0x60] == "z" and m[0x61] == "y"


# ---------------------------------------------------------------------------
# writer ↔ extractor round-trips


def test_roundtrip_single_page():
    text = ("Parsing portable documents demands xref tables objects "
            "streams and patience beyond mortal reckoning")
    out = pdf_extract_text(build_pdf([[("text", text)]]))
    assert out.replace("\n", " ") == text


def test_roundtrip_uncompressed():
    text = "Uncompressed content stream round trip check"
    out = pdf_extract_text(build_pdf([[("text", text)]], compress=False))
    assert out.replace("\n", " ") == text


def test_roundtrip_multipage_wrapping():
    paras = [f"Paragraph {i} " + " ".join(f"tok{i}x{j}" for j in range(40))
             for i in range(6)]
    pdf = build_pdf([[("text", p)] for p in paras])
    assert pdf_page_count(pdf) == 6
    out = pdf_extract_text(pdf).split()
    exp = " ".join(paras).split()
    assert out == exp


def test_punctuation_and_escapes_roundtrip():
    text = "Values (alpha) cost $4.50 -- 100% \\ backslash & fin"
    out = pdf_extract_text(build_pdf([[("text", text)]]))
    assert out.replace("\n", " ") == text


def test_furniture_removed_across_pages():
    pages = [[("text", f"Body paragraph number {i} with enough words to "
                       "make a couple of wrapped lines of real content.")]
             for i in range(5)]
    pdf = build_pdf(pages, header="Site Manual", footer="draft page")
    t = pdf_extract_text(pdf)
    assert "Site Manual" not in t and "draft" not in t
    for i in range(5):
        assert f"number {i}" in t


def test_furniture_kept_below_three_pages():
    pages = [[("text", "Body one with words.")],
             [("text", "Body two with words.")]]
    pdf = build_pdf(pages, header="Kept Header")
    assert "Kept Header" in pdf_extract_text(pdf)


def test_two_column_reading_order():
    words = [f"w{i:03d}" for i in range(140)]
    pdf = build_pdf([[("text", " ".join(words))]], two_column=True)
    assert pdf_extract_text(pdf).split() == words


def test_media_spans_in_content_order():
    pdf = build_pdf([[
        ("text", "Before the first figure some prose."),
        ("image",),
        ("text", "Between figures more prose lives here."),
        ("image",),
        ("text", "After both figures the text ends."),
    ]])
    spans = pdf_extract_spans(pdf)
    assert [s["kind"] for s in spans] == \
        ["text", "media", "text", "media", "text"]
    assert spans[0]["text"].startswith("Before")
    assert spans[2]["text"].startswith("Between")
    assert spans[4]["text"].startswith("After")
    assert [s["offset"] for s in spans] == list(range(5))
    assert all(s["media_ref"] for s in spans if s["kind"] == "media")


def test_metadata_and_page_count():
    pdf = build_pdf([[("text", "one")], [("text", "two")]])
    assert pdf_page_count(pdf) == 2
    assert pdf_metadata(pdf)["pages"] == 2


# ---------------------------------------------------------------------------
# hostile inputs → PDFError (the Spark error channel), never hangs


@pytest.mark.parametrize("blob", [
    b"",
    b"not a pdf",
    b"%PDF-1.4\ngarbage with no xref",
    b"%PDF-1.4\nstartxref\n999999\n%%EOF",
])
def test_malformed_raises(blob):
    with pytest.raises(PDFError):
        pdf_page_count(blob)


def test_truncated_real_pdf_raises_not_hangs():
    pdf = build_pdf([[("text", "will be truncated " * 20)]])
    for frac in (0.15, 0.5, 0.9):
        blob = pdf[: int(len(pdf) * frac)]
        with pytest.raises(PDFError):
            pdf_page_count(blob)


def test_encrypted_rejected():
    pdf = bytearray(build_pdf([[("text", "secret")]]))
    # splice /Encrypt into the trailer dict
    idx = pdf.rfind(b"/Root")
    pdf[idx:idx] = b"/Encrypt 1 0 R "
    with pytest.raises(PDFError, match="encrypt"):
        pdf_page_count(bytes(pdf))


def test_reference_cycle_guard():
    # object that is a reference to itself via the page tree
    with pytest.raises(PDFError):
        pdf = PDF(build_pdf([[("text", "x")]]))
        pdf.resolve(Ref(9999, 0), depth=33)


# ---------------------------------------------------------------------------
# external fixtures: independent toolchains (pdfTeX)


@pytest.mark.parametrize("path,pages,marks", EXTERNAL)
def test_external_pdfs(path, pages, marks):
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    data = open(path, "rb").read()
    assert pdf_page_count(data) == pages
    meta = pdf_metadata(data)
    assert "pdfTeX" in meta.get("producer", "")
    text = pdf_extract_text(data)
    assert len(text) > 10000
    for mark in marks:
        assert mark in text, f"{mark!r} missing from {path}"


def test_external_pdf_spans_structure():
    path = EXTERNAL[0][0]
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    spans = pdf_extract_spans(open(path, "rb").read())
    assert all(s["offset"] == i for i, s in enumerate(spans))
    assert all(
        (s["kind"] == "text") == (s["media_ref"] is None) for s in spans)


def test_load_font_reads_each_inline_dict_afresh():
    """Widths load only for an integer /FirstChar, so a font dict that
    differs from the previous one only in 32 vs 32.0 must come back with
    no widths, not as the earlier dict's Font."""
    pdf = PDF(build_pdf([[("text", "font")]]))
    base = {"Type": Name("Font"), "Subtype": Name("Type1"),
            "BaseFont": Name("Helvetica"), "Widths": [500, 600]}
    first = load_font(pdf, {**base, "FirstChar": 32})
    second = load_font(pdf, {**base, "FirstChar": 32.0})
    assert first.widths == {32: 500.0, 33: 600.0}
    assert second is not first and second.widths == {}


# ---------------------------------------------------------------------------
# Spark operators


def test_pdf_extract_df_and_error_channel(spark):
    from sparkhtml.spark.pdf import pdf_extract_df

    rows = []
    for i in range(12):
        items = [("text", f"Doc {i} words " +
                  " ".join(f"t{i}x{j}" for j in range(25)))]
        if i % 3 == 0:
            items.append(("image",))
        rows.append((f"d{i}", bytearray(build_pdf([items]))))
    rows.append(("bad", bytearray(b"junk")))
    rows.append(("nul", None))
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    out = {r.doc_id: r for r in pdf_extract_df(df).collect()}
    assert len(out) == 14
    for doc_id in ("bad", "nul"):
        r = out[doc_id]
        assert r.err
        assert (r.n_pages, r.n_media, r.n_chars, r.text) == (None,) * 4
    for i in range(12):
        r = out[f"d{i}"]
        spans, n_pages = pdf_doc_spans(bytes(rows[i][1]))
        text = "\n".join(s["text"] for s in spans if s["kind"] == "text")
        assert r.err is None
        assert r.n_pages == n_pages == 1
        assert r.n_media == sum(s["kind"] == "media" for s in spans)
        assert r.n_media == (1 if i % 3 == 0 else 0)
        assert r.text == text and f"t{i}x24" in text
        assert r.n_chars == len(text)


def test_pdf_spans_df_matches_pure(spark):
    from sparkhtml.spark.pdf import pdf_spans_df

    rows = [(f"d{i}", bytearray(build_pdf([[
        ("text", f"Alpha {i} beta gamma delta"), ("image",),
        ("text", f"Tail {i} text"),
    ]]))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r.doc_id: [s.asDict() for s in r.spans]
           for r in pdf_spans_df(df).collect()}
    for doc_id, blob in rows:
        exp = pdf_extract_spans(bytes(blob))
        assert got[doc_id] == exp, doc_id


def test_pdf_extract_df_plan_zero_shuffle(spark):
    from sparkhtml.spark.pdf import pdf_extract_df, pdf_spans_df

    df = spark.createDataFrame(
        [("d0", bytearray(build_pdf([[("text", "plan check")]])))],
        "doc_id string, payload binary")
    for op in (pdf_extract_df, pdf_spans_df):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, op.__name__


def test_mutation_fuzz_error_channel_never_hangs():
    """Bit-flipped / truncated / spliced valid PDFs must either parse or
    raise — the per-row error channel contract at 10^12 rows. Deterministic
    seed; catches parser states that loop or wander outside the buffer."""
    import random

    rng = random.Random(0xC0FFEE)
    base = build_pdf([[
        ("text", "mutation fuzz corpus " + " ".join(f"w{i}" for i in range(40))),
        ("image",),
        ("text", "second paragraph for objstm coverage"),
    ]])
    n_parsed = n_rejected = 0
    for trial in range(400):
        blob = bytearray(base)
        kind = trial % 3
        if kind == 0:  # bit flips
            for _ in range(rng.randrange(1, 8)):
                pos = rng.randrange(len(blob))
                blob[pos] ^= 1 << rng.randrange(8)
        elif kind == 1:  # truncate
            blob = blob[: rng.randrange(1, len(blob))]
        else:  # splice random bytes at a random offset
            pos = rng.randrange(len(blob))
            blob[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        try:
            spans, n_pages = __import__(
                "sparkhtml.spark.pdf", fromlist=["pdf_doc_spans"]
            ).pdf_doc_spans(bytes(blob))
            assert isinstance(spans, list) and n_pages >= 1
            n_parsed += 1
        except Exception:  # any raise is fine — the error channel catches it
            n_rejected += 1
    # both outcomes must actually occur, or the fuzz isn't exercising anything
    assert n_parsed > 10 and n_rejected > 10, (n_parsed, n_rejected)


def test_pdf_spans_feed_downstream_pipeline(spark):
    """Format-agnosticism end-to-end: pdf_spans_df output IS the
    documents_interleaved schema, so the HTML pipeline's main-content
    stage and span-level curation run unchanged on a PDF corpus."""
    from pyspark.sql import functions as F

    from sparkhtml.spark.pdf import pdf_spans_df
    from sparkhtml.spark.pipeline import extract_spans_df
    from sparkhtml.spark import schemas

    rows = [(f"d{i}", bytearray(build_pdf([[
        ("text", f"Document {i} body " + " ".join(f"tok{i}x{j}" for j in range(30))),
        ("image",),
    ]]))) for i in range(8)]
    rows.append(("bad", bytearray(b"%PDF-1.4 not really")))
    df = spark.createDataFrame(rows, "doc_id string, payload binary")

    interleaved = pdf_spans_df(df).select("doc_id", "spans")
    # simpleString: same names+types; nullability legitimately differs
    # (ingest output is nullable until the err-row filter).
    assert (interleaved.schema.simpleString()
            == schemas.DOCUMENTS_INTERLEAVED.simpleString())

    out = {r.doc_id: r for r in extract_spans_df(interleaved).collect()}
    assert len(out) == 9
    assert out["bad"].spans == []  # error row flowed through as empty doc
    for i in range(8):
        spans = out[f"d{i}"].spans
        kinds = [s.kind for s in spans]
        assert "media" in kinds  # placeholder survived the classifier
        assert any(s.kind == "text" and f"tok{i}x29" in s.text for s in spans)

    n_media = (
        interleaved.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media").count()
    )
    assert n_media == 8


@pytest.mark.parametrize("rot", [90, 180, 270])
def test_rotated_pages_extract_identically(rot):
    """/Rotate pages (scanner-style: content stored sideways in user
    space, page entry turns it for display) must extract the same spans
    as the unrotated document — reader-space mapping in _page_view."""
    items = [[("text", "alpha beta " + " ".join(f"w{i}" for i in range(30))),
              ("image",), ("text", "tail words here")]]
    assert (pdf_extract_spans(build_pdf(items, rotate=rot))
            == pdf_extract_spans(build_pdf(items)))


def test_rotated_two_column_furniture():
    pages3 = [[("text", f"page {chr(65 + j)} body words for furniture")]
              for j in range(3)]
    kw = dict(two_column=True, header="HDR X", footer="Pg")
    assert (pdf_extract_text(build_pdf(pages3, rotate=90, **kw))
            == pdf_extract_text(build_pdf(pages3, **kw)))


def test_rotate_360_and_invalid():
    items = [[("text", "plain words")]]
    assert (pdf_extract_spans(build_pdf(items, rotate=360))
            == pdf_extract_spans(build_pdf(items)))
    with pytest.raises(ValueError):
        build_pdf(items, rotate=45)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal LZW encoder (test-only, independent of the decoder): emits
    clear-at-start, EOD, width bumps mirrored on /EarlyChange, and a
    clear+reset when the 12-bit table fills."""
    bits = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            bits.append((acc >> nbits) & 0xFF)

    def fresh():
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    next_code, width = 258, 9
    emit(256, width)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code + early - 1 >= (1 << width):
            if width < 12:
                width += 1
            else:
                emit(256, width)
                table, next_code, width = fresh(), 258, 9
        w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(257, width)
    if nbits:
        bits.append((acc << (8 - nbits)) & 0xFF)
    return bytes(bits)


def test_lzw_roundtrip_boundaries():
    import random

    from sparkhtml.spark.pdf import _lzw_decode

    rng = random.Random(42)
    cases = [b"", b"A", b"-----A---B-----A---B",
             bytes(rng.randrange(256) for _ in range(8000)),   # 9->12 bits
             b"abcd" * 3000,
             bytes(rng.randrange(256) for _ in range(30000))]  # table-full clear
    for data in cases:
        assert _lzw_decode(_lzw_encode(data)) == data


def test_lzw_in_decode_stream():
    payload = b"LZW filtered content stream BT (x) Tj ET " * 20

    class FakePDF:
        def resolve(self, o, depth=0):
            return o

    st = Stream({"Filter": Name("LZWDecode")}, _lzw_encode(payload))
    assert decode_stream(FakePDF(), st) == payload
    st0 = Stream({"Filter": Name("LZWDecode"),
                  "DecodeParms": {"EarlyChange": 0}},
                 _lzw_encode(payload, early=0))
    assert decode_stream(FakePDF(), st0) == payload


def test_pdf_links_roundtrip():
    from sparkhtml.spark.pdf import pdf_links

    blob = build_pdf([
        [("text", "page one body"), ("link", "https://example.com/a"),
         ("link", "https://example.com/b(paren)")],
        [("text", "page two body")],
        [("link", "https://example.com/c"), ("text", "page three")],
    ])
    assert pdf_links(blob) == [
        {"page": 0, "uri": "https://example.com/a"},
        {"page": 0, "uri": "https://example.com/b(paren)"},
        {"page": 2, "uri": "https://example.com/c"},
    ]
    # annots never disturb layout/extraction
    assert "page one body" in pdf_extract_text(blob)
    assert pdf_links(build_pdf([[("text", "no links")]])) == []


@pytest.mark.skipif(
    not os.path.exists("/usr/share/doc/libtasn1-doc/libtasn1.pdf"),
    reason="system PDF absent")
def test_pdf_links_external_toolchain():
    """pdfTeX-produced hyperref links — an annotation encoding our writer
    never emits (indirect action dicts, xref streams)."""
    from sparkhtml.spark.pdf import pdf_links

    links = pdf_links(
        open("/usr/share/doc/libtasn1-doc/libtasn1.pdf", "rb").read())
    assert {"page": 0, "uri": "mailto:help-libtasn1@gnu.org"} in links
    assert any(l["uri"] == "http://fsf.org/" for l in links)
    assert len(links) == 3


def _mini_pdf(content: bytes) -> bytes:
    """Hand-built 1-page uncompressed PDF around ``content`` (test-only,
    independent of build_pdf's object layout)."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for n, o in enumerate(objs, 1):
        offs.append(len(out))
        out += str(n).encode() + b" 0 obj\n" + o + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for o in offs:
        out += f"{o:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"
            + str(xref).encode() + b"\n%%EOF\n")
    return bytes(out)


def test_inline_image_placeholder_and_resync():
    """BI..ID <binary> EI must yield a media placeholder and the scanner
    must resynchronize after arbitrary payload bytes — including a bare
    'EI' not preceded by whitespace and raw delimiters."""
    payload = bytes([0, 1, 255, 73, 69]) + b"xEI;()<</[" + bytes(range(32))
    content = (
        b"BT /F1 10 Tf 1 0 0 1 54 700 Tm (Before figure text) Tj ET\n"
        b"q 40 0 0 30 54 640 cm "
        b"BI /W 2 /H 2 /BPC 8 /CS /DeviceGray ID " + payload + b" EI Q\n"
        b"BT /F1 10 Tf 1 0 0 1 54 600 Tm (After figure text) Tj ET\n"
    )
    spans = pdf_extract_spans(_mini_pdf(content))
    kinds = [s["kind"] for s in spans]
    assert kinds == ["text", "media", "text"], spans
    assert spans[0]["text"] == "Before figure text"
    assert spans[2]["text"] == "After figure text"
    assert spans[1]["media_ref"] == "pdfimg:inline"


def test_type0_identity_h_end_to_end():
    """Hand-built Identity-H CID font: 2-byte codes decode via ToUnicode,
    /W (both list and range forms) + /DW drive advances, and TJ kern
    word-spacing inference works on the two-byte path."""
    cmap = (b"2 beginbfchar\n<0001> <0048>\n<0002> <0069>\nendbfchar\n"
            b"1 beginbfrange\n<000A> <000C> <0041>\nendbfrange\n")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding "
        b"/Identity-H /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>",
        None,  # content, filled below
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fake /DW 600 "
        b"/W [1 [500 400] 10 12 250] >>",
        b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream",
    ]
    # <00010002> = "Hi"; big TJ kern => inferred word space; <000A000B000C>
    # = "ABC" via the bfrange
    content = (b"BT /F1 12 Tf 1 0 0 1 54 700 Tm "
               b"[<00010002> -2000 <000A000B000C>] TJ ET\n")
    objs[4] = (b"<< /Length " + str(len(content)).encode()
               + b" >>\nstream\n" + content + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for n, o in enumerate(objs, 1):
        offs.append(len(out))
        out += str(n).encode() + b" 0 obj\n" + o + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for o in offs:
        out += f"{o:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n" + str(xref).encode()
            + b"\n%%EOF\n")

    text = pdf_extract_text(bytes(out))
    assert text == "Hi ABC", repr(text)


def test_pdf_links_feed_link_graph(spark):
    """Composition: pdf_links output (exploded to one row per link)
    drives the HTML tier's normalize_url unchanged — PDF corpora join
    the same link graph."""
    from pyspark.sql import functions as F

    from sparkhtml.spark.links import normalize_url
    from sparkhtml.spark.pdf import build_pdf, pdf_links

    rows = []
    for i in range(6):
        blob = build_pdf([[
            ("text", f"doc {i}"),
            ("link", f"HTTPS://Example.COM:443/path{i}#frag"),
            ("link", f"http://site{i}.org:80/"),
        ]])
        for l in pdf_links(bytes(blob)):
            rows.append((f"d{i}", l["page"], l["uri"]))
    df = spark.createDataFrame(rows, "doc_id string, page int, uri string")
    out = {r.uri: r.norm for r in
           df.select("uri", normalize_url("uri").alias("norm")).collect()}
    assert out["HTTPS://Example.COM:443/path0#frag"] == \
        "https://example.com/path0"
    assert out["http://site3.org:80/"] == "http://site3.org"
    assert len(out) == 12


def test_xref_stream_objstm_roundtrip():
    """xref_stream=True emits PDF 1.5 structures (ObjStm with type-2
    entries + /Type /XRef stream) — the reader's hardest object-layer
    branches, previously covered only by the two external files. Same
    logical document, byte-different encoding, identical extraction."""
    import random

    from sparkhtml.spark.pdf import pdf_links

    rng = random.Random(99)
    for t in range(60):
        pages = []
        for j in range(rng.randrange(1, 4)):
            items = [("text", " ".join(
                f"t{t}p{j}w{k}" for k in range(rng.randrange(3, 50))))]
            if rng.random() < 0.4:
                items.append(("image",))
            if rng.random() < 0.3:
                items.append(("link", f"https://ex.org/{t}/{j}"))
            pages.append(items)
        kw = {}
        if rng.random() < 0.3:
            kw = dict(header="HDR", footer="Pg")
        classic = build_pdf(pages, **kw)
        modern = build_pdf(pages, xref_stream=True, **kw)
        assert pdf_extract_spans(modern) == pdf_extract_spans(classic), t
        assert pdf_links(modern) == pdf_links(classic), t
        assert pdf_page_count(modern) == len(pages), t


def test_xref_stream_mutation_fuzz():
    """The 1.5 layout must honour the same never-hang error contract."""
    import random

    from sparkhtml.spark.pdf import pdf_doc_spans

    rng = random.Random(0xBEEF)
    base = build_pdf([[("text", "fuzz corpus " * 30), ("image",)]],
                     xref_stream=True)
    n_ok = n_rej = 0
    for trial in range(150):
        blob = bytearray(base)
        if trial % 2:
            blob = blob[: rng.randrange(1, len(blob))]
        else:
            for _ in range(rng.randrange(1, 6)):
                blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        try:
            pdf_doc_spans(bytes(blob))
            n_ok += 1
        except Exception:
            n_rej += 1
    # compressed xref/objstm make most mutants fatal by design —
    # the contract under test is raise-not-hang, plus a few survivors
    assert n_ok >= 3 and n_rej > 50, (n_ok, n_rej)


def test_overflowing_page_with_link_builds():
    """Regression: links collected after a text overflow used to break
    the writer's precomputed object numbering (AssertionError)."""
    big = " ".join(f"w{i}" for i in range(900))
    blob = build_pdf([[("text", big), ("link", "https://x.org/kept")]])
    from sparkhtml.spark.pdf import pdf_links
    assert pdf_links(blob) == [{"page": 0, "uri": "https://x.org/kept"}]


def test_negative_font_size_tj_kern():
    """Regression: '-10 Tf' with a wide TJ kern exploded the inferred
    word-space fragment's x1 to ~1e10 via max(tfs, 1e-9)."""
    content = (b"BT /F1 -10 Tf 1 0 0 1 54 700 Tm "
               b"[(Hello) -2780 (World)] TJ ET\n")
    spans = pdf_extract_spans(_mini_pdf(content))
    for s in spans:
        assert s["kind"] == "text"
    # no frag may extend beyond any plausible page coordinate
    from sparkhtml.spark.pdf import PDF, interpret_page
    pdf = PDF(_mini_pdf(content))
    for f in interpret_page(pdf, pdf.pages()[0]):
        assert abs(f.x1) < 10000, f.x1


def test_q_restores_text_state():
    """Regression: q/Q saved only the CTM; Tc/Tw/font set inside q..Q
    leaked out (ISO 32000-1 8.4.2 includes text state)."""
    content = (b"q BT /F1 10 Tf 50 Tc ET Q "
               b"BT /F1 10 Tf 1 0 0 1 54 700 Tm (AB) Tj ET\n")
    pdf_bytes = _mini_pdf(content)
    from sparkhtml.spark.pdf import PDF, interpret_page
    pdf = PDF(pdf_bytes)
    frags = [f for f in interpret_page(pdf, pdf.pages()[0])
             if f.kind == "text"]
    assert len(frags) == 1
    # Helvetica 'A'+'B' at 10pt = (667+667)/1000*10 = 13.34; with the
    # leaked Tc=50 it would be ~113
    assert frags[0].x1 - frags[0].x0 < 20, frags[0].x1 - frags[0].x0


def _raw_pdf(objs: list[bytes]) -> bytes:
    """Hand-assemble numbered objects (1-based) + classic xref table."""
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for n, o in enumerate(objs, 1):
        offs.append(len(out))
        out += str(n).encode() + b" 0 obj\n" + o + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n0000000000 65535 f \n"
    for o in offs:
        out += f"{o:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n"
            + str(xref).encode() + b"\n%%EOF\n")
    return bytes(out)


def test_page_tree_work_budget():
    """Round-7 hardening (round-6 ADVICE): a page tree whose nodes
    reference the SAME kid 16 times per level is exponential under a
    depth-only bound (16^6 traversals here); the visited-node budget
    must raise PDFError fast instead of hanging the task."""
    import time

    from sparkhtml.spark.pdf import PDF, PDFError

    # objs: 1 catalog, 2..7 chained Pages levels (each /Kids = 16 refs to
    # the NEXT level's single node), 8 leaf page
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    for lvl in range(2, 8):
        kids = b" ".join(str(lvl + 1).encode() + b" 0 R" for _ in range(16))
        objs.append(b"<< /Type /Pages /Kids [" + kids + b"] /Count 1 >>")
    objs.append(b"<< /Type /Page /MediaBox [0 0 612 792] >>")
    blob = _raw_pdf(objs)
    t0 = time.perf_counter()
    with pytest.raises(PDFError):
        PDF(blob).pages()
    assert time.perf_counter() - t0 < 5.0


def test_form_xobject_do_budget():
    """Round-7 hardening (round-6 ADVICE): a Form XObject invoking
    itself 30x per level is 30^8 interpretations under the depth-only
    bound; the cumulative Do budget must cut it off with PDFError."""
    import time

    from sparkhtml.spark.pdf import PDF, PDFError, interpret_page

    form_content = b"q " + b"/F0 Do " * 30 + b"Q"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /XObject << /F0 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Subtype /Form /Resources << /XObject << /F0 4 0 R >> >> "
        b"/Length " + str(len(form_content)).encode() + b" >>\nstream\n"
        + form_content + b"\nendstream",
        b"<< /Length " + str(len(form_content)).encode() + b" >>\nstream\n"
        + form_content + b"\nendstream",
    ]
    blob = _raw_pdf(objs)
    pdf = PDF(blob)
    page = pdf.pages()[0]
    t0 = time.perf_counter()
    with pytest.raises(PDFError):
        interpret_page(pdf, page)
    assert time.perf_counter() - t0 < 5.0


def test_xref_stream_w_zero_offset_width_is_pdferror():
    """Round-7 fix (round-6 ADVICE): /W with field-2 width 0 leaves no
    offset; the entry must be skipped (surfacing as PDFError through
    the normal missing-object paths), never TypeError."""
    import zlib

    from sparkhtml.spark.pdf import PDF, PDFError

    # xref stream with W [1 0 1]: type-1 entries carry NO offset field
    rows = b"".join(bytes([1, 0]) for _ in range(3))  # type=1, field3=0
    data = zlib.compress(rows)
    out = bytearray(b"%PDF-1.4\n")
    off1 = len(out)
    out += (b"1 0 obj\n<< /Type /XRef /W [1 0 1] /Size 3 /Root 2 0 R "
            b"/Filter /FlateDecode /Length " + str(len(data)).encode()
            + b" >>\nstream\n" + data + b"\nendstream\nendobj\n")
    out += (b"startxref\n" + str(off1).encode() + b"\n%%EOF\n")
    with pytest.raises(PDFError):
        PDF(bytes(out)).pages()


def _flate_bomb_pdf() -> bytes:
    """One page whose FlateDecode content inflates ~1000x, to 65 MB (1 MB
    past the per-document decode budget) from ~66 KB on disk. The content
    is one comment, so a parser without the budget reads it cheaply."""
    import zlib

    co = zlib.compressobj(9)
    parts = [co.compress(b"%")]
    parts += [co.compress(b"A" * (1 << 20)) for _ in range(65)]
    data = b"".join(parts + [co.flush()])
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream",
    ])


def test_decode_budget_stops_expanding_filters():
    """Decoded bytes per document are bounded: a FlateDecode bomb, and
    LZW / RunLength / PNG-predictor output past the limit, raise
    PDFBudgetError instead of growing the worker without bound."""
    from sparkhtml.spark.pdf import PDFBudgetError, _lzw_decode

    pdf = PDF(_flate_bomb_pdf())
    page = pdf.pages()[0]
    with pytest.raises(PDFBudgetError):
        pdf.page_content(page)
    with pytest.raises(PDFBudgetError):  # the budget stays spent
        pdf.page_content(page)
    with pytest.raises(PDFBudgetError):
        pdf_doc_spans(_flate_bomb_pdf())
    with pytest.raises(PDFBudgetError):
        _runlength_decode(bytes([129, 0x41]) * 100, 1000)
    assert _runlength_decode(bytes([129, 0x41]) * 7, 1000) == b"A" * 896
    with pytest.raises(PDFBudgetError):
        _lzw_decode(_lzw_encode(b"abcd" * 3000), 1, 1000)
    assert _lzw_decode(_lzw_encode(b"abcd" * 200), 1, 1000) == b"abcd" * 200
    with pytest.raises(PDFBudgetError):  # /Columns 1e9 on a 2-byte stream
        _png_unpredict(b"\x00\x00", 10 ** 9, 1, 8, 1 << 20)


def test_decode_budget_bomb_is_an_error_row(spark):
    """Through the Spark worker the bomb is one ``err`` row; the
    documents around it in the same batch still extract."""
    from sparkhtml.spark.pdf import pdf_parsed_df

    rows = [(f"d{i}", bytearray(build_pdf(
        [[("text", f"neighbour {i} " + "word " * 20)]]))) for i in range(4)]
    rows.insert(2, ("bomb", bytearray(_flate_bomb_pdf())))
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    out = {r.doc_id: r for r in pdf_parsed_df(df).collect()}
    assert len(out) == 5
    bomb = out["bomb"]
    assert "PDFBudgetError" in bomb.err and bomb.n_pages is None
    assert bomb.spans == []
    for doc_id, blob in rows:
        if doc_id == "bomb":
            continue
        spans, n_pages = pdf_doc_spans(bytes(blob))
        r = out[doc_id]
        assert r.err is None and r.n_pages == n_pages == 1
        assert [s.asDict() for s in r.spans] == spans


# ---------------------------------------------------------------------------
# lexer: linear time, comments never read as tokens


def _kinds_values(toks):
    return [t[:2] for t in toks]


def test_lexer_is_linear_on_blank_runs():
    """A run of blanks before a failing branch used to backtrack
    exponentially (n=24 took seconds): one crafted stream or array would
    hang its task with no per-document time limit. The small probes run
    first, so a regression fails in seconds instead of hanging."""
    import time

    from sparkhtml.spark.pdf import _content_tokens

    for n in (24, 4096):
        t0 = time.perf_counter()
        toks = _content_tokens(b"BT" + b" " * n)
        assert time.perf_counter() - t0 < 0.5, n
        assert _kinds_values(toks) == [("op", b"BT")]
        for probe, want in ((b"[1 2" + b" " * n + b"/Name]", [1, 2, "Name"]),
                            (b"[1" + b" " * n + b"2]", [1, 2])):
            t0 = time.perf_counter()
            assert parse_object(probe, 0)[0] == want
            assert time.perf_counter() - t0 < 0.5, n


def test_trailing_comment_is_not_an_operator():
    """ISO 32000-1 §7.2.3: a comment is ignored, so a stream that ends in
    one runs no operator out of it (a trailing %' used to show the
    pending string)."""
    from sparkhtml.spark.pdf import _content_tokens

    hidden = [("op", b"BT"), ("obj", b"hidden")]
    assert _kinds_values(_content_tokens(b"BT (hidden) % Tj")) == hidden
    assert _kinds_values(_content_tokens(b"BT (hidden) %'")) == hidden
    assert _kinds_values(_content_tokens(b"BT " + b"%" * 40 + b" x")) == \
        [("op", b"BT")]
    spans = pdf_extract_spans(_mini_pdf(
        b"BT /F1 10 Tf 1 0 0 1 54 700 Tm (shown) Tj (hidden) %'"))
    assert [s["text"] for s in spans] == ["shown"]
    # an array element is not read out of a comment either
    assert parse_object(b"[1 % 5 R\n]", 0)[0] == [1]
    assert parse_object(b"[1 %c\n 2 %d\n R]", 0)[0] == [Ref(1, 2)]


def test_decode_budget_counts_a_repainted_form_once():
    """A Flate form painted 700 times decodes once per document: 700 x
    100 KB would pass the 64 MB decode budget if every ``Do`` decoded it
    again, failing a legitimate document."""
    import zlib

    form = zlib.compress(b"%" + b"A" * 100_000 + b"\nBT /F1 10 Tf 72 700 Td "
                         b"(form text) Tj ET")
    content = b"q " + b"/F0 Do " * 700 + b"Q"
    blob = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /XObject << /F0 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Subtype /Form /Filter /FlateDecode /Length "
        + str(len(form)).encode() + b" >>\nstream\n" + form + b"\nendstream",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ])
    spans, n_pages = pdf_doc_spans(blob)
    assert n_pages == 1 and "form text" in spans[0]["text"]


def test_many_inline_images_parse_in_linear_time():
    """The tokenizer skips each inline image in place; re-tokenizing the
    rest of the stream after every EI made a page of k inline images
    O(k x stream) (300 images took seconds)."""
    import time

    img = (b"q 10 0 0 10 72 700 cm BI /W 4 /H 4 /BPC 8 /CS /G ID "
           + bytes(range(16)) + b" EI Q\n")
    text = b"BT /F1 10 Tf 1 0 0 1 72 650 Tm (word) Tj ET\n"
    blob = _mini_pdf((img + text * 3) * 300)
    t0 = time.perf_counter()
    spans = pdf_extract_spans(blob)
    assert time.perf_counter() - t0 < 1.0
    assert sum(s["kind"] == "media" for s in spans) == 300
    assert "word" in " ".join(s["text"] for s in spans if s["kind"] == "text")
