"""Unit tests: serializer, escape/unescape, encoding, DOM accessors,
extraction semantics, datagen determinism.

Serializer cases transcribed in the spirit of the reference's
HTMLSerializerTests.m:23-80; escape cases of HTMLEscapingTest.m:14-45;
encoding of HTMLEncodingTests.m / HTMLDocumentTests.m:14-48; DOM of
HTMLNodeTests.m / HTMLTreeEnumeratorTests.m:14-50.
"""

import pyarrow as pa
import pytest

from sparkhtml.dom import FlatDOM
from sparkhtml.encoding import (
    CERTAIN, IRRELEVANT, TENTATIVE, decode_html_bytes, encoding_for_label,
    sniff_encoding,
)
from sparkhtml.escape import (
    escape_array, escape_html, unescape_array, unescape_html,
)
from sparkhtml.extract import extract_main_text, extract_spans
from sparkhtml.serializer import inner_html, serialize
from sparkhtml.treebuilder import parse

# ------------------------------------------------------------- serializer

SERIALIZE_CASES = [
    ("<p>x</p>", '<html><head></head><body><p>x</p></body></html>'),
    ("<br>", "<html><head></head><body><br></body></html>"),
    ("<input type=text>", '<html><head></head><body><input type="text"></body></html>'),
    ("<p a='1&2'>x", '<html><head></head><body><p a="1&amp;2">x</p></body></html>'),
    ("a &lt; b", "<html><head></head><body>a &lt; b</body></html>"),
    # parser strips the LF after <pre> (HTMLParser.m:726); nothing to re-emit
    ("<pre>\nkeep</pre>", "<html><head></head><body><pre>keep</pre></body></html>"),
    ("<script>a < b</script>", "<html><head><script>a < b</script></head><body></body></html>"),
    ("<!DOCTYPE html><p>x", "<!DOCTYPE html><html><head></head><body><p>x</p></body></html>"),
]


@pytest.mark.parametrize("src,expected", SERIALIZE_CASES)
def test_serialize(src, expected):
    assert serialize(parse(src).document) == expected


def test_inner_html():
    tb = parse("<div><b>x</b>y</div>")
    body = tb.document.children[0].children[1]
    assert inner_html(body.children[0]) == "<b>x</b>y"


def test_pre_leading_newline_roundtrip():
    # tree text "\ntext" serializes with an extra LF so re-parsing strips it
    # back to the same tree (HTMLSerialization.m:152-158 rule)
    tb = parse("<pre>\n\ntext</pre>")
    out = serialize(tb.document)
    assert "<pre>\n\ntext</pre>" in out
    assert serialize(parse(out).document) == out


# ------------------------------------------------------------- escaping

def test_escape_html():
    assert escape_html('<b> & "q" \xa0') == "&lt;b&gt; &amp; &quot;q&quot; &nbsp;"


@pytest.mark.parametrize(
    "src,expected",
    [
        ("&amp;", "&"),
        ("&amp", "&"),
        ("&AMP;", "&"),
        ("&ampx", "&x"),
        ("&#65;&#x42;", "AB"),
        ("&#65", "A"),
        ("&notin;&not;&notit;", "∉¬¬it;"),
        ("&bogus;", "&bogus;"),
        ("no refs", "no refs"),
        ("&#x80;", "€"),
    ],
)
def test_unescape_html(src, expected):
    assert unescape_html(src) == expected


def test_escape_series_matches_scalar():
    """The Arrow column helpers match the scalars row for row; a null row
    maps to the result for ""."""
    vals = ['a<b>"c"&d\xa0e', "", "plain", "&amp; &x", None,
            "caf\xe9 \xa0&nbsp;\u00a0&eacute;&#x1F600; \u2603<"]
    arr = pa.array(vals, pa.string())
    assert escape_array(arr).to_pylist() == [escape_html(v or "") for v in vals]
    assert unescape_array(arr).to_pylist() == [unescape_html(v or "")
                                               for v in vals]


def test_escape_unescape_roundtrip():
    src = 'tricky <&> "text" \xa0 &amp; already'
    assert unescape_html(escape_html(src)) == src


# ------------------------------------------------------------- encoding

def test_labels():
    assert encoding_for_label("UTF-8") == "utf-8"
    assert encoding_for_label(" latin1 ") == "cp1252"
    assert encoding_for_label("unicodeFFFE") == "utf-16be"
    assert encoding_for_label("nope") is None


def test_sniff_bom():
    assert sniff_encoding(b"\xef\xbb\xbfx") == ("utf-8-sig", IRRELEVANT)
    assert sniff_encoding(b"\xfe\xffx") == ("utf-16-be", IRRELEVANT)
    assert sniff_encoding(b"\xff\xfex") == ("utf-16-le", IRRELEVANT)


def test_sniff_header_beats_meta():
    data = b'<meta charset="shift_jis">'
    assert sniff_encoding(data, "text/html; charset=utf-8") == ("utf-8", CERTAIN)
    assert sniff_encoding(data) == ("shift_jis", TENTATIVE)


def test_meta_content_charset():
    data = b'<meta http-equiv=Content-Type content="text/html; charset=koi8-r">'
    assert sniff_encoding(data) == ("koi8-r", TENTATIVE)


def test_decode_fallback():
    text, codec, conf = decode_html_bytes(b"caf\xe9")
    assert text == "café" and codec == "cp1252"


def test_decode_utf8_certain():
    text, codec, conf = decode_html_bytes(
        "héllo".encode(), "text/html; charset=utf-8"
    )
    assert (text, codec, conf) == ("héllo", "utf-8", CERTAIN)


# ------------------------------------------------------------- DOM

def test_dom_accessors():
    dom = FlatDOM.from_html("<!DOCTYPE html><p>a<b>b</b>c</p><p>d</p>")
    root = dom.root_element()
    assert dom.tag[root] == "html"
    body = dom.body_element()
    assert dom.tag[body] == "body"
    assert dom.text_content(body) == "abcd"
    ps = [i for i in dom.iter_elements() if dom.tag[i] == "p"]
    assert dom.text_components(ps[0]) == ["a", "c"]
    assert dom.document_type() is not None
    # tree order == ascending node ids (X1)
    assert dom.parent[ps[0]] == body
    assert sorted(dom.children_of(body)) == dom.children_of(body)


def test_dom_subtree_ranges():
    dom = FlatDOM.from_html("<div><p>a</p><p>b</p></div>")
    div = next(i for i in dom.iter_elements() if dom.tag[i] == "div")
    assert dom.subtree[div] - div == 5  # div, p, text, p, text


# ------------------------------------------------------------- extraction

def test_extract_drops_boilerplate():
    html = (
        "<nav><a href=/>a</a><a href=/2>b</a></nav>"
        "<p>Real content paragraph with enough words present.</p>"
        "<footer>copyright footer</footer>"
    )
    out = extract_main_text(html)
    assert "Real content" in out
    assert "copyright" not in out and ">a<" not in out


def test_extract_link_density():
    html = "<p><a href=1>all</a> <a href=2>links</a> <a href=3>here</a></p>"
    assert extract_main_text(html) == ""


def test_extract_keeps_short_content_tags():
    assert extract_main_text("<h1>Title</h1>") == "Title"
    assert extract_main_text("<div>hi</div>") == ""  # short non-content block


def test_extract_spans_order_and_media():
    spans = [
        {"kind": "media", "text": None, "media_ref": "m2", "offset": 2},
        {"kind": "text", "text": "<p>Words enough to keep this paragraph.</p>",
         "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "m1", "offset": 1},
        {"kind": "text", "text": "<nav><a href=/>x</a></nav>",
         "media_ref": None, "offset": 3},
    ]
    out = extract_spans(spans)
    assert [(s["kind"], s["media_ref"], s["offset"]) for s in out] == [
        ("text", None, 0), ("media", "m1", 1), ("media", "m2", 2),
    ]


def test_extract_deterministic():
    from datagen.interleaved import make_doc

    d1 = make_doc(7)
    d2 = make_doc(7)
    assert d1 == d2
    assert extract_spans(d1["spans"]) == extract_spans(d2["spans"])


def test_datagen_shape():
    from datagen.interleaved import make_corpus

    docs = list(make_corpus(50))
    assert len(docs) == 50
    assert all(d["doc_id"].startswith("doc-") for d in docs)
    kinds = {s["kind"] for d in docs for s in d["spans"]}
    assert kinds == {"text", "media"}
    # offsets are dense 0..n-1 per doc
    for d in docs:
        assert [s["offset"] for s in d["spans"]] == list(range(len(d["spans"])))


def test_metrics_batch_counts_parse_errors():
    """extract_metrics must report real parse-error counts (regression:
    collect_errors=False silently zeroed n_errors for every document)."""
    import pyarrow as pa
    from sparkhtml.spark import schemas
    from sparkhtml.spark.pipeline import _extract_arrow

    bad = "<b><i>x</b></i><p><table><div></div>"  # misnesting + foster
    good = "<p>hello world</p>"
    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": doc_id,
          "spans": [{"kind": "text", "text": html, "media_ref": None,
                     "offset": 0}]}
         for doc_id, html in (("bad", bad), ("good", good))],
        schema=schemas.to_arrow(schemas.SPANS_OUT),
    )
    out = pa.Table.from_batches(list(_extract_arrow(iter([batch]))))
    by_id = {r["doc_id"]: r for r in out.to_pylist()}
    assert by_id["bad"]["n_errors"] > 0
    assert by_id["good"]["n_errors"] == 0


def _fragment_dom(html):
    """``html`` parsed as a body-context fragment under a document root,
    flattened, with the fragment parse's error count: the metrics oracle
    (``doc_metrics`` segments it with the flat ``segment_blocks``)."""
    from sparkhtml.treebuilder import DOCUMENT, Node, parse_fragment

    errors = []
    root = Node(DOCUMENT)
    root.children = parse_fragment(html, "body", errors=errors)
    dom = FlatDOM.from_tree(root)
    dom.n_errors = len(errors)
    return dom


def _segment_inputs():
    """A bounded, seeded sample: generator text spans, every tree-construction
    fixture document, and random tag soup over the segmentation-relevant
    tags (blocks, links, pruned, boilerplate, foreign content)."""
    import glob
    import os
    import random

    from datagen.interleaved import make_corpus

    for doc in make_corpus(40):
        for s in doc["spans"]:
            if s["kind"] == "text":
                yield s["text"]
    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fixtures", "tree-construction", "*.dat")
    for path in sorted(glob.glob(fixtures)):
        with open(path) as f:
            cases = f.read().split("#data\n")[1:]
        for case in cases:
            yield case.split("\n#errors")[0]
    rng = random.Random(7)
    vocab = ("<p>|</p>|<div class=nav>|<div id=content>|</div>|<a href=x>|</a>|"
             "<li>|<ul>|</ul>|<table><tr><td>|<td>|</table>|<script>x y</script>|"
             "<nav>|</nav>|<footer>|<h2>|</h2>|<svg><desc>|</svg>|<b>|</b>|<br>|"
             "<!-- c -->|<pre>|</pre>|<form>|<span class=share>|</span>|"
             "<em id=menu>|</em>|one two|three four five | six|&amp; seven"
             ).split("|")
    for _ in range(1000):
        yield "".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))


def _fold_parse(html, fragment=True):
    """An extraction-mode parse of ``html``: its fold, the flat DOM of the
    finished tree (the fragment under a document root), and whether any
    ``Node.append`` of an already-parented node, ``Node.insert`` or
    ``Node.remove`` ran while it was built."""
    from unittest import mock

    from sparkhtml.extract import _Fold
    from sparkhtml.treebuilder import DOCUMENT, Node, parse_fragment

    moved = []
    append, insert, remove = Node.append, Node.insert, Node.remove

    def spy_append(self, child):
        if child.parent is not None:
            moved.append("append")
        append(self, child)

    def spy_insert(self, index, child):
        moved.append("insert")
        insert(self, index, child)

    def spy_remove(self, child):
        moved.append("remove")
        remove(self, child)

    fold = _Fold()
    with mock.patch.object(Node, "append", spy_append), \
            mock.patch.object(Node, "insert", spy_insert), \
            mock.patch.object(Node, "remove", spy_remove):
        if fragment:
            root = Node(DOCUMENT)
            root.children = parse_fragment(html, "body", _fold=fold)
        else:
            root = parse(html, _fold=fold).document
    return fold, FlatDOM.from_tree(root), bool(moved)


def _count_fallbacks(monkeypatch):
    """Count the flat segmentations ``extract_main_text`` falls back to."""
    from sparkhtml import extract

    calls = [0]
    flat = extract.segment_blocks

    def counted(dom):
        calls[0] += 1
        return flat(dom)

    monkeypatch.setattr(extract, "segment_blocks", counted)
    return calls


def test_segment_blocks_flat_and_tree_agree():
    """The metrics oracle segments the flat DOM, extraction folds
    segmentation into tree construction: on every document parse the
    fold keeps (nothing rearranged), both must yield the same blocks in
    the same order."""
    from sparkhtml.extract import segment_blocks

    def key(blocks):
        return [(b.tag, b.words, b.link_words, b.boiler, b.text) for b in blocks]

    n = 0
    for html in _segment_inputs():
        fold, dom, _ = _fold_parse(html, fragment=False)
        if fold.rearranged:
            continue
        rows, _, _ = fold.finish()
        assert key(segment_blocks(dom)) == \
            [(tag, words, link_words, boiler, texts)
             for tag, texts, words, link_words, boiler, _ in rows], html
        n += 1
    assert n > 500


def test_fold_matches_flat_oracle(monkeypatch):
    """Fragment parses, as extraction runs them. A parse that moved a
    node must report a rearrangement, and extract_main_text falls back
    to the flat segmentation exactly then; every other parse's fold
    gives the flat oracle's blocks, node count and depth (the five
    ParseCounts fields: test_parse_counts_match_flat_oracle)."""
    from sparkhtml.extract import segment_blocks

    calls = _count_fallbacks(monkeypatch)
    n = n_fold = 0
    for html in _segment_inputs():
        fold, dom, moved = _fold_parse(html)
        assert fold.rearranged or not moved, html
        if not fold.rearranged:
            rows, n_nodes, max_depth = fold.finish()
            assert [row[:5] for row in rows] == \
                [(b.tag, b.text, b.words, b.link_words, b.boiler)
                 for b in segment_blocks(dom)], html
            assert all(tokens is None or tokens == "".join(texts).split()
                       for _, texts, _, _, _, tokens in rows), html
            assert (n_nodes, max_depth) == (len(dom), max(dom.depth)), html
            n_fold += 1
        before = calls[0]
        extract_main_text(html)
        assert calls[0] - before == fold.rearranged, html
        n += 1
    assert n_fold > 0.75 * n and n > 1000


def _flat_extract(dom):
    """Steps 6-7 over the flat segmentation: the oracle text."""
    from sparkhtml.extract import _normalize, classify_block, segment_blocks

    texts = (_normalize("".join(b.text)) for b in segment_blocks(dom)
             if classify_block(b))
    return "\n".join(t for t in texts if t)


@pytest.mark.parametrize("html,fragment", [
    ("<b>x<p>y</b>z</p>", True),  # adoption agency, furthest block
    ("<table>a<tr><td>b</table>", True),  # foster-parented text
    ("<a href=x>one two<div>three<a href=y>four five</a> six</div></a>",
     True),  # <a> inside <a>
    ("<body><p>one two three four five</p><body class=nav>",
     False),  # <body> attribute merge
    ("<head></head> <title>x y</title><p>one two three four five",
     False),  # head re-push after html got a later child
])
def test_rearranged_parse_matches_flat_oracle(html, fragment, monkeypatch):
    from sparkhtml.extract import ParseCounts, doc_metrics

    fold, dom, _ = _fold_parse(html, fragment)
    assert fold.rearranged
    expected = _flat_extract(dom)
    calls = _count_fallbacks(monkeypatch)
    counts = ParseCounts()
    assert extract_main_text(html, fragment, counts) == expected
    assert calls == [1]
    m = doc_metrics(dom)
    del m["n_errors"]
    assert {k: getattr(counts, k) for k in m} == m


def test_depth_bomb_stays_on_the_fold(monkeypatch):
    """The depth guard drops elements, it does not move them: a 600-deep
    bomb is no rearrangement."""
    html = "<div>" * 600 + "<p>one two three four five</p>" + "</div>" * 600
    fold, dom, _ = _fold_parse(html)
    assert not fold.rearranged
    assert _flat_extract(dom) == "one two three four five"
    calls = _count_fallbacks(monkeypatch)
    assert extract_main_text(html) == "one two three four five"
    assert calls == [0]
    _, n_nodes, max_depth = fold.finish()
    assert (n_nodes, max_depth) == (len(dom), max(dom.depth))


def test_generator_spans_take_the_fold(monkeypatch):
    """Benchmark-shaped spans, pathological stratum included, never fall
    back: a change that sends them to the flat path fails here."""
    from datagen.interleaved import make_corpus
    from sparkhtml.extract import ParseCounts

    spans = (s["text"] for doc in make_corpus(400, 1, 0.005)
             for s in doc["spans"] if s["kind"] == "text")
    spans = [t for _, t in zip(range(2000), spans)]
    assert len(spans) == 2000
    assert any(len(t) > 12_000 for t in spans)  # a pathological span
    calls = _count_fallbacks(monkeypatch)
    counts = ParseCounts()
    for t in spans:
        extract_main_text(t, counts=counts)
    assert calls == [0]


def test_folded_tree_has_no_reference_cycles():
    """After ``finish`` no node of a folded parse points to its parent,
    and the builder's tokenizer no longer holds a method of the builder:
    a span's tree is freed by reference counting, not by the cyclic
    collector."""
    from sparkhtml.extract import _Fold

    html = ("<!DOCTYPE html><nav><a href=x>home</a></nav><!--c-->"
            "<p>one <b>two</b> &amp; three<table><tr><td>four</table>")
    fold = _Fold()
    tb = parse(html, _fold=fold)
    assert not fold.rearranged
    assert tb.tokenizer.cdata_allowed is None
    fold.finish()
    todo, n = [tb.document], 0
    while todo:
        node = todo.pop()
        assert node.parent is None, node
        todo.extend(node.children)
        n += 1
    assert n == 19


def test_extraction_parses_through_module_parse_fragment(monkeypatch):
    """Span extraction calls ``treebuilder.parse_fragment`` as looked up
    on the module at call time, so a wrapper there (perfbench's layer
    timing) sees every extraction parse."""
    from sparkhtml import treebuilder

    calls = []
    parse_fragment = treebuilder.parse_fragment

    def counted(*args, **kwargs):
        calls.append(args[0])
        return parse_fragment(*args, **kwargs)

    monkeypatch.setattr(treebuilder, "parse_fragment", counted)
    assert extract_spans([{"kind": "text", "text": "<p>one</p>",
                           "media_ref": None, "offset": 0}]) == \
        [{"kind": "text", "text": "one", "media_ref": None, "offset": 0}]
    assert calls == ["<p>one</p>"]


def test_normalize_matches_regex_form():
    """``_normalize`` splits on str whitespace; the regex form it
    replaced is the oracle, over every code point alone and between two
    letters."""
    import re
    import sys

    from sparkhtml.extract import _normalize

    ws = re.compile(r"\s+")
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        t = "a" + c + "b"
        assert _normalize(c) == ws.sub(" ", c).strip(), cp
        assert _normalize(t) == ws.sub(" ", t).strip(), cp


def test_parse_counts_match_flat_oracle():
    """A ParseCounts accumulator leaves the extracted text unchanged, and
    its counts equal doc_metrics over the flattened fragment; summed over
    two calls, it adds the counts and keeps the larger depth."""
    from sparkhtml.extract import ParseCounts, doc_metrics

    n = 0
    for html in _segment_inputs():
        counts = ParseCounts()
        assert extract_main_text(html, counts=counts) == \
            extract_main_text(html), html
        m = doc_metrics(_fragment_dom(html))
        assert {k: getattr(counts, k) for k in m} == m, html
        n += 1
    assert n > 500
    counts = ParseCounts()
    extract_main_text("<p>one two</p>", counts=counts)
    extract_main_text("<div><p><b>three</b></p></div><x>", counts=counts)
    assert (counts.n_nodes, counts.n_words, counts.max_depth) == \
        (3 + 6, 3, 4)


def test_whatwg_label_table_complete():
    """Every label in the WHATWG Encoding Standard table (the 219-entry
    set the reference embeds, HTMLEncoding.m:124-360, plus post-2017
    additions) must resolve to the right canonical encoding — real crawl
    data hits the exotic labels."""
    import json
    import os

    from sparkhtml.encoding import decode_html_bytes, encoding_for_label

    # our python-codec name → WHATWG canonical encoding name
    canonical = {
        "utf-8": "UTF-8", "ibm866": "IBM866", "koi8-r": "KOI8-R",
        "koi8-u": "KOI8-U", "mac-roman": "macintosh",
        "cp874": "windows-874", "mac-cyrillic": "x-mac-cyrillic",
        "gbk": "GBK", "gb18030": "gb18030", "big5": "Big5",
        "euc-jp": "EUC-JP", "iso-2022-jp": "ISO-2022-JP",
        "shift_jis": "Shift_JIS", "euc-kr": "EUC-KR",
        "replacement": "replacement", "x-user-defined": "x-user-defined",
        "utf-16be": "UTF-16BE", "utf-16le": "UTF-16LE",
    }
    for i in (2, 3, 4, 5, 6, 7, 8, 10, 13, 14, 15, 16):
        canonical[f"iso-8859-{i}"] = f"ISO-8859-{i}"
    for i in range(1250, 1259):
        canonical[f"cp{i}"] = f"windows-{i}"

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "whatwg_encoding_labels.json"
    )
    table = json.load(open(path))["labels"]
    assert len(table) >= 219
    for label, want in table.items():
        codec = encoding_for_label(label)
        assert codec is not None, f"label {label!r} unresolved"
        got = canonical[codec]
        # the reference maps iso-8859-8-i labels to ISO-8859-8-I and the
        # x-mac-ukrainian label to x-mac-cyrillic per the standard
        if want in ("ISO-8859-8-I",):
            want = "ISO-8859-8"
        assert got == want, f"{label!r}: {got} != {want}"
        # uppercase + whitespace labels resolve too (spec: ASCII
        # case-insensitive, strip)
        assert encoding_for_label(f"  {label.upper()} ") == codec
    # every mapped codec either decodes bytes or is a handled sentinel
    import codecs as _codecs

    for codec in set(canonical) - {"replacement", "x-user-defined"}:
        assert _codecs.lookup(codec) is not None
        if not codec.startswith(("utf-16", "iso-2022")):
            assert b"ok".decode(codec) == "ok"
    text, codec, _ = decode_html_bytes(
        b"\x80abc", "text/html; charset=x-user-defined"
    )
    assert text == "abc" and codec == "x-user-defined"
    text, codec, _ = decode_html_bytes(b"anything", "text/html; charset=hz-gb-2312")
    assert text == "�" and codec == "replacement"


def test_depth_bomb_with_stray_end_p_does_not_crash():
    """Regression: inside a depth bomb the depth guard drops the recovery
    <p> that a stray </p> inserts; _pop_until then drained the stack and
    crashed (IndexError). Found by profiling the synthetic corpus."""
    html = "<div>" * 2000 + "</p>text after"
    # must not raise, on either the fragment or full-document path
    extract_main_text(html + "</div>" * 5)
    dom = FlatDOM.from_html(html)
    assert len(dom) > 0


def test_prescan_skips_commented_meta():
    """WHATWG prescan ignores <meta charset> inside comments (regression:
    a commented-out utf-16 meta won the sniff)."""
    assert sniff_encoding(
        b'<!-- <meta charset=utf-16> --><meta charset=ibm866>'
    ) == ("ibm866", TENTATIVE)
    # unterminated comment swallows the rest of the prescan window
    assert sniff_encoding(b'<!-- <meta charset=gbk>')[0] == "cp1252"
    # unknown (non-WHATWG) label falls through to the default
    assert sniff_encoding(b'<meta charset=cp874>')[0] == "cp1252"
    # and the real label family works
    assert sniff_encoding(b'<meta charset=windows-874>')[0] == "cp874"
