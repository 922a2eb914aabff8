"""Property-based tests (hypothesis) — rigor the reference lacks
(SURVEY.md §5: 'No property-based/randomized testing' upstream).

Invariants:
- parse never crashes on arbitrary text; flat DOM structure is well formed
  (parents precede children, subtree ranges nest, depths consistent)
- serialize→parse→serialize is a fixed point (serialization idempotence)
- escape/unescape round-trips arbitrary text
- extraction is deterministic and never invents media refs
- selector matcher agrees with a naive DFS evaluator on generated docs
"""

import html as stdhtml
import re
import string

import pytest
from hypothesis import assume, given, settings, strategies as st

from sparkhtml.dom import FlatDOM
from sparkhtml.escape import escape_html, unescape_html
from sparkhtml.extract import extract_spans
from sparkhtml.selector import select
from sparkhtml.serializer import serialize
from sparkhtml.treebuilder import ELEMENT, parse

# -- input strategies ---------------------------------------------------------

html_chars = st.text(
    alphabet=string.ascii_letters + string.digits + " <>&=\"'/!-;#\n\t.",
    max_size=200,
)

tag_names = st.sampled_from(
    ["div", "p", "span", "b", "i", "ul", "li", "table", "td", "a", "em"]
)


@st.composite
def small_html(draw, depth=0):
    if depth > 3 or draw(st.booleans()):
        return draw(st.text(alphabet=string.ascii_letters + " &#;", max_size=20))
    tag = draw(tag_names)
    attrs = ""
    if draw(st.booleans()):
        cls = draw(st.sampled_from(["x", "y", "z w"]))
        attrs = f' class="{cls}"'
    if draw(st.booleans()):
        attrs += f' id="{draw(st.sampled_from(["a1", "b2", "c3"]))}"'
    inner = "".join(
        draw(small_html(depth=depth + 1))
        for _ in range(draw(st.integers(0, 3)))
    )
    return f"<{tag}{attrs}>{inner}</{tag}>"


# -- properties ----------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(html_chars)
def test_parse_never_crashes_and_dom_well_formed(text):
    dom = FlatDOM.from_html(text)
    n = len(dom)
    assert n >= 1 and dom.parent[0] == -1
    for i in range(1, n):
        p = dom.parent[i]
        assert 0 <= p < i                      # parents precede children
        assert dom.depth[i] == dom.depth[p] + 1
        assert i < dom.subtree[i] <= dom.subtree[p]  # ranges nest
    assert dom.subtree[0] == n


@settings(max_examples=100, deadline=None)
@given(small_html())
def test_serialize_fixed_point(html):
    """parse∘serialize converges by the SECOND serialization.

    One round is not a fixed point for any spec-conformant parser: quirks-mode
    foster parenting (e.g. ``<p><table><div></div></table></p>``) moves nodes
    such that re-serializing the first output parses differently once — but the
    second output must be stable (s2 == s3). Verified against reference
    semantics (HTMLTreeConstructionTests.m equivalence: tree, not text)."""
    out1 = serialize(parse(html).document)
    out2 = serialize(parse(out1).document)
    out3 = serialize(parse(out2).document)
    assert out2 == out3


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=300))
def test_escape_roundtrip(text):
    assert unescape_html(escape_html(text)) == text


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.one_of(
        st.builds(
            lambda t, o: {"kind": "text", "text": t, "media_ref": None, "offset": o},
            small_html(), st.integers(0, 50),
        ),
        st.builds(
            lambda r, o: {"kind": "media", "text": None, "media_ref": f"m-{r}", "offset": o},
            st.integers(0, 9), st.integers(0, 50),
        ),
    ),
    max_size=6,
))
def test_extract_spans_invariants(spans):
    out1 = extract_spans(spans)
    out2 = extract_spans(spans)
    assert out1 == out2  # deterministic
    in_media = sorted(
        (s["offset"], s["media_ref"]) for s in spans if s["kind"] == "media"
    )
    out_media = sorted(
        (s["offset"], s["media_ref"]) for s in out1 if s["kind"] == "media"
    )
    assert out_media == in_media  # media pass through exactly
    offsets = [s["offset"] for s in out1]
    assert offsets == sorted(offsets)  # offset order preserved


def _naive_match(dom, simple_checks, i):
    return all(c(dom, i) for c in simple_checks)


@settings(max_examples=80, deadline=None)
@given(small_html(), st.sampled_from([
    "p", "div p", "div > p", ".x", "#a1", "li", "span + b", "p ~ span",
    "li:first-child", "td:nth-child(2)", ":not(.x)",
]))
def test_selector_agrees_with_naive_dfs(html, sel):
    """Cross-check the mask matcher against a per-node recursive evaluator
    built from first principles (the reference's evaluation shape)."""
    dom = FlatDOM.from_html(html)
    got = set(select(dom, sel))
    naive = set(_naive_select(dom, sel))
    assert got == naive


def _naive_select(dom, sel):
    from sparkhtml.selector import parse_selector

    group = parse_selector(sel)
    out = []
    for i in range(len(dom)):
        if dom.kind[i] != ELEMENT:
            continue
        if any(_matches_complex(dom, i, cx) for cx in group.complexes):
            out.append(i)
    return out


def _matches_complex(dom, i, cx):
    if not _matches_compound(dom, i, cx.compounds[-1]):
        return False
    node = i
    for k in range(len(cx.combinators) - 1, -1, -1):
        comb = cx.combinators[k]
        comp = cx.compounds[k]
        if comb == ">":
            p = dom.parent[node]
            if p < 0 or not _matches_compound(dom, p, comp):
                return False
            node = p
        elif comb == " ":
            p = dom.parent[node]
            found = None
            while p >= 0:
                if _matches_compound(dom, p, comp):
                    # greedy is wrong in general; try all ancestors
                    if _matches_prefix(dom, p, cx, k):
                        found = p
                        break
                p = dom.parent[p]
            if found is None:
                return False
            return True
        elif comb in ("+", "~"):
            sibs = [c for c in dom.children_of(dom.parent[node])
                    if dom.kind[c] == ELEMENT]
            idx = sibs.index(node)
            if comb == "+":
                if idx == 0 or not _matches_compound(dom, sibs[idx - 1], comp):
                    return False
                node = sibs[idx - 1]
            else:
                prior = [s for s in sibs[:idx] if _matches_compound(dom, s, comp)]
                if not any(_matches_prefix(dom, s, cx, k) for s in prior):
                    return False
                return True
    return True


def _matches_prefix(dom, node, cx, k):
    """Does `node` satisfy compounds[0..k] joined by combinators[0..k-1]?"""
    sub_cx = type(cx)(compounds=cx.compounds[: k + 1],
                      combinators=cx.combinators[:k])
    return _matches_complex(dom, node, sub_cx)


def _matches_compound(dom, i, comp):
    from sparkhtml.selector import _match_compound

    return _match_compound(dom, comp)[i]


@settings(max_examples=200, deadline=None)
@given(st.text(
    alphabet=string.ascii_letters + string.digits + "&#;xX abc<>\"'",
    max_size=80,
))
def test_unescape_matches_stdlib(text):
    """Differential: our from-scratch WHATWG reference resolver must agree
    with Python's stdlib html.unescape (independent implementation of the
    same spec) on arbitrary entity soup, except on the one class where
    the stdlib departs from WHATWG (pinned by
    ``test_unescape_keeps_invalid_codepoints``)."""
    assume(not _stdlib_drops(text))
    assert unescape_html(text) == stdhtml.unescape(text)


def _stdlib_drops(text):
    """True when ``text`` holds a numeric reference to a code point that
    stdlib ``html.unescape`` drops (its ``_invalid_codepoints``, minus the
    ones its ``_invalid_charrefs`` table replaces). WHATWG keeps such a
    character and reports a parse error."""
    for m in re.finditer(r"&#(?:[xX]([0-9a-fA-F]+)|([0-9]+))", text):
        cp = int(m.group(1), 16) if m.group(1) else int(m.group(2))
        if (cp in stdhtml._invalid_codepoints
                and cp not in stdhtml._invalid_charrefs):
            return True
    return False


@pytest.mark.parametrize("text, want", [
    # control characters and noncharacters: kept (stdlib gives '')
    ("&#1", "\x01"), ("&#11;", "\x0b"), ("&#127;", "\x7f"),
    ("&#xFFFE;", "\ufffe"), ("a&#x1;b", "a\x01b"),
    # the neighbours the stdlib resolves the same way: the C1 table,
    # NUL, and CR
    ("&#x80;", "\u20ac"), ("&#0;", "\ufffd"), ("&#13;", "\r"),
])
def test_unescape_keeps_invalid_codepoints(text, want):
    """WHATWG numeric character reference end state: a control or
    noncharacter code point is a parse error, but the character is kept.
    The stdlib oracle of ``test_unescape_matches_stdlib`` drops it, and
    that test skips exactly the inputs where the two differ."""
    assert unescape_html(text) == want
    assert _stdlib_drops(text) == (stdhtml.unescape(text) != want)


@settings(max_examples=200, deadline=None)
@given(st.text(
    alphabet=string.ascii_letters + string.digits + "&#;xX abc<>\"'",
    max_size=80,
))
def test_unescape_regex_path_matches_tokenizer_resolver(text):
    """Differential: the re.sub fast path in unescape_html must agree with
    a loop over consume_char_ref (the tokenizer's resolver, non-attribute
    mode) — the two in-repo realizations of WHATWG §13.2.5.72-80."""
    from sparkhtml.entities import consume_char_ref

    out, i = [], 0
    while True:
        j = text.find("&", i)
        if j == -1:
            out.append(text[i:])
            break
        out.append(text[i:j])
        t, i = consume_char_ref(text, j, in_attribute=False, errors=None)
        out.append(t)
    assert unescape_html(text) == "".join(out)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="<>/&;#abcdiv plsERT='\"!-0123456789", max_size=120))
def test_tag_soup_parse_serialize_converges(html):
    """Arbitrary tag soup: parse∘serialize converges by the second round
    and never crashes (differential-fuzz posture the reference gets from
    running the full html5lib corpus)."""
    out1 = serialize(parse(html).document)
    out2 = serialize(parse(out1).document)
    out3 = serialize(parse(out2).document)
    assert out2 == out3


@settings(max_examples=250, deadline=None)
@given(st.lists(st.tuples(
    st.sampled_from(["a", "div", "p", "input", "x1", "data-x", "DIV"]),
    st.sampled_from(["", "v", "a b", "a&amp;b", "x'y", 'x"y', "1/2", "<t>",
                     "\tv\n", "`q`", "="]),
    st.sampled_from(['="{}"', "='{}'", "={}", "", " ", "/"]),
), max_size=4), st.sampled_from(["", " ", "/", " /"]))
def test_fast_tag_path_matches_state_machine(attrs, tail):
    """Differential: the optimistic one-regex tag path must produce the
    exact token stream (incl. error counts) of the per-state machine."""
    import sparkhtml.tokenizer as tz

    parts = []
    for name, val, shape in attrs:
        if shape in ("", " ", "/"):
            parts.append(f" {name}{shape}")
        else:
            parts.append(" " + name + shape.format(val))
    html = "<div" + "".join(parts) + tail + ">text<span>"

    def toks(disabled):
        orig = tz.Tokenizer._try_fast_tag
        if disabled:
            tz.Tokenizer._try_fast_tag = lambda self, s, i: None
        try:
            t = tz.Tokenizer(html)
            out = list(t.tokens())
            return out, len(t.errors)
        finally:
            tz.Tokenizer._try_fast_tag = orig

    assert toks(False) == toks(True)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from([
    "<p>", "</p>", "<b>", "</b>", "<i>", "</i>", "<a href='/x'>", "</a>",
    "<div>", "</div>", "<span>", "</span>", "<ul>", "<li>", "</li>", "</ul>",
    "<h2>", "</h2>", "<table>", "<tr>", "<td>", "</td>", "</tr>", "</table>",
    "<th>", "</th>", "<td class=c>", "<tbody>",
    "<pre>", "</pre>", "<nobr>", "</nobr>", "<em class='q'>", "</em>",
    "<svg>", "</svg>", "<script>", "</script>", "<br>", "<img src=x>",
    "<foreignObject>", "</foreignObject>", "<desc>", "</desc>",
    "<math>", "</math>", "<mi>", "</mi>",
    "<annotation-xml encoding='text/html'>", "</annotation-xml>",
    "<style>", "</style>", "<title>", "</title>", "<textarea>",
    "</textarea>", "<xmp>", "</xmp>", "var a<b;", "<!--x-->",
    "</script >", "</scriptx", "i<n&&j<k",
    "<template>", "</template>", "<caption>", "</caption>",
    "<colgroup>", "<col>", "<select>", "</select>", "<option>",
    "<!--c-->", "<!--a--b-->", "<form>", "</form>", "<button>", "</button>",
    "text ", "&amp;", "&hellip;", "&bogus;", "x&#65;y", " \n", "words here",
]), max_size=24).map("".join))
def test_fused_loop_matches_pull_parser(html):
    """Differential: the fused in-body/in-cell turbo loop must produce the
    exact tree (html5lib dump) and error multiset of the token-at-a-time
    pull path."""
    from sparkhtml.serializer import html5lib_dump

    fused = parse(html, use_turbo=True)
    pull = parse(html, use_turbo=False)
    assert html5lib_dump(fused.document) == html5lib_dump(pull.document)
    assert sorted(fused.errors) == sorted(pull.errors)
    assert fused.quirks == pull.quirks


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from([
    "<p>", "</p>", "<b>", "</b>", "<a href=x>", "</a>", "<div>", "</div>",
    "<div class=nav>", "<div id=content>", "<span class=share>", "</span>",
    "<em id=menu>", "</em>", "<ul>", "<li>", "</ul>", "<h2>", "</h2>",
    "<table>", "<tr>", "<td>", "</td>", "</table>", "<nav>", "</nav>",
    "<footer>", "<form>", "</form>", "<pre>", "</pre>", "<svg>", "<desc>",
    "</svg>", "<script>x y</script>", "<select>", "<option>", "<br>",
    "<!--c-->", "<body class=ads>", "<html id=menu>", "</body>", "</html>",
    "<head>", "</head>", "<title>t</title>", "<frameset>", "<textarea>",
    "<template>", "</template>", "one two", " three four five ", "&amp; six",
]), max_size=24).map("".join), st.booleans())
def test_fold_segmentation_matches_flat_oracle(html, fragment):
    """Extraction folds segmentation into tree construction. A parse
    that moved a node must report a rearrangement; every other one must
    give the flat segmentation's blocks, node count and depth."""
    from test_units import _fold_parse

    from sparkhtml.extract import segment_blocks

    fold, dom, moved = _fold_parse(html, fragment)
    assert fold.rearranged or not moved
    if not fold.rearranged:
        rows, n_nodes, max_depth = fold.finish()
        assert [row[:5] for row in rows] == \
            [(b.tag, b.text, b.words, b.link_words, b.boiler)
             for b in segment_blocks(dom)]
        assert (n_nodes, max_depth) == (len(dom), max(dom.depth))


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="<>/&;#abcdiv plsERT='\"!-0123456789\0\n", max_size=150))
def test_fused_loop_matches_pull_parser_char_soup(html):
    """Same differential over raw character soup (malformed tags, NULs,
    stray ampersands, half-comments)."""
    from sparkhtml.serializer import html5lib_dump

    fused = parse(html, use_turbo=True)
    pull = parse(html, use_turbo=False)
    assert html5lib_dump(fused.document) == html5lib_dump(pull.document)
    assert sorted(fused.errors) == sorted(pull.errors)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from([
        "<p>", "</p>", "<b>", "</b>", "<a href='/x'>", "</a>", "<div>",
        "</div>", "<ul>", "<li>", "</li>", "</ul>", "<h2>", "</h2>",
        "<table>", "<tr>", "<td>", "</td>", "</table>", "<pre>", "</pre>",
        "<svg>", "</svg>", "<script>", "</script>", "<!--c-->", "text ",
        "&amp;", "&#65;", "</body>", "</html>", "<span>", "</span>",
        "<foreignObject>", "</foreignObject>", "<math>", "</math>",
        "<mi>", "</mi>", "<desc>", "</desc>",
    ]), max_size=16).map("".join),
    st.sampled_from(["body", "div", "td", "table", "a", "form", "p"]),
)
def test_fused_loop_matches_pull_parser_fragments(html, context):
    """Differential over FRAGMENT parsing (the extraction hot path): the
    fused loop must match the pull path for HTML-namespace contexts."""
    from sparkhtml.serializer import dump_fragment
    from sparkhtml.treebuilder import parse_fragment

    fused = parse_fragment(html, context, use_turbo=True)
    pull = parse_fragment(html, context, use_turbo=False)
    assert dump_fragment(fused) == dump_fragment(pull)
