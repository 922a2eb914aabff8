"""Differential tests for the PDF tier's two fast paths.

* The content-stream tokenizer: one ``findall`` per stream
  (``_fast_tokens``) against the general per-token loop (``_scan_tokens``)
  on generated PDFs, the external pdfTeX fixtures and seeded mutants.
* Line building: ``_frags_to_lines``'s one-pointer sweep against the
  first-fit scan it replaced, kept here as the oracle.
"""

import math
import os
import random
import re

import pytest

from sparkhtml.spark.pdf import (
    PDF,
    Frag,
    _content_tokens,
    _fast_tokens,
    _frags_to_lines,
    _scan_tokens,
    build_pdf,
)

from test_pdf import EXTERNAL as _EXTERNAL_FIXTURES

EXTERNAL = [path for path, _pages, _marks in _EXTERNAL_FIXTURES]


def _norm(v):
    """Token value with its type, recursively (Name vs str vs bytes)."""
    if isinstance(v, list):
        return ("list", [_norm(x) for x in v])
    return (type(v).__name__, repr(v))


def _norm_tokens(toks):
    return [(kind, _norm(v)) for kind, v in toks]


def _streams(blob: bytes) -> list[bytes]:
    pdf = PDF(blob)
    return [pdf.page_content(page) for page in pdf.pages()]


def _check(data: bytes) -> bool:
    """Assert the two tokenizers agree; True if the fast path applied."""
    general = _scan_tokens(data)
    assert _norm_tokens(_content_tokens(data)) == _norm_tokens(general)
    fast = _fast_tokens(data)
    if fast is None:
        return False
    assert _norm_tokens(fast) == _norm_tokens(general)
    return True


# ---------------------------------------------------------------------------
# tokenizer


@pytest.mark.parametrize("seed", [1, 2])
def test_fast_tokens_match_general_loop_on_generated_pdfs(seed):
    from perfbench.inputs import pdf_doc

    n_streams = 0
    for i in range(200):
        for data in _streams(pdf_doc(i, seed)):
            assert _check(data), f"doc {i}: generated page fell back"
            n_streams += 1
    assert n_streams >= 400


@pytest.mark.parametrize("path", EXTERNAL)
def test_fast_tokens_match_general_loop_on_external_pdfs(path):
    if not os.path.exists(path):
        pytest.skip(f"{path} not installed")
    streams = _streams(open(path, "rb").read())
    fallbacks = sum(not _check(data) for data in streams)
    print(f"{os.path.basename(path)}: {len(streams)} streams, "
          f"{fallbacks} fell back to the general loop")


_PIECES = [b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%",
           b"\\", b"#", b"\r", b"\n", b"\r\n", b" ", b"BI", b"<<", b">>",
           b"\\0", b"\\12", b"\\(", b"\\)", b"<4a 6>"] + \
    [bytes([c]) for c in b"0123456789"]

_BASE = (
    b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (plain) Tj\n"
    b"[(kern) -250 (ed) 120.5 (\\050esc\\051 \\\\ \\n)] TJ\n"
    b"<48656C6C6F> Tj <4 8 6>Tj /Na#20me 3 Tf -.5 +2. Td % comment\n"
    b"(octal \\101\\1012 \\\r\n cont) ' 1 2 (x) \" T* ET q 1 0 0 1 0 0 cm Q\n"
    b"/Im1 Do (BIBLIOGRAPHY) Tj BIBLIOGRAPHY\n"
)


def _mutant(rng: random.Random, base: bytes) -> bytes:
    data = bytearray(base)
    for _ in range(rng.randint(1, 6)):
        piece = rng.choice(_PIECES)
        pos = rng.randrange(len(data) + 1)
        if rng.random() < 0.5:
            data[pos:pos] = piece
        else:
            data[pos:pos + len(piece)] = piece
    return bytes(data)


def test_fast_tokens_match_general_loop_on_mutants():
    rng = random.Random(0x70C5)
    bases = [_BASE] + [s[:1500] for s in _streams(build_pdf(
        [[("text", "alpha beta gamma " * 30), ("image",)]], two_column=True))]
    fast = fallback = 0
    for _ in range(2400):
        if _check(_mutant(rng, rng.choice(bases))):
            fast += 1
        else:
            fallback += 1
    # both paths must be exercised for the comparison to mean anything
    assert fast > 300 and fallback > 300, (fast, fallback)


def test_fast_tokens_cover_real_producer_constructs():
    # escapes (pdfTeX writes octal), hex strings, #xx names, arrays
    assert _fast_tokens(_BASE) == _scan_tokens(_BASE)
    # BI is an operator token, not a substring
    assert _fast_tokens(b"(BI) Tj /BI Do BIBLIOGRAPHY") is not None
    assert _fast_tokens(b"q BI /W 1 ID x EI Q") is None
    assert _content_tokens(b"q BI /W 1 ID (x EI Q") == \
        [("op", b"q"), ("op", b"BI"), ("op", b"Q")]
    # both end a stream in a comment without reading a token out of it
    for data, last in ((b"BT (hidden) % Tj", ("obj", b"hidden")),
                       (b"BT (hidden) %'", ("obj", b"hidden")),
                       (b"BT " + b"%" * 40 + b" x", ("op", b"BT"))):
        assert _check(data) and _scan_tokens(data)[-1] == last
    # what the regex cannot express goes to the general loop
    for data in (b"(a (nested) b) Tj", b"<< /A 1 >> BDC", b") Tj",
                 b"(unterminated Tj", b"<zz> Tj", b"{ } Tj"):
        assert _fast_tokens(data) is None, data


# ---------------------------------------------------------------------------
# line building

_MULTISPACE_RE = re.compile(r"  +")


def _first_fit_lines(frags):
    """The first-fit line builder the sweep replaced (oracle)."""
    from sparkhtml.spark.pdf import Line

    text_frags = [f for f in frags if f.kind == "text"]
    media_frags = [f for f in frags if f.kind == "media"]
    sizes = sorted(f.size for f in text_frags if f.size > 0)
    med = sizes[len(sizes) // 2] if sizes else 10.0
    tol = max(1.0, 0.45 * med)
    lines = []
    for f in sorted(text_frags, key=lambda f: (-f.y, f.x0)):
        placed = None
        for ln in lines:
            if abs(ln.y - f.y) <= tol:
                placed = ln
                break
        if placed is None:
            lines.append(Line("text", f.y, f.x0, f.x1,
                              [(f.x0, f.x1, f.text, f.size)], f.size))
        else:
            placed.text.append((f.x0, f.x1, f.text, f.size))
            placed.x0 = min(placed.x0, f.x0)
            placed.x1 = max(placed.x1, f.x1)
    out = []
    for ln in lines:
        parts = sorted(ln.text, key=lambda t: t[0])
        buf = []
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


def _random_page(rng: random.Random, non_finite: bool) -> list:
    n = rng.randint(0, 40)
    sizes = [rng.choice([0.0, 6.5, 7.0, 9.5, 10.0, 12.0, 24.0])
             for _ in range(n)]
    pos = sorted(s for s in sizes if s > 0)
    tol = max(1.0, 0.45 * (pos[len(pos) // 2] if pos else 10.0))
    # baselines exactly tol apart, duplicated, and off by a little
    y, baselines = rng.uniform(100, 800), []
    for _ in range(rng.randint(1, 8)):
        baselines.append(y)
        y = y - tol if rng.random() < 0.6 else y - rng.uniform(0, 3 * tol)
    xs = [rng.choice([0.0, 36.0, 72.0, 72.0, 300.5]) for _ in range(4)]
    frags = []
    for size in sizes:
        fy = rng.choice(baselines)
        if rng.random() < 0.3:
            fy += rng.choice([tol, -tol, tol / 2, 1e-9, -1e-9])
        x0 = rng.choice(xs) if rng.random() < 0.5 else rng.uniform(0, 500)
        x1 = x0 + rng.choice([0.0, rng.uniform(-5, 80)])
        text = rng.choice(["w", "word", " ", "two words", "a  b", "x"])
        frags.append(Frag("text", x0, fy, x1, size, text))
    for _ in range(rng.randint(0, 2)):
        frags.append(Frag("media", rng.uniform(0, 500), rng.choice(baselines),
                          0.0, 0.0, None, "pdfimg:Im1"))
    if non_finite and frags:
        f = rng.choice(frags)
        f.y = rng.choice([math.inf, -math.inf, math.nan])
    if rng.random() < 0.05 and frags:  # x alone non-finite: y still sweeps
        f = rng.choice(frags)
        f.x0, f.x1 = rng.choice([math.nan, math.inf]), math.nan
    rng.shuffle(frags)
    return frags


def _lines_key(lines):
    return repr([(l.kind, l.y, l.x0, l.x1, l.text, l.size, l.ref)
                 for l in lines])


def test_sweep_lines_match_first_fit_scan():
    rng = random.Random(0x11E5)
    for k in range(6000):
        frags = _random_page(rng, non_finite=k % 50 == 0)
        assert _lines_key(_frags_to_lines(frags)) == \
            _lines_key(_first_fit_lines(frags)), k


def test_sweep_lines_match_on_generated_pages():
    from perfbench.inputs import pdf_doc

    from sparkhtml.spark.pdf import _page_view, interpret_page

    for i in range(60):
        pdf = PDF(pdf_doc(i, 3))
        for page in pdf.pages():
            frags = interpret_page(pdf, page, _ctm=_page_view(pdf, page)[0])
            assert _lines_key(_frags_to_lines(frags)) == \
                _lines_key(_first_fit_lines(frags)), i
