"""HTML entity escape/unescape scalar functions.

Reference parity: /root/reference/Sources/NSString+HTMLEntities.m —
``-html_stringByEscapingForHTML`` (:13-25: ``& \\xa0 " < >``) and
``-html_stringByUnescapingHTML`` (:27-118: numeric & named entities,
missing-semicolon tolerance via longest-prefix match).

Both have vectorized variants over a pyarrow string Array (the Spark
layer's ``arrow_udf``s call those; X8/X9 in SURVEY.md §2.5).
"""

from __future__ import annotations

import re

from .entities import (
    ENTITIES,
    _BY_FIRST_LEGACY,
    consume_char_ref,
    map_numeric,
)

_ESCAPES = [
    ("&", "&amp;"),
    ("\xa0", "&nbsp;"),
    ('"', "&quot;"),
    ("<", "&lt;"),
    (">", "&gt;"),
]


def escape_html(s: str) -> str:
    """X8: escape ``& \\xa0 " < >`` (NSString+HTMLEntities.m:13-25)."""
    for ch, rep in _ESCAPES:
        s = s.replace(ch, rep)
    return s


# Candidate character references, scanned C-side by the regex engine; the
# Python callback fires only per candidate. Alternation order matters:
# hex / dec numeric, then the bare "#"/"#x" absence-of-digits stub, then a
# named run (≤32 chars — MAX_ENTITY_LEN — with optional final ';').
_CHARREF_RE = re.compile(
    r"&(#[xX][0-9a-fA-F]+;?|#[0-9]+;?|#[xX]?|[a-zA-Z][a-zA-Z0-9]{0,31};?)"
)


def _replace_charref(m: "re.Match[str]") -> str:
    ref = m.group(1)
    if ref[0] == "#":
        if len(ref) == 1 or (len(ref) == 2 and ref[1] in "xX"):
            return m.group(0)  # absence-of-digits: consumed chars verbatim
        if ref[1] in "xX":
            body, base = ref[2:], 16
        else:
            body, base = ref[1:], 10
        if body.endswith(";"):
            body = body[:-1]
        return map_numeric(int(body, base), None)
    if ref.endswith(";") and ref in ENTITIES:
        return ENTITIES[ref]
    # legacy semicolonless subset, longest-prefix (buckets are longest-first)
    for name in _BY_FIRST_LEGACY.get(ref[0], ()):
        if ref.startswith(name):
            return ENTITIES[name] + ref[len(name):]
    return m.group(0)


def unescape_html(s: str) -> str:
    """X9: resolve all character references, tolerant of missing semicolons
    (NSString+HTMLEntities.m:27-118). Not attribute context: the historical
    ``&xyz=`` suppression rule does not apply.

    One ``re.sub`` over a compiled candidate regex (scanning stays in C;
    the callback mirrors :func:`sparkhtml.entities.consume_char_ref`
    semantics for the non-attribute case — the tokenizer keeps using
    ``consume_char_ref`` itself, which the differential property test
    cross-checks against this path).
    """
    if "&" not in s:
        return s
    return _CHARREF_RE.sub(_replace_charref, s)


# ----------------------------------------------------------------- arrow

def escape_array(arr):
    """Vectorized X8 over a pyarrow string Array (a ``replace_substring``
    chain in ``_ESCAPES`` order, all C-level). A null row escapes as ``""``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.fill_null(arr.cast(pa.string()), "")  # a bare SQL NULL is null-typed
    for ch, rep in _ESCAPES:
        s = pc.replace_substring(s, ch, rep)
    return s


def unescape_array(arr):
    """Vectorized X9: only rows containing a candidate reference take the
    Python path; entity-free rows (the common case) pass through untouched.
    A null row unescapes as ``""``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.fill_null(arr.cast(pa.string()), "")
    mask = pc.match_substring_regex(s, r"&[#a-zA-Z]")
    hits = pc.filter(s, mask).to_pylist()
    if not hits:
        return s
    return pc.replace_with_mask(
        s, mask, pa.array([unescape_html(v) for v in hits], s.type))
