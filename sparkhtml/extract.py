"""Main-content (boilerplate) extraction + interleaved span re-emission.

North-rule layer (SURVEY.md §2.7): not present in the reference; built on
its primitives (block tag classes from HTMLParser.m:697,1272; textContent
X2 = HTMLNode.m:219-228) plus published text/link-density boilerplate
heuristics (Kohlschütter et al., "Boilerplate Detection using Shallow Text
Features", WSDM 2010 — boilerpipe-style densitometry).

The semantics below are THE contract the Spark pipeline and the span-
equality tests both implement — deterministic, documented, versioned:

1. Parse (fragment in ``body`` context for span text; full document parse
   for whole-page HTML).
2. Prune: ``script style noscript template iframe object embed applet``
   subtrees, comments, doctypes, and display-none-ish inputs are never text.
3. Boilerplate containers: any block inside ``nav footer header aside
   form`` elements, or inside an element whose id/class matches
   ``(^|\\b)(nav|menu|sidebar|footer|header|banner|breadcrumb|comment|
   share|social|ad|ads|advert|promo|related|widget)(\\b|$)`` is boilerplate.
4. Block segmentation: a text node belongs to its nearest ancestor with a
   block-level tag (``BLOCK_TAGS``); fragments without one form an
   implicit root block.
5. Densitometry per block: ``words`` (whitespace tokens), ``link_words``
   (words under an ``<a>`` descendant), ``link_density =
   link_words/words``.
6. Keep a block iff it is not boilerplate, ``link_density ≤ 1/3``, and
   (``words ≥ 5`` or (tag ∈ CONTENT_TAGS and ``words ≥ 1``)).
7. Output text = kept blocks' ``textContent`` in tree order, joined by
   ``"\\n"``, each block's text whitespace-normalized (collapse runs of
   whitespace to one space, strip ends).
8. Span re-emission: media spans pass through; text spans are replaced by
   their extracted text; spans whose extraction is empty are dropped;
   output keeps the input's ``offset`` order and values.
"""

from __future__ import annotations

import re
from typing import Optional

from .dom import FlatDOM
from .treebuilder import COMMENT, DOCTYPE, ELEMENT, NS_HTML, TEXT

BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption center dd details dialog
    dir div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6
    header hgroup hr html li listing main menu nav ol p pre section summary
    table tbody td tfoot th thead tr ul""".split()
)

CONTENT_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th blockquote pre figcaption caption dd dt".split()
)

PRUNE_TAGS = frozenset(
    "script style noscript template iframe object embed applet select option textarea".split()
)

BOILER_TAGS = frozenset("nav footer header aside form".split())

_BOILER_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(nav|navbar|menu|sidebar|footer|header|banner|breadcrumbs?"
    r"|comments?|share|social|ads?|advert\w*|promo|related|widget|cookie"
    r"|copyright|legal|toolbar|pagination)(?:$|[\s_-])",
    re.IGNORECASE,
)

MAX_LINK_DENSITY = 1.0 / 3.0
MIN_WORDS = 5

_WS_NORM = re.compile(r"\s+")


class Block:
    """One segmented text block with its densitometry features."""

    __slots__ = ("tag", "text", "words", "link_words", "boiler")

    def __init__(self, tag: Optional[str]) -> None:
        self.tag = tag
        self.text: list[str] = []
        self.words = 0
        self.link_words = 0
        self.boiler = False

    @property
    def link_density(self) -> float:
        return self.link_words / self.words if self.words else 0.0


def _is_boiler_container(dom: FlatDOM, nid: int) -> bool:
    if dom.tag[nid] in BOILER_TAGS:
        return True
    for attr in ("id", "class"):
        v = dom.get_attr(nid, attr)
        if v and _BOILER_CLASS_RE.search(v):
            return True
    return False


def segment_blocks(dom: FlatDOM) -> list[Block]:
    """Steps 2-5: prune, classify containers, segment, count densitometry.

    One forward pass over the pre-order arrays — prune/boiler/link/block
    state propagates down the same way descendant-combinator matching does
    (parents precede children in pre-order)."""
    n = len(dom)
    kind, tag, ns, parent = dom.kind, dom.tag, dom.ns, dom.parent
    pruned = [False] * n
    boiler = [False] * n
    in_link = [False] * n
    block_of = [0] * n  # node_id of the owning block's element
    blocks: dict[int, Block] = {}

    root_block = Block(None)
    blocks[0] = root_block

    for i in range(1, n):
        p = parent[i]
        pruned[i] = pruned[p] or (
            kind[i] == ELEMENT and ns[i] == NS_HTML and tag[i] in PRUNE_TAGS
        ) or (kind[i] == ELEMENT and ns[i] != NS_HTML)
        boiler[i] = boiler[p] or (
            kind[i] == ELEMENT and ns[i] == NS_HTML and _is_boiler_container(dom, i)
        )
        in_link[i] = in_link[p] or (
            kind[i] == ELEMENT and ns[i] == NS_HTML and tag[i] == "a"
        )
        if kind[i] == ELEMENT and ns[i] == NS_HTML and tag[i] in BLOCK_TAGS:
            block_of[i] = i
            blocks[i] = Block(tag[i])
            blocks[i].boiler = boiler[i]
        else:
            block_of[i] = block_of[p]
        if kind[i] == TEXT and not pruned[i]:
            b = blocks[block_of[i]]
            b.boiler = b.boiler or boiler[i]
            t = dom.text[i] or ""
            b.text.append(t)
            w = len(t.split())
            b.words += w
            if in_link[i]:
                b.link_words += w
    return [b for b in blocks.values() if b.text]


def classify_block(block: Block) -> bool:
    """Step 6 keep-rule (threshold densitometry, SURVEY.md §2.7)."""
    if block.boiler:
        return False
    if block.link_density > MAX_LINK_DENSITY:
        return False
    if block.words >= MIN_WORDS:
        return True
    return block.tag in CONTENT_TAGS and block.words >= 1


def _normalize(text: str) -> str:
    return _WS_NORM.sub(" ", text).strip()


def _is_boiler_node(node) -> bool:
    if node.tag in BOILER_TAGS:
        return True
    for k, v in node.attrs:
        if k in ("id", "class") and v and _BOILER_CLASS_RE.search(v):
            return True
    return False


class ParseCounts:
    """Per-document metrics accumulator for :func:`extract_main_text`:
    each parse it is passed to adds its nodes (root included, as in
    ``FlatDOM``), words, kept words and parse errors, and raises
    ``max_depth``. The extracted text is the same with or without it."""

    n_nodes = n_words = n_kept_words = n_errors = max_depth = 0


def segment_blocks_tree(root, counts: Optional[ParseCounts] = None
                        ) -> list[Block]:
    """Same segmentation as :func:`segment_blocks`, walking the parse tree
    directly — the extraction hot path skips flat-DOM construction (~15%
    of extract time). One DFS carrying (pruned, boiler, in_link, block,
    depth) state down the stack; identical Block output (differential-
    tested in tests/test_units.py). The walk visits every node, so it
    also adds the node count and depth to ``counts``."""
    root_block = Block(None)
    blocks = [root_block]
    n_nodes = max_depth = 0
    # stack entries: (node, pruned, boiler, in_link, block, depth)
    stack = [(c, False, False, False, root_block, 1)
             for c in reversed(root.children)]
    while stack:
        node, pruned, boiler, in_link, block, depth = stack.pop()
        n_nodes += 1
        if depth > max_depth:
            max_depth = depth
        kind = node.kind
        if kind == TEXT:
            if not pruned:
                t = node.text or ""
                block.boiler = block.boiler or boiler
                block.text.append(t)
                w = len(t.split())
                block.words += w
                if in_link:
                    block.link_words += w
            continue
        if kind != ELEMENT:
            continue
        if node.ns != NS_HTML or node.tag in PRUNE_TAGS:
            pruned = True
        elif not boiler and _is_boiler_node(node):
            boiler = True
        if not in_link and node.ns == NS_HTML and node.tag == "a":
            in_link = True
        if node.ns == NS_HTML and node.tag in BLOCK_TAGS:
            block = Block(node.tag)
            block.boiler = boiler
            blocks.append(block)
        depth += 1
        for c in reversed(node.children):
            stack.append((c, pruned, boiler, in_link, block, depth))
    if counts is not None:
        counts.n_nodes += n_nodes + 1
        counts.max_depth = max(counts.max_depth, max_depth)
    return [b for b in blocks if b.text]


def extract_main_text(html: str, fragment: bool = True,
                      counts: Optional[ParseCounts] = None) -> str:
    """HTML (fragment by default) → extracted main-content text; a
    ``counts`` accumulator also collects this parse's metrics."""
    from .treebuilder import Node, parse, parse_fragment

    if fragment:
        errors = None if counts is None else []
        root = Node(0)  # parents are not needed for segmentation
        root.children = parse_fragment(html, "body", collect_errors=False,
                                       errors=errors)
    else:
        tb = parse(html, collect_errors=counts is not None)
        root, errors = tb.document, tb.errors + tb.tokenizer.errors
    blocks = segment_blocks_tree(root, counts)
    parts = []
    kept_words = 0
    for b in blocks:
        if classify_block(b):
            kept_words += b.words
            t = _normalize("".join(b.text))
            if t:
                parts.append(t)
    if counts is not None:
        counts.n_words += sum(b.words for b in blocks)
        counts.n_kept_words += kept_words
        counts.n_errors += len(errors)
    return "\n".join(parts)


def extract_spans(spans: list[dict]) -> list[dict]:
    """Step 8: per-document interleaved span re-emission.

    Input/output schema: ``[{kind, text, media_ref, offset}, ...]``.
    The per-row invariant the driver and tests check is span-sequence
    equality ``(kind, text, media_ref, order)`` on this function's output.
    """
    out = []
    for span in sorted(spans, key=lambda s: s["offset"] if s["offset"] is not None else 0):
        kind = span.get("kind")
        if kind == "media":
            out.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": span.get("media_ref"),
                    "offset": span.get("offset"),
                }
            )
        elif kind == "text":
            extracted = extract_main_text(span.get("text") or "")
            if extracted:
                out.append(
                    {
                        "kind": "text",
                        "text": extracted,
                        "media_ref": None,
                        "offset": span.get("offset"),
                    }
                )
    return out


def doc_metrics(dom: FlatDOM) -> dict:
    """The parse-derived metric columns of one parsed span, over the flat
    DOM: the oracle of :class:`ParseCounts`."""
    blocks = segment_blocks(dom)
    return {
        "n_nodes": len(dom),
        "n_words": sum(b.words for b in blocks),
        "n_kept_words": sum(b.words for b in blocks if classify_block(b)),
        "n_errors": dom.n_errors,
        "max_depth": max(dom.depth),
    }
