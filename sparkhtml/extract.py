"""Main-content (boilerplate) extraction + interleaved span re-emission.

North-rule layer (SURVEY.md §2.7): not present in the reference; built on
its primitives (block tag classes from HTMLParser.m:697,1272; textContent
X2 = HTMLNode.m:219-228) plus published text/link-density boilerplate
heuristics (Kohlschütter et al., "Boilerplate Detection using Shallow Text
Features", WSDM 2010 — boilerpipe-style densitometry).

The semantics below are THE contract the Spark pipeline and the span-
equality tests both implement — deterministic, documented, versioned:

1. Parse (fragment in ``body`` context for span text; full document parse
   for whole-page HTML). Steps 2-5 run inside the parse, as the tree
   builder inserts each node (:class:`_Fold`); a parse that rearranges
   already-inserted nodes (foster parenting, the adoption agency's
   furthest-block branch, ``<html>``/``<body>`` attribute merges, …) is
   segmented afterwards by :func:`segment_blocks` over its flat DOM,
   which is also the oracle both ways are tested against.
2. Prune: ``script style noscript template iframe object embed applet``
   subtrees, comments, doctypes, and display-none-ish inputs are never text.
3. Boilerplate containers: any block inside ``nav footer header aside
   form`` elements, or inside an element whose id/class matches
   ``(^|\\b)(nav|menu|sidebar|footer|header|banner|breadcrumb|comment|
   share|social|ad|ads|advert|promo|related|widget)(\\b|$)`` is boilerplate.
4. Block segmentation: a text node belongs to its nearest ancestor with a
   block-level tag (``BLOCK_TAGS``); fragments without one form an
   implicit root block.
5. Densitometry per block: ``words`` (whitespace tokens of each text
   node, summed), ``link_words`` (words under an ``<a>`` descendant),
   ``link_density = link_words/words``.
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

from . import treebuilder
from .dom import FlatDOM
from .treebuilder import DOCUMENT, ELEMENT, NS_HTML, TEXT, Node

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


class Block:
    """One segmented text block with its densitometry features."""

    __slots__ = ("tag", "text", "words", "link_words", "boiler")

    def __init__(self, tag: Optional[str]) -> None:
        self.tag = tag
        self.text: list[str] = []
        self.words = 0
        self.link_words = 0
        self.boiler = False


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


def _keep(tag: Optional[str], words: int, link_words: int,
          boiler: bool) -> bool:
    """Step 6 keep-rule (threshold densitometry, SURVEY.md §2.7)."""
    if boiler:
        return False
    if words and link_words / words > MAX_LINK_DENSITY:
        return False
    if words >= MIN_WORDS:
        return True
    return tag in CONTENT_TAGS and words >= 1


def classify_block(block: Block) -> bool:
    """Step 6 for a :class:`Block` of :func:`segment_blocks`."""
    return _keep(block.tag, block.words, block.link_words, block.boiler)


def _normalize(text: str) -> str:
    # str.split() splits on exactly the code points re's \s matches, so
    # this is re.sub(r"\s+", " ", text).strip() (pinned in test_units.py)
    return " ".join(text.split())


class ParseCounts:
    """Per-document metrics accumulator for :func:`extract_main_text`:
    each parse it is passed to adds its nodes (root included, as in
    ``FlatDOM``), words, kept words and parse errors, and raises
    ``max_depth``. The fold counts nodes and depth as the tree builder
    inserts them; a rearranged parse takes them from its ``FlatDOM``.
    The extracted text is the same with or without it."""

    n_nodes = n_words = n_kept_words = n_errors = max_depth = 0


_PRUNED = (None, False, False)


def _boiler_attrs(attrs: list) -> bool:
    for k, v in attrs:
        if (k == "class" or k == "id") and v and _BOILER_CLASS_RE.search(v):
            return True
    return False


class _Fold:
    """Steps 2-5 folded into tree construction: the extraction mode of
    ``treebuilder.TreeBuilder`` (see its docstring) calls these hooks as it
    inserts each node, so no pass walks the finished tree.

    Each inserted element gets its ``depth`` and ``seg = (block, in_link,
    boiler)`` from its parent's; ``seg`` is shared down the tree until one
    of them changes, and ``block`` is None inside a pruned subtree. Each
    new text node is credited to its block then. Insertion order is tree
    order unless the builder sets ``rearranged``, so blocks come out in
    the order :func:`segment_blocks` gives them. Until :meth:`finish` a
    block is ``[tag, boiler, link text nodes or None, text node, ...]``;
    words are counted there, over the coalesced text nodes. A parent
    without ``seg`` is one the fold never saw: that is a rearrangement.

    Text nodes, comments and doctypes are leaves, so the deepest node is
    one level below the deepest element if any of those has a child.

    The hooks also keep every node they see, so that :meth:`finish` can
    drop the parent pointers: the span's tree is then acyclic and freed
    by reference counting, not left to the cyclic collector."""

    __slots__ = ("blocks", "n_nodes", "max_depth", "deepest", "rearranged",
                 "nodes")

    def __init__(self) -> None:
        self.blocks: list = []
        self.n_nodes = 1  # the root; finish adds the credited text nodes
        self.max_depth = 0  # of elements
        self.deepest: list = []  # the elements at max_depth
        self.rearranged = False
        self.nodes: list = []

    def root(self, node: Node) -> None:
        self.nodes.append(node)
        block = [None, False, None]
        self.blocks.append(block)
        node.seg = (block, False, False)
        node.depth = 0
        self.deepest.append(node)

    def element(self, el: Node, parent: Node) -> None:
        try:
            block, in_link, boiler = seg = parent.seg
        except AttributeError:
            self.rearranged = True
            return
        self.nodes.append(el)
        depth = el.depth = parent.depth + 1
        self.n_nodes += 1
        if depth >= self.max_depth:
            if depth > self.max_depth:
                self.max_depth = depth
                self.deepest = [el]
            else:
                self.deepest.append(el)
        tag = el.tag
        if block is None or el.ns != NS_HTML or tag in PRUNE_TAGS:
            el.seg = _PRUNED
            return
        if not boiler and (tag in BOILER_TAGS
                           or el.attrs and _boiler_attrs(el.attrs)):
            boiler = True
        if tag in BLOCK_TAGS:
            block = [tag, boiler, None]
            self.blocks.append(block)
            el.seg = (block, in_link, boiler)
        elif boiler is not seg[2] or (tag == "a" and not in_link):
            el.seg = (block, in_link or tag == "a", boiler)
        else:
            el.seg = seg

    def text(self, node: Node, parent: Node) -> None:
        try:
            block, in_link, boiler = parent.seg
        except AttributeError:
            self.rearranged = True
            return
        self.nodes.append(node)
        if block is None:
            self.n_nodes += 1  # finish counts the credited ones
            return
        block.append(node)
        if in_link:
            if block[2] is None:
                block[2] = [node]
            else:
                block[2].append(node)
        if boiler:
            block[1] = True

    def leaf(self, node: Node, parent: Node) -> None:
        if not hasattr(parent, "seg"):
            self.rearranged = True
            return
        self.nodes.append(node)
        self.n_nodes += 1

    def finish(self) -> tuple[list[tuple], int, int]:
        """``(rows, n_nodes, max_depth)`` of the parse. A row is ``(tag,
        texts, words, link_words, boiler, tokens)`` for each block with
        text, in tree order, as :func:`segment_blocks` gives its blocks;
        ``tokens`` is ``"".join(texts).split()`` when that split is
        already at hand (one text node), else None. Clears the parent
        pointers of the tree's nodes."""
        rows = []
        n_nodes, max_depth = self.n_nodes, self.max_depth
        for block in self.blocks:
            k = len(block)
            if k == 3:
                continue
            n_nodes += k - 3
            if k == 4:
                texts = [block[3].text]
                tokens = texts[0].split()
                words = len(tokens)
            else:
                # len(" ".join(ts).split()) == sum(len(t.split()) for t in ts)
                texts = [node.text for node in block[3:]]
                tokens = None
                words = len(" ".join(texts).split())
            links = block[2]
            link_words = 0 if links is None else len(
                " ".join([node.text for node in links]).split())
            rows.append((block[0], texts, words, link_words, block[1],
                         tokens))
        for el in self.deepest:
            if el.children:
                max_depth += 1
                break
        for node in self.nodes:
            node.parent = None
        return rows, n_nodes, max_depth


def extract_main_text(html: str, fragment: bool = True,
                      counts: Optional[ParseCounts] = None) -> str:
    """HTML (fragment by default) → extracted main-content text; a
    ``counts`` accumulator also collects this parse's metrics.

    Segmentation is folded into the parse (:class:`_Fold`); a parse that
    rearranged its tree is segmented with the flat :func:`segment_blocks`
    instead."""
    fold = _Fold()
    if fragment:
        errors = None if counts is None else []
        children = treebuilder.parse_fragment(
            html, "body", collect_errors=False, errors=errors, _fold=fold)
    else:
        tb = treebuilder.parse(html, collect_errors=counts is not None,
                               _fold=fold)
        errors = tb.errors + tb.tokenizer.errors
    if fold.rearranged:
        if fragment:
            root = Node(DOCUMENT)
            root.children = children
        else:
            root = tb.document
        dom = FlatDOM.from_tree(root)
        rows = [(b.tag, b.text, b.words, b.link_words, b.boiler, None)
                for b in segment_blocks(dom)]
        n_nodes, max_depth = len(dom), max(dom.depth)
    else:
        rows, n_nodes, max_depth = fold.finish()
    parts = []
    n_words = kept_words = 0
    for tag, texts, words, link_words, boiler, tokens in rows:
        n_words += words
        if _keep(tag, words, link_words, boiler):
            kept_words += words
            # step 7; " ".join(tokens) is _normalize of the one text
            t = _normalize("".join(texts)) if tokens is None \
                else " ".join(tokens)
            if t:
                parts.append(t)
    if counts is not None:
        counts.n_nodes += n_nodes
        counts.max_depth = max(counts.max_depth, max_depth)
        counts.n_words += n_words
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
