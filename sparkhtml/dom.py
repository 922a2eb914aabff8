"""Flattened columnar DOM.

Reference parity: the object tree of /root/reference/Sources/HTMLNode.m
(:22-33 children ordered set, :35-67 accessors) re-expressed as parallel
arrays so one Spark row can hold a whole document and selector matching can
run vectorized (SURVEY.md §1.1 "flattened columnar DOM").

Layout (one ``FlatDOM`` per document; all lists index by pre-order
``node_id``, root document node = id 0):

    parent   : int      (-1 for the root)
    depth    : int      (0 for the root)
    order    : int      (index among siblings)
    kind     : int      (0 doc / 1 element / 2 text / 3 comment / 4 doctype)
    tag      : str|None (lowercased for HTML; original case for SVG fixes)
    ns       : int      (0 html / 1 mathml / 2 svg)
    attrs    : list[(name, value)]  (insertion-ordered, HTMLOrderedDictionary
                                     parity — Spark MapType would lose order)
    text     : str|None
    subtree  : int      (exclusive end of this node's pre-order range —
                         "tree order" queries become range scans, and
                         textContent becomes a segment concat, SURVEY.md X2)

"Tree order" (HTMLTreeEnumerator.m:55-100) == ascending node_id by
construction.
"""

from __future__ import annotations

from typing import Iterator, Optional

from .treebuilder import DOCTYPE, ELEMENT, TEXT, Node, parse


class FlatDOM:
    __slots__ = (
        "parent", "depth", "order", "kind", "tag", "ns", "attrs", "text",
        "subtree", "n_errors",
    )

    def __init__(self) -> None:
        self.parent: list[int] = []
        self.depth: list[int] = []
        self.order: list[int] = []
        self.kind: list[int] = []
        self.tag: list[Optional[str]] = []
        self.ns: list[int] = []
        self.attrs: list[list[tuple[str, str]]] = []
        self.text: list[Optional[str]] = []
        self.subtree: list[int] = []
        self.n_errors = 0

    def __len__(self) -> int:
        return len(self.kind)

    # ------------------------------------------------------------- build

    @classmethod
    def from_tree(cls, root: Node) -> "FlatDOM":
        """Single post-parse flattening pass (SURVEY.md §7.3.1: ids are
        assigned by one final DFS, so mid-parse mutation never fights
        columnar ids)."""
        dom = cls()
        parent = dom.parent
        ap = parent.append
        ad = dom.depth.append
        ao = dom.order.append
        ak = dom.kind.append
        at = dom.tag.append
        an = dom.ns.append
        aa = dom.attrs.append
        ax = dom.text.append
        kind_a = dom.kind
        # pass 1: pre-order DFS writes all columns except subtree
        stack: list[tuple[Node, int, int, int]] = [(root, -1, 0, 0)]
        push = stack.append
        pop = stack.pop
        while stack:
            node, pid, depth, order = pop()
            nid = len(kind_a)
            ap(pid)
            ad(depth)
            ao(order)
            ak(node.kind)
            at(node.tag)
            an(node.ns)
            aa(node.attrs)
            ax(node.text)
            children = node.children
            if children:
                d1 = depth + 1
                for i in range(len(children) - 1, -1, -1):
                    push((children[i], nid, d1, i))
        # pass 2: subtree ends bottom-up — in reverse pre-order every child
        # is visited before its parent, so one max-propagation pass suffices
        n = len(kind_a)
        subtree = [i + 1 for i in range(n)]
        for i in range(n - 1, 0, -1):
            p = parent[i]
            if subtree[i] > subtree[p]:
                subtree[p] = subtree[i]
        dom.subtree = subtree
        return dom

    @classmethod
    def from_html(cls, text: str, collect_errors: bool = False) -> "FlatDOM":
        tb = parse(text, collect_errors=collect_errors)
        dom = cls.from_tree(tb.document)
        dom.n_errors = len(tb.errors) + len(tb.tokenizer.errors)
        return dom

    # ------------------------------------------------------------ queries

    def children_of(self, nid: int) -> list[int]:
        out = []
        j = nid + 1
        end = self.subtree[nid]
        while j < end:
            out.append(j)
            j = self.subtree[j]
        return out

    def iter_elements(self) -> Iterator[int]:
        kind = self.kind
        for i in range(len(kind)):
            if kind[i] == ELEMENT:
                yield i

    def text_content(self, nid: int) -> str:
        """textContent (HTMLNode.m:219-228): concat of descendant text nodes
        in tree order == one pass over the pre-order range."""
        kind, text = self.kind, self.text
        return "".join(
            text[i]
            for i in range(nid, self.subtree[nid])
            if kind[i] == TEXT
        )

    def text_components(self, nid: int) -> list[str]:
        """textComponents (HTMLNode.m:241-250): direct-child text strings."""
        return [
            self.text[c] for c in self.children_of(nid) if self.kind[c] == TEXT
        ]

    def get_attr(self, nid: int, name: str) -> Optional[str]:
        for k, v in self.attrs[nid]:
            if k == name:
                return v
        return None

    def root_element(self) -> Optional[int]:
        """rootElement (HTMLDocument.m:57-75): first element child of doc."""
        for c in self.children_of(0):
            if self.kind[c] == ELEMENT:
                return c
        return None

    def body_element(self) -> Optional[int]:
        """bodyElement (HTMLDocument.m:95-115)."""
        r = self.root_element()
        if r is None:
            return None
        for c in self.children_of(r):
            if self.kind[c] == ELEMENT and self.tag[c] in ("body", "frameset"):
                return c
        return None

    def document_type(self) -> Optional[int]:
        for c in self.children_of(0):
            if self.kind[c] == DOCTYPE:
                return c
        return None

    def ancestors(self, nid: int) -> Iterator[int]:
        p = self.parent[nid]
        while p >= 0:
            yield p
            p = self.parent[p]

    def has_class(self, nid: int, cls: str) -> bool:
        """hasClass (HTMLElement.m:57-66): whitespace-split membership."""
        v = self.get_attr(nid, "class")
        return v is not None and cls in v.split()
