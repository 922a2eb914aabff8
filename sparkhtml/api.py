"""HTMLReader-shaped convenience API.

A user of the reference drives it through HTMLDocument / HTMLNode /
HTMLElement methods; this module exposes the same surface over our engine
so every call they make today has a direct equivalent:

=====================================================  =======================
reference (file:line)                                  here
=====================================================  =======================
+[HTMLDocument documentWithString:]                    Document(html)
  (HTMLDocument.m:27-44)
+[HTMLDocument documentWithData:contentTypeHeader:]    Document.from_bytes(...)
  (HTMLDocument.m:12-25)
-[HTMLNode nodesMatchingSelector:]                     doc.query_selector_all
  (HTMLSelector.m:915-938)
-[HTMLNode firstNodeMatchingSelector:]                 doc.query_selector
  (HTMLSelector.m:940-952)
textContent get/set (HTMLNode.m:219-239)               el.text_content
textComponents (HTMLNode.m:241-250)                    el.text_components
-[HTMLElement hasClass:]/toggleClass:                  el.has_class/toggle_class
  (HTMLElement.m:57-78)
innerHTML get/set (HTMLSerialization.m:191-203)        el.inner_html
serializedFragment (HTMLSerialization.m:135-176)       el.serialized_fragment
rootElement/bodyElement/documentType                   doc.root/doc.body/
  (HTMLDocument.m:57-115)                                doc.doctype
treeEnumerator (HTMLTreeEnumerator.m:55-100)           el.tree_enumerator()
child accessors (HTMLNode.m:110-123,198-207)           el.children/el[i]/...
mutation (HTMLNode.m:96-196,264-315)                   el.append_child/...
=====================================================  =======================
"""

from __future__ import annotations

from typing import Iterator, Optional

from .encoding import decode_html_bytes
from .escape import escape_html, unescape_html  # noqa: F401 (re-export)
from .selector import compiled
from .serializer import inner_html as _inner_html
from .serializer import serialize as _serialize
from .treebuilder import (
    COMMENT, DOCTYPE, DOCUMENT, ELEMENT, NS_HTML, TEXT, Node, parse,
    parse_fragment,
)


class Element:
    """Lightweight wrapper over a tree :class:`Node`."""

    __slots__ = ("node",)

    def __init__(self, node: Node) -> None:
        self.node = node

    # --- identity / structure -----------------------------------------

    @property
    def tag_name(self) -> Optional[str]:
        return self.node.tag

    @property
    def kind(self) -> int:
        return self.node.kind

    @property
    def parent(self) -> Optional["Element"]:
        p = self.node.parent
        return Element(p) if p is not None else None

    @property
    def parent_element(self) -> Optional["Element"]:
        p = self.node.parent
        while p is not None and p.kind != ELEMENT:
            p = p.parent
        return Element(p) if p is not None else None

    @property
    def children(self) -> list["Element"]:
        return [Element(c) for c in self.node.children]

    @property
    def child_element_nodes(self) -> list["Element"]:
        return [Element(c) for c in self.node.children if c.kind == ELEMENT]

    def __getitem__(self, i: int) -> "Element":
        return Element(self.node.children[i])

    def __len__(self) -> int:
        return len(self.node.children)

    def index_of_child(self, child: "Element") -> int:
        return self.node.children.index(child.node)

    # --- attributes ------------------------------------------------------

    @property
    def attributes(self) -> list[tuple[str, str]]:
        return list(self.node.attrs)

    def get(self, name: str, default: Optional[str] = None) -> Optional[str]:
        v = self.node.get_attr(name)
        return v if v is not None else default

    def set(self, name: str, value: str) -> None:
        for i, (k, _v) in enumerate(self.node.attrs):
            if k == name:
                self.node.attrs[i] = (name, value)
                return
        self.node.attrs.append((name, value))

    def remove_attr(self, name: str) -> None:
        self.node.attrs = [(k, v) for k, v in self.node.attrs if k != name]

    def has_class(self, cls: str) -> bool:
        v = self.get("class")
        return v is not None and cls in v.split()

    def toggle_class(self, cls: str) -> None:
        """HTMLElement.m:68-78 parity."""
        parts = (self.get("class") or "").split()
        if cls in parts:
            parts = [p for p in parts if p != cls]
        else:
            parts.append(cls)
        self.set("class", " ".join(parts))

    # --- text ------------------------------------------------------------

    @property
    def text_content(self) -> str:
        out: list[str] = []
        stack = [self.node]
        while stack:
            n = stack.pop()
            if n.kind == TEXT:
                out.append(n.text)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    @text_content.setter
    def text_content(self, value: str) -> None:
        """X3 (HTMLNode.m:230-239): replace children with one text node."""
        for c in list(self.node.children):
            self.node.remove(c)
        if value:
            self.node.append(Node(TEXT, text=value))

    @property
    def text_components(self) -> list[str]:
        return [c.text for c in self.node.children if c.kind == TEXT]

    # --- serialization -----------------------------------------------------

    @property
    def inner_html(self) -> str:
        return _inner_html(self.node)

    @inner_html.setter
    def inner_html(self, value: str) -> None:
        """innerHTML setter (HTMLSerialization.m:198-203): fragment-parse in
        this element's context, replace children."""
        ctx = self.node.tag if self.node.kind == ELEMENT else "body"
        new_children = parse_fragment(value, ctx or "body")
        for c in list(self.node.children):
            self.node.remove(c)
        for c in new_children:
            self.node.append(c)

    @property
    def serialized_fragment(self) -> str:
        return _serialize(self.node)

    # --- mutation (X6) ------------------------------------------------------

    def append_child(self, child: "Element") -> None:
        self.node.append(child.node)

    def insert_child(self, index: int, child: "Element") -> None:
        self.node.insert(index, child.node)

    def remove_child(self, child: "Element") -> None:
        self.node.remove(child.node)

    def insert_string(self, s: str, at: int) -> None:
        """insertString:atChildNodeIndex: (HTMLNode.m:176-196) — coalesces
        with an adjacent text node."""
        children = self.node.children
        if at > 0 and children[at - 1].kind == TEXT:
            children[at - 1].text += s
            return
        if at < len(children) and children[at].kind == TEXT:
            children[at].text = s + children[at].text
            return
        self.node.insert(at, Node(TEXT, text=s))

    # --- queries -------------------------------------------------------------

    def query_selector_all(self, selector: str) -> list["Element"]:
        from .dom import FlatDOM

        dom = FlatDOM.from_tree(self.node)
        nodes = _tree_order_nodes(self.node)
        return [Element(nodes[i]) for i in compiled(selector).match_ids(dom)]

    def query_selector(self, selector: str) -> Optional["Element"]:
        all_ = self.query_selector_all(selector)
        return all_[0] if all_ else None

    # --- enumeration -----------------------------------------------------------

    def tree_enumerator(self, reversed_: bool = False) -> Iterator["Element"]:
        """X1 (HTMLTreeEnumerator.m:55-100): DFS in (reversed) tree order."""
        stack = [self.node]
        while stack:
            n = stack.pop()
            yield Element(n)
            kids = n.children if reversed_ else reversed(n.children)
            stack.extend(kids)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Element {self.tag_name or self.node.kind}>"


def _tree_order_nodes(root: Node) -> list[Node]:
    out = []
    stack = [root]
    while stack:
        n = stack.pop()
        out.append(n)
        stack.extend(reversed(n.children))
    return out


class Document(Element):
    """documentWithString: / documentWithData: parity."""

    __slots__ = ("quirks_mode", "n_parse_errors", "encoding", "confidence")

    def __init__(self, html: str, collect_errors: bool = True) -> None:
        tb = parse(html, collect_errors=collect_errors)
        super().__init__(tb.document)
        self.quirks_mode = tb.quirks
        self.n_parse_errors = len(tb.errors) + len(tb.tokenizer.errors)
        self.encoding = None
        self.confidence = None

    @classmethod
    def from_bytes(
        cls, data: bytes, content_type: Optional[str] = None
    ) -> "Document":
        """S1 (HTMLDocument.m:12-25): bytes + Content-Type → document, with
        encoding sniffing and the parsedStringEncoding stamp."""
        text, codec, confidence = decode_html_bytes(data, content_type)
        doc = cls(text)
        doc.encoding = codec
        doc.confidence = confidence
        return doc

    @property
    def root(self) -> Optional[Element]:
        for c in self.node.children:
            if c.kind == ELEMENT:
                return Element(c)
        return None

    @property
    def body(self) -> Optional[Element]:
        r = self.root
        if r is None:
            return None
        for c in r.node.children:
            if c.kind == ELEMENT and c.tag in ("body", "frameset"):
                return Element(c)
        return None

    @property
    def head(self) -> Optional[Element]:
        r = self.root
        if r is None:
            return None
        for c in r.node.children:
            if c.kind == ELEMENT and c.tag == "head":
                return Element(c)
        return None

    @property
    def doctype(self) -> Optional[Element]:
        for c in self.node.children:
            if c.kind == DOCTYPE:
                return Element(c)
        return None
