"""WHATWG HTML5 tree construction (spec §13.2.6) — pure Python.

Reference parity: /root/reference/Sources/HTMLParser.m —
insertion-mode dispatch (:2471-2861), adoption agency (:1142-1267),
active formatting elements with Noah's-Ark clause (:3181-3240),
stack-of-open-elements scope queries (:2876-2993), foster parenting
(:3014-3048), foreign content (:2252-2467), fragment algorithm (:71-150),
quirks-mode classification (:159-313), reset-insertion-mode (:3108-3177).

Beyond the reference (HTMLTreeConstructionTests.m:39-41 skips
template.dat): full template insertion modes (WHATWG 13.2.6.4.18) — the
template-insertion-modes stack, ``in-template`` dispatch, template scope
barriers, the foster-parenting template rule, and the thorough
``</template>`` closing algorithm. Template contents are stored as the
node's ``children`` (every spec insertion targeting a template element
redirects to its content fragment, so the representations coincide); the
html5lib dump layer renders the ``content`` pseudo-node.

The builder produces a small-object tree (``Node``) that
:mod:`sparkhtml.dom` flattens to columnar arrays once, post-parse —
mid-parse mutation (adoption agency re-parenting) never fights columnar
pre-order ids (SURVEY.md §7.3.1).
"""

from __future__ import annotations

import re
from typing import Optional

from . import tokenizer as tz
from .entities import consume_char_ref
from .tokenizer import Tokenizer

DOCUMENT, ELEMENT, TEXT, COMMENT, DOCTYPE = 0, 1, 2, 3, 4
NS_HTML, NS_MATHML, NS_SVG = 0, 1, 2

NO_QUIRKS, QUIRKS, LIMITED_QUIRKS = 0, 1, 2


class Node:
    __slots__ = ("kind", "tag", "ns", "attrs", "_parts", "children", "parent",
                 "seg", "depth")

    def __init__(self, kind, tag=None, ns=NS_HTML, attrs=None, text=None):
        self.kind = kind
        self.tag = tag
        self.ns = ns
        self.attrs = attrs if attrs is not None else []
        self._parts = None if text is None else [text]
        self.children: list[Node] = []
        self.parent: Optional[Node] = None
        # ``seg`` and ``depth`` are set only in an extraction-mode parse,
        # by the fold's hooks (see ``TreeBuilder``), and unset elsewhere

    # Text is stored as a parts list so coalescing appends are O(1);
    # `node.text += x` on a plain attribute re-copies the whole string
    # every append (refcount > 1 defeats CPython's in-place realloc),
    # which made entity-dense documents parse in O(n²).
    @property
    def text(self):
        p = self._parts
        if p is None:
            return None
        if len(p) > 1:
            joined = "".join(p)
            self._parts = [joined]
            return joined
        return p[0]

    @text.setter
    def text(self, v):
        self._parts = None if v is None else [v]

    def append_text(self, data: str) -> None:
        self._parts.append(data)

    # -- mutation (reference parity: HTMLNode.m:96-196) ----------------

    def append(self, child: "Node") -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.append(child)

    def insert(self, index: int, child: "Node") -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.insert(index, child)

    def remove(self, child: "Node") -> None:
        self.children.remove(child)
        child.parent = None

    def get_attr(self, name: str) -> Optional[str]:
        for k, v in self.attrs:
            if k == name:
                return v
        return None

    def __repr__(self) -> str:  # pragma: no cover
        if self.kind == ELEMENT:
            return f"<{self.tag} ns={self.ns}>"
        return f"Node(kind={self.kind}, text={self.text!r})"


# ---------------------------------------------------------------------------
# Tag classification constants (HTMLParser.m "special" list :697,1272 etc.)
# ---------------------------------------------------------------------------

SPECIAL_HTML = frozenset(
    """address applet area article aside base basefont bgsound blockquote body
    br button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input isindex li link listing main
    marquee menu menuitem meta nav noembed noframes noscript object ol p param
    plaintext pre script section select source style summary table tbody td
    template textarea tfoot th thead title tr track ul wbr xmp""".split()
)
SPECIAL_MATHML = frozenset("mi mo mn ms mtext annotation-xml".split())
SPECIAL_SVG = frozenset("foreignObject desc title".split())

FORMATTING = frozenset("a b big code em font i nobr s small strike strong tt u".split())

SCOPE_DEFAULT = frozenset(
    "applet caption html table td th marquee object template".split()
)
SCOPE_LIST_ITEM = SCOPE_DEFAULT | {"ol", "ul"}
SCOPE_BUTTON = SCOPE_DEFAULT | {"button"}
SCOPE_TABLE = frozenset("html table template".split())
# "clear the stack back to a table body / table row context" stop sets —
# template is a barrier in both (WHATWG 13.2.6.4.13-14)
_TBODY_CONTEXT = frozenset(("tbody", "tfoot", "thead", "template", "html"))
_TR_CONTEXT = frozenset(("tr", "template", "html"))

# includes menuitem (reference parity, HTMLParser.m:3246)
IMPLIED_END = frozenset("dd dt li menuitem option optgroup p rp rt".split())
IMPLIED_END_THOROUGH = IMPLIED_END | {
    "caption", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr"
}

HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# "close a p element" trigger blocks (HTMLParser.m:697 tag class)
P_CLOSERS = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer header hgroup main menu nav ol p
    section summary ul""".split()
)

VOID = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen link"
    " menuitem meta param source track wbr".split()
)

# Foreign content breakout list (HTMLParser.m:2252-2467)
BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2 h3
    h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s small
    span strong strike sub sup table tt u ul var""".split()
)

SVG_TAG_FIXES = {
    t.lower(): t
    for t in """altGlyph altGlyphDef altGlyphItem animateColor animateMotion
    animateTransform clipPath feBlend feColorMatrix feComponentTransfer
    feComposite feConvolveMatrix feDiffuseLighting feDisplacementMap
    feDistantLight feDropShadow feFlood feFuncA feFuncB feFuncG feFuncR
    feGaussianBlur feImage feMerge feMergeNode feMorphology feOffset
    fePointLight feSpecularLighting feSpotLight feTile feTurbulence
    foreignObject glyphRef linearGradient radialGradient textPath""".split()
}

SVG_ATTR_FIXES = {
    a.lower(): a
    for a in """attributeName attributeType baseFrequency baseProfile calcMode
    clipPathUnits contentScriptType contentStyleType diffuseConstant edgeMode
    externalResourcesRequired filterUnits glyphRef gradientTransform
    gradientUnits kernelMatrix kernelUnitLength keyPoints keySplines keyTimes
    lengthAdjust limitingConeAngle markerHeight markerUnits markerWidth
    maskContentUnits maskUnits numOctaves pathLength patternContentUnits
    patternTransform patternUnits pointsAtX pointsAtY pointsAtZ preserveAlpha
    preserveAspectRatio primitiveUnits refX refY repeatCount repeatDur
    requiredExtensions requiredFeatures specularConstant specularExponent
    spreadMethod startOffset stdDeviation stitchTiles surfaceScale
    systemLanguage tableValues targetX targetY textLength viewBox viewTarget
    xChannelSelector yChannelSelector zoomAndPan""".split()
}

_XLINK = "http://www.w3.org/1999/xlink"
_XML = "http://www.w3.org/XML/1998/namespace"
_XMLNS = "http://www.w3.org/2000/xmlns/"
FOREIGN_ATTR_FIXES = {
    "xlink:actuate": ("xlink", "actuate", _XLINK),
    "xlink:arcrole": ("xlink", "arcrole", _XLINK),
    "xlink:href": ("xlink", "href", _XLINK),
    "xlink:role": ("xlink", "role", _XLINK),
    "xlink:show": ("xlink", "show", _XLINK),
    "xlink:title": ("xlink", "title", _XLINK),
    "xlink:type": ("xlink", "type", _XLINK),
    "xml:lang": ("xml", "lang", _XML),
    "xml:space": ("xml", "space", _XML),
    "xmlns": (None, "xmlns", _XMLNS),
    "xmlns:xlink": ("xmlns", "xlink", _XMLNS),
}

# Quirks-mode public-id prefixes (HTMLParser.m:209-303)
QUIRKS_PUBLIC_PREFIXES = tuple(
    p.lower()
    for p in [
        "+//Silmaril//dtd html Pro v0r11 19970101//",
        "-//AS//DTD HTML 3.0 asWedit + extensions//",
        "-//AdvaSoft Ltd//DTD HTML 3.0 asWedit + extensions//",
        "-//IETF//DTD HTML 2.0 Level 1//",
        "-//IETF//DTD HTML 2.0 Level 2//",
        "-//IETF//DTD HTML 2.0 Strict Level 1//",
        "-//IETF//DTD HTML 2.0 Strict Level 2//",
        "-//IETF//DTD HTML 2.0 Strict//",
        "-//IETF//DTD HTML 2.0//",
        "-//IETF//DTD HTML 2.1E//",
        "-//IETF//DTD HTML 3.0//",
        "-//IETF//DTD HTML 3.2 Final//",
        "-//IETF//DTD HTML 3.2//",
        "-//IETF//DTD HTML 3//",
        "-//IETF//DTD HTML Level 0//",
        "-//IETF//DTD HTML Level 1//",
        "-//IETF//DTD HTML Level 2//",
        "-//IETF//DTD HTML Level 3//",
        "-//IETF//DTD HTML Strict Level 0//",
        "-//IETF//DTD HTML Strict Level 1//",
        "-//IETF//DTD HTML Strict Level 2//",
        "-//IETF//DTD HTML Strict Level 3//",
        "-//IETF//DTD HTML Strict//",
        "-//IETF//DTD HTML//",
        "-//Metrius//DTD Metrius Presentational//",
        "-//Microsoft//DTD Internet Explorer 2.0 HTML Strict//",
        "-//Microsoft//DTD Internet Explorer 2.0 HTML//",
        "-//Microsoft//DTD Internet Explorer 2.0 Tables//",
        "-//Microsoft//DTD Internet Explorer 3.0 HTML Strict//",
        "-//Microsoft//DTD Internet Explorer 3.0 HTML//",
        "-//Microsoft//DTD Internet Explorer 3.0 Tables//",
        "-//Netscape Comm. Corp.//DTD HTML//",
        "-//Netscape Comm. Corp.//DTD Strict HTML//",
        "-//O'Reilly and Associates//DTD HTML 2.0//",
        "-//O'Reilly and Associates//DTD HTML Extended 1.0//",
        "-//O'Reilly and Associates//DTD HTML Extended Relaxed 1.0//",
        "-//SQ//DTD HTML 2.0 HoTMetaL + extensions//",
        "-//SoftQuad Software//DTD HoTMetaL PRO 6.0::19990601::extensions to HTML 4.0//",
        "-//SoftQuad//DTD HoTMetaL PRO 4.0::19971010::extensions to HTML 4.0//",
        "-//Spyglass//DTD HTML 2.0 Extended//",
        "-//Sun Microsystems Corp.//DTD HotJava HTML//",
        "-//Sun Microsystems Corp.//DTD HotJava Strict HTML//",
        "-//W3C//DTD HTML 3 1995-03-24//",
        "-//W3C//DTD HTML 3.2 Draft//",
        "-//W3C//DTD HTML 3.2 Final//",
        "-//W3C//DTD HTML 3.2//",
        "-//W3C//DTD HTML 3.2S Draft//",
        "-//W3C//DTD HTML 4.0 Frameset//",
        "-//W3C//DTD HTML 4.0 Transitional//",
        "-//W3C//DTD HTML Experimental 19960712//",
        "-//W3C//DTD HTML Experimental 970421//",
        "-//W3C//DTD W3 HTML//",
        "-//W3O//DTD W3 HTML 3.0//",
        "-//WebTechs//DTD Mozilla HTML 2.0//",
        "-//WebTechs//DTD Mozilla HTML//",
    ]
)
QUIRKS_PUBLIC_EXACT = frozenset(
    p.lower()
    for p in [
        "-//W3O//DTD W3 HTML Strict 3.0//EN//",
        "-/W3C/DTD HTML 4.0 Transitional/EN",
        "HTML",
    ]
)
LIMITED_QUIRKS_PREFIXES = tuple(
    p.lower()
    for p in [
        "-//W3C//DTD XHTML 1.0 Frameset//",
        "-//W3C//DTD XHTML 1.0 Transitional//",
    ]
)
# these two are quirks without system id, limited-quirks with one
CONDITIONAL_PREFIXES = tuple(
    p.lower()
    for p in [
        "-//W3C//DTD HTML 4.01 Frameset//",
        "-//W3C//DTD HTML 4.01 Transitional//",
    ]
)

MATHML_ATTR_FIX = {"definitionurl": "definitionURL"}

MATHML_TEXT_INTEGRATION = frozenset("mi mo mn ms mtext".split())
HTML_INTEGRATION_SVG = frozenset("foreignObject desc title".split())

_WS = "\t\n\x0c\r "
_WS_SET = frozenset("\t\n\x0c\r ")


def _is_ws(s: str) -> bool:
    return not s.strip("\t\n\x0c\r ")


class _ActiveFormattingMarker:
    pass


MARKER = _ActiveFormattingMarker()


class TreeBuilder:
    """Fused tokenizer+builder loop (HTMLParser.m:119-150 'for token in
    tokenizer'). Construct, then call :meth:`run`.

    ``_fold`` (internal to ``extract.extract_main_text``) turns on the
    extraction mode: the builder reports each node it inserts to the fold
    as it inserts it — ``fold.element(el, parent)``, ``fold.text(node,
    parent)`` for a new text node (coalesced text is not reported),
    ``fold.leaf(node, parent)`` for comments and doctypes — after
    ``fold.root(root)`` at construction. Any step that can move an
    inserted node, change its ancestors' attributes, or insert somewhere
    other than the end of the current node's subtree (foster parenting,
    the adoption agency's furthest-block branch, ``<html>``/``<body>``
    attribute merges, the frameset body removal, the after-head head
    re-push) sets ``fold.rearranged`` instead, and the caller segments
    the finished tree another way. The tree is the same in both modes.
    """

    max_depth = 512  # depth-bomb guard (SURVEY.md §7.3.5); spec has no limit

    def __init__(
        self,
        text: str,
        fragment_context: Optional[tuple[int, str]] = None,
        collect_errors: bool = True,
        use_turbo: bool = True,
        _fold=None,
    ) -> None:
        self.fold = _fold
        # use_turbo=False forces the token-at-a-time pull path — used by the
        # fused-vs-pull differential property test (test_properties.py)
        self.use_turbo = use_turbo
        # fragment_context: (ns, tag) per the fragment algorithm
        # (HTMLParser.m:71-107).
        self.document = Node(DOCUMENT)
        self.quirks = NO_QUIRKS
        self.errors: list[str] = [] if collect_errors else tz._NullList()
        self.open_elements: list[Node] = []
        self.active_formatting: list = []  # Node | MARKER
        self.head: Optional[Node] = None
        self.form: Optional[Node] = None
        self.mode = "initial"
        self.original_mode: Optional[str] = None
        self.pending_table_chars: list[str] = []
        self.foster_parenting = False
        self.scripting = True  # reference posture (HTMLTreeConstructionTests.m:70-72)
        self.frameset_ok = True
        self.ignore_next_lf = False
        self.done = False
        self.fragment_context = fragment_context
        self.context_node: Optional[Node] = None
        # stack of template insertion modes (WHATWG 13.2.4.1)
        self.template_modes: list[str] = []

        state = tz.DATA
        last_start = None
        if fragment_context is not None:
            ns, ctag = fragment_context
            self.context_node = Node(ELEMENT, ctag, ns)
            if ns == NS_HTML:
                if ctag in ("title", "textarea"):
                    state = tz.RCDATA
                elif ctag in ("style", "xmp", "iframe", "noembed", "noframes",
                              "noscript"):
                    state = tz.RAWTEXT
                elif ctag == "script":
                    state = tz.SCRIPT_DATA
                elif ctag == "plaintext":
                    state = tz.PLAINTEXT
            last_start = ctag
        self.tokenizer = Tokenizer(
            text,
            state=state,
            last_start_tag=last_start,
            cdata_allowed=self._cdata_allowed,
            collect_errors=collect_errors,
        )
        if fragment_context is not None:
            root = Node(ELEMENT, "html", NS_HTML)
            self.document.append(root)
            self.open_elements.append(root)
            self.root = root
            if ns == NS_HTML and ctag == "template":
                self.template_modes.append("in-template")
            self._reset_insertion_mode()
            # form pointer walk (HTMLParser.m:123-136): context element and
            # ancestors — fragment contexts here have no ancestors, so only
            # the context element itself can be a form.
            if self.context_node.tag == "form" and self.context_node.ns == NS_HTML:
                self.form = self.context_node
        if _fold is not None:
            _fold.root(self.document if fragment_context is None else root)

    # ------------------------------------------------------------------

    def _cdata_allowed(self) -> bool:
        node = self.adjusted_current_node()
        return node is not None and node.kind == ELEMENT and node.ns != NS_HTML

    def current_node(self) -> Optional[Node]:
        return self.open_elements[-1] if self.open_elements else None

    def adjusted_current_node(self) -> Optional[Node]:
        if self.fragment_context is not None and len(self.open_elements) == 1:
            return self.context_node
        return self.current_node()

    def parse_error(self, code: str) -> None:
        self.errors.append(code)

    # ----------------------------------------------------------- run

    def run(self) -> Node:
        process = self.process_token
        tk = self.tokenizer
        queue = tk._queue
        states = tz._STATES
        turbo = self._turbo_in_body
        # The fused loop is valid for document parses AND for fragments
        # with an HTML-namespace context: the fragment-specific adjusted-
        # current-node override (process_token, len(oe)==1) only changes
        # dispatch for foreign contexts, and the synthetic 'html' root is
        # protected by the fused loop's len(oe)>1 pop guard. Foreign
        # (svg/math) contexts keep the pull path.
        turbo_off = not self.use_turbo or (
            self.fragment_context is not None
            and self.fragment_context[0] != NS_HTML
        )
        in_fragment = self.fragment_context is not None or not self.use_turbo
        # scaffold fast path: a document that opens with plain content
        # (no doctype / html / head-resident tag) deterministically walks
        # initial → before-html → before-head → in-head → after-head,
        # synthesizing <html><head></head><body>. Build that directly and
        # start in-body — skips 4 modes × reprocess chains per document.
        if not in_fragment and self.mode == "initial" and tk.i == 0:
            s = tk.s
            c0 = s[0] if s else ""
            scaffold = False
            if c0 == "<":
                hit = tz.match_fast_tag(s, 1)
                scaffold = hit is not None and hit[0] not in _SCAFFOLD_SKIP
            elif c0 and c0 not in "&\0\t\n\x0c\r ":
                scaffold = True  # leading non-ws text: same walk
            if scaffold:
                self.parse_error("expected-doctype-but-got-something-else")
                self.quirks = QUIRKS
                html_el = Node(ELEMENT, "html", NS_HTML)
                html_el.parent = self.document
                self.document.children.append(html_el)
                self.root = html_el
                head = Node(ELEMENT, "head", NS_HTML)
                head.parent = html_el
                html_el.children.append(head)
                self.head = head
                body = Node(ELEMENT, "body", NS_HTML)
                body.parent = html_el
                html_el.children.append(body)
                fold = self.fold
                if fold is not None:
                    fold.element(html_el, self.document)
                    fold.element(head, html_el)
                    fold.element(body, html_el)
                self.open_elements.append(html_el)
                self.open_elements.append(body)
                self.frameset_ok = True
                self.mode = "in-body"
        while not self.done:
            if queue:
                process(queue.popleft())
                continue
            # fused lexer+builder fast loop: engages whenever the machine
            # is in the steady state (DATA tokenizer state, in-body or
            # in-cell mode, HTML current node, no LF-skip / foster parent)
            if (
                not turbo_off
                and tk.state == "data"
                and (
                    self.mode == "in-body"
                    # in-cell: skip when the cursor sits on the cell's end
                    # tag — entering/exiting the fused loop for a single
                    # delegated token costs more than it saves
                    or (
                        self.mode == "in-cell"
                        and not tk.s.startswith("</", tk.i)
                    )
                )
                and not self.ignore_next_lf
                and not self.foster_parenting
                and self.open_elements
                and self.open_elements[-1].ns == NS_HTML
                and turbo()
            ):
                continue
            if tk._eof_emitted:
                break
            states[tk.state](tk)
        # the tokenizer's callback is a bound method of this builder: drop
        # it, so the builder and its tokenizer are no reference cycle
        tk.cdata_allowed = None
        return self.document

    def _turbo_in_body(self) -> bool:
        """Fused tokenize+build loop for the in-body steady state.

        Consumes text runs, character references, comments and
        simple/fast-path tags directly from the input, constructing the
        tree without materializing token tuples or passing through the
        state-dispatch/queue/process_token machinery. Anything outside
        the common shapes (``<!``, NULs, uppercase tags, charrefs in
        attributes, dup attrs, …) — or any delegated token that flips the
        machine out of the steady state (mode switch, RCDATA/RAWTEXT
        switch, foreign content, pre's LF-skip) — returns control to the
        general per-state machinery at the exact input position.

        Equivalent to the token-at-a-time path by construction: simple
        inserts replicate the 'any other start tag' / 'any other end tag'
        spec branches, everything else calls the same megaswitch methods
        the dispatcher would. Covered by the tree-construction goldens
        plus the fused-vs-pull differential property test.
        """
        tk = self.tokenizer
        s = tk.s
        n = tk.n
        i = tk.i
        start = i
        oe = self.open_elements
        af = self.active_formatting
        md = self.max_depth
        fold = self.fold
        end_match = tz._RE_SIMPLE_TAG.match
        fast_tag = tz.match_fast_tag
        stop_search = tz._STOP_DATA.search
        special_start = _IN_BODY_SPECIAL_START
        fmt_simple = _TURBO_FMT_SIMPLE
        mode0 = self.mode
        if mode0 == "in-body":
            end_skip = _TURBO_END_SKIP
            delegate_start = self._in_body_start_tag
            delegate_end = self._in_body_end_tag
        else:  # in-cell: table-part tags delegate, all else is in-body rules
            end_skip = _TURBO_END_SKIP_CELL
            delegate_start = delegate_end = self._mode_in_cell
        frameset_ok = self.frameset_ok
        while i < n:
            c = s[i]
            if c == "<":
                if s.startswith("/", i + 1):
                    m = end_match(s, i + 2)
                    if m is None:
                        break  # uppercase / attr-ful / EOF end tag: slow
                    name = m.group(1)
                    top = oe[-1]
                    if (
                        mode0 == "in-cell"
                        and (name == "td" or name == "th")
                        and top.tag == name
                        and top.ns == NS_HTML
                        and af
                        and af[-1] is MARKER
                    ):
                        # inline cell close: current node IS the cell (no
                        # implied end tags, no error) and the AFE top is
                        # the cell's marker (clear-to-marker = one pop).
                        # Row interiors are </td><td> chains — handling
                        # the boundary inline skips two turbo exits + two
                        # megaswitch dispatches per cell.
                        oe.pop()
                        af.pop()
                        i = m.end()
                        # immediately-following sibling cell? replicate
                        # the in-row td/th start (clear-to-tr-context is
                        # a no-op when current is the tr, checked below)
                        nxt = None
                        if s.startswith("<", i) and not s.startswith("</", i):
                            m2 = end_match(s, i + 1)
                            if m2 is not None:
                                if m2.group(1) in ("td", "th"):
                                    nxt = (m2.group(1), [], False, m2.end())
                            else:
                                hit2 = fast_tag(s, i + 1)
                                if hit2 is not None and hit2[0] in ("td", "th"):
                                    nxt = hit2
                        cur = oe[-1] if oe else None
                        if (
                            nxt is not None
                            and cur is not None
                            and cur.tag == "tr"
                            and cur.ns == NS_HTML
                        ):
                            name2, attrs2, sc2, end2 = nxt
                            tk.last_start_tag = name2
                            if len(oe) < md:
                                el = Node(ELEMENT, name2, NS_HTML, attrs2)
                                el.parent = cur
                                cur.children.append(el)
                                oe.append(el)
                                if fold is not None:
                                    fold.element(el, cur)
                            else:
                                self.parse_error("depth-limit-exceeded")
                            af.append(MARKER)
                            i = end2
                            continue
                        # anything else follows: hand off in in-row mode
                        self.mode = "in-row"
                        tk.i = i
                        self.frameset_ok = frameset_ok
                        return True
                    if top.tag == name and top.ns == NS_HTML:
                        if name not in end_skip and len(oe) > 1:
                            # 'any other end tag' (and the p/li/heading/
                            # P_CLOSERS branches) reduce to a single pop
                            # when the current node matches: implied-end-
                            # tag generation stops at the matching node.
                            oe.pop()
                            i = m.end()
                            if oe[-1].ns != NS_HTML:
                                # popped onto a foreign integration point
                                # (e.g. </div> with svg foreignObject
                                # beneath): steady state broken — hand
                                # back so foreign-content dispatch runs
                                tk.i = i
                                self.frameset_ok = frameset_ok
                                return True
                            continue
                        if name in FORMATTING and af:
                            entry = af[-1]
                            if entry is not MARKER and entry[0] is top:
                                # adoption agency, well-nested case: fmt
                                # element is the current node ⇒ no
                                # furthest block ⇒ pop + drop the AFE
                                # entry (HTMLParser.m:1142-1267)
                                oe.pop()
                                af.pop()
                                i = m.end()
                                if oe[-1].ns != NS_HTML:
                                    tk.i = i
                                    self.frameset_ok = frameset_ok
                                    return True
                                continue
                    i = m.end()
                    self.frameset_ok = frameset_ok
                    delegate_end(("EndTag", name, [], False))
                else:
                    m = end_match(s, i + 1)  # attr-less <name> first
                    if m is not None:
                        name = m.group(1)
                        attrs = []
                        self_closing = False
                        end = m.end()
                        hit = True
                    else:
                        hit = fast_tag(s, i + 1)
                        if hit is not None:
                            name, attrs, self_closing, end = hit
                    if hit is None:
                        if s.startswith("!--", i + 1):
                            j = s.find("-->", i + 4)
                            body = s[i + 4 : j] if j != -1 else None
                            if (
                                body is not None
                                and "--!" not in body
                                and "<!" not in body  # nested-comment error
                                and "\0" not in body
                                and not body.startswith(">")
                                and not body.startswith("->")
                            ):
                                node = Node(COMMENT, text=body)
                                parent = oe[-1]
                                node.parent = parent
                                parent.children.append(node)
                                if fold is not None:
                                    fold.leaf(node, parent)
                                i = j + 3
                                continue
                        break  # not turbo-able: per-state machine
                    # ---- start tag ----
                    tk.last_start_tag = name
                    i = end
                    if (
                        mode0 == "in-cell"
                        and (name == "td" or name == "th")
                        and not self_closing
                    ):
                        top = oe[-1]
                        if (
                            top.ns == NS_HTML
                            and (top.tag == "td" or top.tag == "th")
                            and af
                            and af[-1] is MARKER
                            and len(oe) >= 2
                            and oe[-2].tag == "tr"
                            and oe[-2].ns == NS_HTML
                        ):
                            # implied cell boundary <td>a<td>b — same
                            # reduction as the fused </td><td> chain:
                            # close-the-cell is one pop + one AFE-marker
                            # pop when the cell IS the current node (no
                            # implied end tags fire, no parse error),
                            # and the in-row reopen inserts under the tr
                            oe.pop()
                            af.pop()
                            cur = oe[-1]
                            if len(oe) < md:
                                el = Node(ELEMENT, name, NS_HTML, attrs)
                                el.parent = cur
                                cur.children.append(el)
                                oe.append(el)
                                if fold is not None:
                                    fold.element(el, cur)
                            else:
                                self.parse_error("depth-limit-exceeded")
                            af.append(MARKER)
                            continue
                    if name not in special_start:
                        # 'any other start tag': reconstruct + insert
                        if af:
                            self._reconstruct_formatting()
                        if len(oe) < md:
                            el = Node(ELEMENT, name, NS_HTML, attrs)
                            parent = oe[-1]
                            el.parent = parent
                            parent.children.append(el)
                            oe.append(el)
                            if fold is not None:
                                fold.element(el, parent)
                        else:
                            self.parse_error("depth-limit-exceeded")
                        continue
                    if name in fmt_simple or (
                        name == "a" and (not af or not _has_open_a(af))
                    ):
                        # formatting start, no prior same-tag complication:
                        # reconstruct + insert + AFE push (Noah's Ark in
                        # _push_formatting). Mirrors the megaswitch branch
                        # including the depth-guard posture (AFE entry is
                        # pushed even when the element is depth-dropped).
                        if af:
                            self._reconstruct_formatting()
                        el = Node(ELEMENT, name, NS_HTML, attrs)
                        if len(oe) < md:
                            parent = oe[-1]
                            el.parent = parent
                            parent.children.append(el)
                            oe.append(el)
                            if fold is not None:
                                fold.element(el, parent)
                        else:
                            self.parse_error("depth-limit-exceeded")
                        self._push_formatting(
                            el, ("StartTag", name, attrs, self_closing)
                        )
                        continue
                    if name in P_CLOSERS:
                        # in-body P_CLOSERS branch, inlined (valid under
                        # in-cell too: cell megaswitch passes non-table
                        # tags to the in-body rules)
                        top = oe[-1]
                        if top.tag == "p" and top.ns == NS_HTML:
                            oe.pop()  # close-p with p current: single pop
                        elif self._in_scope("p", SCOPE_BUTTON):
                            self._close_p()
                        if name == "menu":
                            cur = oe[-1]
                            if cur.ns == NS_HTML and cur.tag == "menuitem":
                                oe.pop()
                        if len(oe) < md:
                            el = Node(ELEMENT, name, NS_HTML, attrs)
                            parent = oe[-1]
                            el.parent = parent
                            parent.children.append(el)
                            oe.append(el)
                            if fold is not None:
                                fold.element(el, parent)
                        else:
                            self.parse_error("depth-limit-exceeded")
                            if oe[-1].ns != NS_HTML:
                                tk.i = i
                                self.frameset_ok = frameset_ok
                                return True
                        continue
                    if name in HEADINGS:
                        # in-body heading branch, inlined
                        top = oe[-1]
                        if top.tag == "p" and top.ns == NS_HTML:
                            oe.pop()
                        elif self._in_scope("p", SCOPE_BUTTON):
                            self._close_p()
                        cur = oe[-1]
                        if cur.ns == NS_HTML and cur.tag in HEADINGS:
                            self.parse_error("unexpected-heading-in-heading")
                            oe.pop()
                        if len(oe) < md:
                            el = Node(ELEMENT, name, NS_HTML, attrs)
                            parent = oe[-1]
                            el.parent = parent
                            parent.children.append(el)
                            oe.append(el)
                            if fold is not None:
                                fold.element(el, parent)
                        else:
                            self.parse_error("depth-limit-exceeded")
                            if oe[-1].ns != NS_HTML:
                                tk.i = i
                                self.frameset_ok = frameset_ok
                                return True
                        continue
                    self.frameset_ok = frameset_ok
                    delegate_start(("StartTag", name, attrs, self_closing))
                # raw-text fusion: a delegated <script>/<style>/<title>/
                # <textarea>/<xmp>/... start flipped into text mode — scan
                # the content to the matching end tag in one regex pass,
                # bulk-insert it, restore the mode, and stay in the loop.
                # Real pages are script/style-heavy; without this every
                # RCDATA/RAWTEXT switch exits to the per-state machinery.
                if self.mode == "text" and not self.done:
                    nxt = self._turbo_raw_text(i)
                    if nxt < 0:
                        tk.i = i
                        return True
                    i = nxt
                # delegated to the megaswitch: re-validate the steady state
                frameset_ok = self.frameset_ok
                if (
                    self.done
                    or self.mode != mode0
                    or tk.state != "data"
                    or self.ignore_next_lf
                    or self.foster_parenting
                ):
                    tk.i = i
                    return True
                top = oe[-1] if oe else None
                if top is None or top.ns != NS_HTML:
                    tk.i = i
                    return True
                continue
            if c == "&":
                text, i = consume_char_ref(s, i, False, tk.errors)
            elif c == "\0":
                break
            else:
                m = stop_search(s, i + 1)
                j = m.start() if m else n
                text = s[i:j]
                i = j
            # in-body Character: reconstruct, insert+coalesce, frameset_ok
            if af:
                self._reconstruct_formatting()
            parent = oe[-1]
            children = parent.children
            last = children[-1] if children else None
            if last is not None and last.kind == TEXT:
                last._parts.append(text)
            else:
                node = Node(TEXT, text=text)
                node.parent = parent
                children.append(node)
                if fold is not None:
                    fold.text(node, parent)
            if frameset_ok and text.strip("\t\n\x0c\r "):
                frameset_ok = False
        tk.i = i
        self.frameset_ok = frameset_ok
        return i > start

    def _turbo_raw_text(self, i: int) -> int:
        """Fused text-mode content scan (RCDATA / RAWTEXT / script data).

        Called right after a delegated start tag switched to mode="text":
        finds the appropriate ``</name>`` end tag with one regex search,
        inserts the content as a single text node (entity-resolved for
        RCDATA), pops the element and restores the insertion mode — the
        exact effect of the per-state Character stream + EndTag through
        ``_mode_text``. Returns the input index past the end tag's ``>``,
        or -1 to bail to the per-state machinery (nothing consumed) on:
        NUL in content, ``<!--`` in script data (escaped states can move
        the terminator), an attr-ful / self-closing / ws-suffixed end tag,
        or EOF before the end tag. Batching per the reference's
        HTMLPreprocessedInputStream.m:41-58 scan posture.
        """
        tk = self.tokenizer
        st = tk.state
        if st not in _RAW_FUSE_STATES:
            return -1  # plaintext or anything unusual: slow path
        s = tk.s
        n = tk.n
        name = tk.last_start_tag
        pat = _RAW_END_RE.get(name)
        if pat is None:
            pat = re.compile("</" + re.escape(name), re.IGNORECASE)
            _RAW_END_RE[name] = pat
        pos = i
        while True:
            m = pat.search(s, pos)
            if m is None:
                return -1  # EOF in raw text: per-state EOF error path
            e = m.end()
            c = s[e] if e < n else ""
            if c == ">":
                break
            if c in "\t\n\x0c /":
                # ws/solidus-suffixed end tag (attrs, self-closing):
                # error-channel shapes the per-state machinery owns
                return -1
            pos = e  # '</scriptx', '</script<' …: still text, keep looking
        start_c, end_c = i, m.start()
        content = s[start_c:end_c]
        if "\0" in content:
            return -1
        if st == tz.SCRIPT_DATA and "<!--" in content:
            return -1
        if st == tz.RCDATA and "&" in content:
            out = []
            p = start_c
            while True:
                a = s.find("&", p, end_c)
                if a == -1:
                    out.append(s[p:end_c])
                    break
                out.append(s[p:a])
                t, p = consume_char_ref(s, a, False, tk.errors)
                out.append(t)
            content = "".join(out)
        if self.ignore_next_lf:  # textarea's leading-LF skip
            self.ignore_next_lf = False
            if content.startswith("\n"):
                content = content[1:]
        oe = self.open_elements
        if content:
            el = oe[-1]
            node = Node(TEXT, text=content)
            node.parent = el
            el.children.append(node)
            if self.fold is not None:
                self.fold.text(node, el)
        oe.pop()
        self.mode = self.original_mode
        tk.state = "data"
        return e + 1  # past '>'

    def fragment_children(self) -> list[Node]:
        return list(self.root.children)

    # ------------------------------------------------- token dispatch

    def process_token(self, token: tuple) -> None:
        # fast path: HTML current node, no pending-LF skip, not a fragment —
        # the overwhelmingly common case goes straight to mode dispatch
        oe = self.open_elements
        if (
            not self.ignore_next_lf
            and self.fragment_context is None
            and oe
            and oe[-1].ns == NS_HTML
        ):
            _MODES[self.mode](self, token)
            return
        tt = token[0]
        if self.ignore_next_lf:
            self.ignore_next_lf = False
            if tt == "Character" and token[1].startswith("\n"):
                data = token[1][1:]
                if not data:
                    return
                token = ("Character", data)
                tt = "Character"
        # foreign-content dispatch (HTMLParser.m:2471-2534)
        acn = oe[-1] if oe else None
        if self.fragment_context is not None and len(oe) == 1:
            acn = self.context_node
        if (
            acn is None
            or acn.ns == NS_HTML
            or tt == "EOF"
            or self._is_integration_point_dispatch(acn, token)
        ):
            _MODES[self.mode](self, token)
        else:
            self._foreign_content(token)

    def _is_integration_point_dispatch(self, node: Node, token: tuple) -> bool:
        tt = token[0]
        if node.ns == NS_MATHML and node.tag in MATHML_TEXT_INTEGRATION:
            if tt == "Character":
                return True
            if tt == "StartTag" and token[1] not in ("mglyph", "malignmark"):
                return True
        if node.ns == NS_MATHML and node.tag == "annotation-xml":
            if tt == "StartTag" and token[1] == "svg":
                return True
        if self._is_html_integration_point(node):
            return tt in ("Character", "StartTag")
        return False

    @staticmethod
    def _is_html_integration_point(node: Node) -> bool:
        if node.ns == NS_SVG and node.tag in HTML_INTEGRATION_SVG:
            return True
        if node.ns == NS_MATHML and node.tag == "annotation-xml":
            enc = (node.get_attr("encoding") or "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _mode_dispatch(self, token: tuple, mode: str) -> None:
        _MODES[mode](self, token)

    def reprocess(self, token: tuple, mode: Optional[str] = None) -> None:
        if mode is not None:
            self.mode = mode
        self.process_token(token)

    # ------------------------------------------------- stack helpers

    def _in_scope(self, target, scope=SCOPE_DEFAULT) -> bool:
        """Scope queries (HTMLParser.m:2876-2993).

        Foreign integration-point barriers belong to the BASE scope list
        (default/list-item/button variants); TABLE scope replaces the list
        with html/table/template only — a td inside an SVG desc is still
        in table scope, so a new <td> closes the cell through the foreign
        subtree (WHATWG §13.2.4.2)."""
        foreign_barriers = scope is not SCOPE_TABLE
        if isinstance(target, str):
            # single-name fast path: equality beats tuple membership
            for node in reversed(self.open_elements):
                if node.ns == NS_HTML:
                    if node.tag == target:
                        return True
                    if node.tag in scope:
                        return False
                elif not foreign_barriers:
                    continue
                elif node.ns == NS_MATHML:
                    if (node.tag in MATHML_TEXT_INTEGRATION
                            or node.tag == "annotation-xml"):
                        return False
                elif node.tag in HTML_INTEGRATION_SVG:
                    return False
            return False
        names = tuple(target)
        for node in reversed(self.open_elements):
            if node.ns == NS_HTML and node.tag in names:
                return True
            if node.ns == NS_HTML:
                if node.tag in scope:
                    return False
            elif not foreign_barriers:
                continue
            elif node.ns == NS_MATHML:
                if node.tag in MATHML_TEXT_INTEGRATION or node.tag == "annotation-xml":
                    return False
            elif node.ns == NS_SVG:
                if node.tag in HTML_INTEGRATION_SVG:
                    return False
        return False

    def _in_select_scope(self, target) -> bool:
        names = (target,) if isinstance(target, str) else tuple(target)
        for node in reversed(self.open_elements):
            if node.ns == NS_HTML and node.tag in names:
                return True
            if not (node.ns == NS_HTML and node.tag in ("optgroup", "option")):
                return False
        return False

    def _pop_until(self, *tags: str) -> Optional[Node]:
        # defensive empty check: the depth guard can drop a just-inserted
        # element from the stack (e.g. the </p>-with-no-p recovery inside a
        # depth bomb), so the target may legitimately be absent
        while self.open_elements:
            node = self.open_elements.pop()
            if node.ns == NS_HTML and node.tag in tags:
                return node
        return None

    def _generate_implied_end_tags(self, except_tag: Optional[str] = None,
                                   thorough: bool = False) -> None:
        tags = IMPLIED_END_THOROUGH if thorough else IMPLIED_END
        while self.open_elements:
            node = self.open_elements[-1]
            if node.ns == NS_HTML and node.tag in tags and node.tag != except_tag:
                self.open_elements.pop()
            else:
                return

    def _clear_stack_to(self, tags: frozenset) -> None:
        while self.open_elements:
            node = self.open_elements[-1]
            if node.ns == NS_HTML and node.tag in tags:
                return
            self.open_elements.pop()

    def _close_p(self) -> None:
        self._generate_implied_end_tags(except_tag="p")
        if not (self.current_node().tag == "p" and self.current_node().ns == NS_HTML):
            self.parse_error("unexpected-open-elements-closing-p")
        self._pop_until("p")

    # ------------------------------------------------- insertion

    def _rearranged(self) -> None:
        """An extraction-mode parse can no longer fold segmentation into
        insertion (see the class docstring)."""
        if self.fold is not None:
            self.fold.rearranged = True

    def _appropriate_place(self, override: Optional[Node] = None):
        """Foster parenting (HTMLParser.m:3014-3048). Returns (parent, index|None)."""
        target = override if override is not None else self.current_node()
        if self.foster_parenting and target.ns == NS_HTML and target.tag in (
            "table", "tbody", "tfoot", "thead", "tr"
        ):
            self._rearranged()
            last_table = None
            last_table_i = -1
            last_template_i = -1
            oe = self.open_elements
            for i in range(len(oe) - 1, -1, -1):
                node = oe[i]
                if node.ns != NS_HTML:
                    continue
                if node.tag == "table" and last_table is None:
                    last_table = node
                    last_table_i = i
                elif node.tag == "template" and last_template_i < 0:
                    last_template_i = i
                if last_table is not None and last_template_i >= 0:
                    break
            if last_template_i > last_table_i:
                # template closer than any table: append to its contents
                # (== children in this model)
                return oe[last_template_i], None
            if last_table is None:
                return self.open_elements[0], None
            if last_table.parent is not None:
                idx = last_table.parent.children.index(last_table)
                return last_table.parent, idx
            ti = self.open_elements.index(last_table)
            return self.open_elements[ti - 1], None
        return target, None

    def _insert_node(self, node: Node, override: Optional[Node] = None) -> None:
        if not self.foster_parenting and override is None:
            parent = self.open_elements[-1]
            idx = None
        else:
            parent, idx = self._appropriate_place(override)
        if idx is None:
            parent.append(node)
        else:
            parent.insert(idx, node)
        fold = self.fold
        if fold is not None:
            if node.kind == ELEMENT:
                fold.element(node, parent)
            else:
                fold.leaf(node, parent)

    def _insert_text(self, data: str, override: Optional[Node] = None) -> None:
        """Text insertion & coalescing (HTMLParser.m:3085-3092,
        HTMLNode.m:183-196)."""
        if not data:
            return
        if not self.foster_parenting and override is None:
            parent = self.open_elements[-1]
            idx = None
        else:
            parent, idx = self._appropriate_place(override)
        if idx is None:
            prev = parent.children[-1] if parent.children else None
        else:
            prev = parent.children[idx - 1] if idx > 0 else None
        if prev is not None and prev.kind == TEXT:
            prev.append_text(data)
            return
        if parent.kind == DOCUMENT:
            return  # text never attaches directly to the document
        node = Node(TEXT, text=data)
        if idx is None:
            node.parent = parent  # inlined append (fresh node)
            parent.children.append(node)
        else:
            parent.insert(idx, node)
        if self.fold is not None:
            self.fold.text(node, parent)

    def _create_element(self, token: tuple, ns: int = NS_HTML) -> Node:
        # tokens are one-shot (the tokenizer builds a fresh attr list per
        # tag), so the element can own the list without copying
        return Node(ELEMENT, token[1], ns, token[2])

    def _insert_element(self, token: tuple, ns: int = NS_HTML) -> Node:
        el = self._create_element(token, ns)
        stack = self.open_elements
        if len(stack) < self.max_depth:
            if not self.foster_parenting:
                # inlined Node.append fast path (fresh node, no reparent)
                parent = stack[-1]
                el.parent = parent
                parent.children.append(el)
                if self.fold is not None:
                    self.fold.element(el, parent)
            else:
                self._insert_node(el)
            stack.append(el)
        else:
            # Depth-bomb guard (SURVEY.md §7.3.5): beyond max_depth the
            # element is dropped from BOTH the tree and the open stack —
            # otherwise scope queries scan an unbounded stack and a 50k-deep
            # document goes O(depth²). Flagged via parse error → metrics.
            self.parse_error("depth-limit-exceeded")
        return el

    def _pop_if_current(self, el: Node) -> None:
        """Pop ``el`` only if it actually made it onto the stack (it may
        have been dropped by the depth guard)."""
        if self.open_elements and self.open_elements[-1] is el:
            self.open_elements.pop()

    def _insert_element_named(self, tag: str) -> Node:
        return self._insert_element(("StartTag", tag, [], False))

    def _insert_comment(self, token: tuple, parent: Optional[Node] = None) -> None:
        node = Node(COMMENT, text=token[1])
        if parent is not None:
            parent.append(node)
            if self.fold is not None:
                self.fold.leaf(node, parent)
        else:
            self._insert_node(node)

    def _raw_text_element(self, token: tuple, state: str) -> None:
        self._insert_element(token)
        self.tokenizer.state = state
        self.original_mode = self.mode
        self.mode = "text"

    # ---------------------------------------- active formatting list

    def _push_formatting(self, el: Node, token: tuple) -> None:
        """Noah's Ark clause, max 3 equal entries (HTMLParser.m:3181-3207)."""
        count = 0
        for i in range(len(self.active_formatting) - 1, -1, -1):
            entry = self.active_formatting[i]
            if entry is MARKER:
                break
            node, _tok = entry
            if (
                node.tag == el.tag
                and node.ns == el.ns
                and (node.attrs == el.attrs  # fast path: same order (or both
                     # empty — the common <b>/<i>/<em> case); == implies
                     # the sorted equality below
                     or sorted(node.attrs) == sorted(el.attrs))
            ):
                count += 1
                if count == 3:
                    self.active_formatting.pop(i)
                    break
        self.active_formatting.append((el, token))

    def _reconstruct_formatting(self) -> None:
        """Reconstruct the active formatting elements (HTMLParser.m:3209-3233)."""
        af = self.active_formatting
        if not af:
            return
        entry = af[-1]
        if entry is MARKER or (entry[0] in self.open_elements):
            return
        i = len(af) - 1
        while i > 0:
            i -= 1
            entry = af[i]
            if entry is MARKER or (entry[0] in self.open_elements):
                i += 1
                break
        while i < len(af):
            node, token = af[i]
            new = self._insert_element(token)
            af[i] = (new, token)
            i += 1

    def _clear_formatting_to_marker(self) -> None:
        af = self.active_formatting
        while af:
            entry = af.pop()
            if entry is MARKER:
                return

    # ---------------------------------------------- adoption agency

    def _adoption_agency(self, subject: str) -> None:
        """The adoption agency algorithm (HTMLParser.m:1142-1267)."""
        cur = self.current_node()
        if (
            cur is not None
            and cur.ns == NS_HTML
            and cur.tag == subject
            and not any(e is not MARKER and e[0] is cur for e in self.active_formatting)
        ):
            self.open_elements.pop()
            return
        for _outer in range(8):
            fmt_idx = None
            fmt_el = None
            for i in range(len(self.active_formatting) - 1, -1, -1):
                entry = self.active_formatting[i]
                if entry is MARKER:
                    break
                if entry[0].tag == subject:
                    fmt_idx = i
                    fmt_el = entry[0]
                    break
            if fmt_el is None:
                self._any_other_end_tag(subject)
                return
            if fmt_el not in self.open_elements:
                self.parse_error("adoption-agency-1.2")
                self.active_formatting.pop(fmt_idx)
                return
            if not self._in_scope(subject):
                self.parse_error("adoption-agency-4.4")
                return
            if fmt_el is not self.current_node():
                self.parse_error("adoption-agency-1.3")
            stack = self.open_elements
            fmt_stack_idx = stack.index(fmt_el)
            furthest = None
            for i in range(fmt_stack_idx + 1, len(stack)):
                node = stack[i]
                if self._is_special(node):
                    furthest = node
                    furthest_idx = i
                    break
            if furthest is None:
                del stack[fmt_stack_idx:]
                self.active_formatting.pop(fmt_idx)
                return
            self._rearranged()
            common_ancestor = stack[fmt_stack_idx - 1]
            bookmark = fmt_idx
            last_node = furthest
            node_idx = furthest_idx
            inner = 0
            while True:
                inner += 1
                node_idx -= 1
                node = stack[node_idx]
                if node is fmt_el:
                    break
                node_af_idx = self._af_index(node)
                if inner > 3 and node_af_idx is not None:
                    self.active_formatting.pop(node_af_idx)
                    if node_af_idx < bookmark:
                        bookmark -= 1
                    node_af_idx = None
                if node_af_idx is None:
                    # remove from stack; node_idx now already points at the
                    # element before the removed one for the next iteration
                    del stack[node_idx]
                    continue
                # clone node, replace its entries in af and the stack
                token = self.active_formatting[node_af_idx][1]
                clone = Node(ELEMENT, node.tag, node.ns, list(node.attrs))
                self.active_formatting[node_af_idx] = (clone, token)
                stack[node_idx] = clone
                node = clone
                if last_node is furthest:
                    bookmark = node_af_idx + 1
                node.append(last_node)
                last_node = node
            # insert last_node at appropriate place relative to common ancestor
            if common_ancestor.ns == NS_HTML and common_ancestor.tag in (
                "table", "tbody", "tfoot", "thead", "tr"
            ):
                saved = self.foster_parenting
                self.foster_parenting = True
                parent, idx = self._appropriate_place(common_ancestor)
                self.foster_parenting = saved
                if idx is None:
                    parent.append(last_node)
                else:
                    parent.insert(idx, last_node)
            else:
                common_ancestor.append(last_node)
            # new element: clone of fmt_el, children of furthest moved in
            af = self.active_formatting
            old_idx = self._af_index(fmt_el)
            token = af[old_idx][1]
            clone = Node(ELEMENT, fmt_el.tag, fmt_el.ns, list(fmt_el.attrs))
            for child in list(furthest.children):
                clone.append(child)
            furthest.append(clone)
            # bookmark bookkeeping
            af.pop(old_idx)
            if old_idx < bookmark:
                bookmark -= 1
            bookmark = min(bookmark, len(af))
            af.insert(bookmark, (clone, token))
            stack.remove(fmt_el)
            stack.insert(stack.index(furthest) + 1, clone)

    def _af_index(self, node: Node) -> Optional[int]:
        for j in range(len(self.active_formatting) - 1, -1, -1):
            e = self.active_formatting[j]
            if e is not MARKER and e[0] is node:
                return j
        return None

    @staticmethod
    def _is_special(node: Node) -> bool:
        if node.ns == NS_HTML:
            return node.tag in SPECIAL_HTML
        if node.ns == NS_MATHML:
            return node.tag in SPECIAL_MATHML
        return node.tag in SPECIAL_SVG

    def _any_other_end_tag(self, tag: str) -> None:
        """'Any other end tag' in in-body (HTMLParser.m:1104-1127)."""
        stack = self.open_elements
        for i in range(len(stack) - 1, -1, -1):
            node = stack[i]
            if node.ns == NS_HTML and node.tag == tag:
                self._generate_implied_end_tags(except_tag=tag)
                if self.current_node() is not node:
                    self.parse_error("unexpected-end-tag")
                del stack[i:]
                return
            if self._is_special(node):
                self.parse_error("unexpected-end-tag")
                return

    # -------------------------------------------- reset insertion mode

    def _reset_insertion_mode(self) -> None:
        """HTMLParser.m:3108-3177."""
        for i in range(len(self.open_elements) - 1, -1, -1):
            node = self.open_elements[i]
            last = i == 0
            if last and self.fragment_context is not None:
                node = self.context_node
            if node.ns != NS_HTML:
                if last:
                    self.mode = "in-body"
                    return
                continue
            tag = node.tag
            if tag == "template":
                self.mode = self.template_modes[-1]
                return
            if tag == "select":
                mode = "in-select"
                for j in range(i - 1, 0, -1):
                    anc = self.open_elements[j]
                    if anc.ns == NS_HTML and anc.tag == "table":
                        mode = "in-select-in-table"
                        break
                self.mode = mode
                return
            if tag in ("td", "th") and not last:
                self.mode = "in-cell"
                return
            if tag == "tr":
                self.mode = "in-row"
                return
            if tag in ("tbody", "thead", "tfoot"):
                self.mode = "in-table-body"
                return
            if tag == "caption":
                self.mode = "in-caption"
                return
            if tag == "colgroup":
                self.mode = "in-column-group"
                return
            if tag == "table":
                self.mode = "in-table"
                return
            if tag == "head" and not last:
                self.mode = "in-head"
                return
            if tag == "body":
                self.mode = "in-body"
                return
            if tag == "frameset":
                self.mode = "in-frameset"
                return
            if tag == "html":
                self.mode = "before-head" if self.head is None else "after-head"
                return
            if last:
                self.mode = "in-body"
                return

    # ================================================= insertion modes

    def _mode_initial(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1].lstrip(_WS)
            if not data:
                return
            token = ("Character", data)
        elif tt == "Comment":
            self._insert_comment(token, self.document)
            return
        elif tt == "DOCTYPE":
            name, public, system, force_quirks = token[1], token[2], token[3], token[4]
            if name != "html" or public is not None or (
                system is not None and system != "about:legacy-compat"
            ):
                self.parse_error("unexpected-doctype")
            node = Node(DOCTYPE, tag=name, text=None,
                        attrs=[("public", public or ""),
                               ("system", system or "")])
            self.document.append(node)
            if self.fold is not None:
                self.fold.leaf(node, self.document)
            self.quirks = self._classify_quirks(name, public, system, force_quirks)
            self.mode = "before-html"
            return
        # anything else: quirks + reprocess (HTMLParser.m:304-312)
        self.parse_error("expected-doctype-but-got-something-else")
        self.quirks = QUIRKS
        self.reprocess(token, "before-html")

    def _classify_quirks(self, name, public, system, force_quirks) -> int:
        """Quirks-mode classification (HTMLParser.m:209-303)."""
        if force_quirks or name != "html":
            return QUIRKS
        p = (public or "").lower()
        s = (system or "").lower()
        if public is not None:
            if p in QUIRKS_PUBLIC_EXACT or p.startswith(QUIRKS_PUBLIC_PREFIXES):
                return QUIRKS
            if p.startswith(CONDITIONAL_PREFIXES):
                return QUIRKS if system is None else LIMITED_QUIRKS
            if p.startswith(LIMITED_QUIRKS_PREFIXES):
                return LIMITED_QUIRKS
        if s == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd":
            return QUIRKS
        return NO_QUIRKS

    def _mode_before_html(self, token: tuple) -> None:
        tt = token[0]
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "Comment":
            self._insert_comment(token, self.document)
            return
        if tt == "Character":
            data = token[1].lstrip(_WS)
            if not data:
                return
            token = ("Character", data)
        if tt == "StartTag" and token[1] == "html":
            el = self._create_element(token)
            self.document.append(el)
            self.open_elements.append(el)
            if self.fold is not None:
                self.fold.element(el, self.document)
            self.root = el
            self.mode = "before-head"
            return
        if tt == "EndTag" and token[1] not in ("head", "body", "html", "br"):
            self.parse_error("unexpected-end-tag-before-html")
            return
        el = Node(ELEMENT, "html", NS_HTML)
        self.document.append(el)
        self.open_elements.append(el)
        if self.fold is not None:
            self.fold.element(el, self.document)
        self.root = el
        self.reprocess(token, "before-head")

    def _mode_before_head(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1].lstrip(_WS)
            if not data:
                return
            token = ("Character", data)
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag == "head":
                self.head = self._insert_element(token)
                self.mode = "in-head"
                return
        if tt == "EndTag" and token[1] not in ("head", "body", "html", "br"):
            self.parse_error("unexpected-end-tag-before-head")
            return
        self.head = self._insert_element_named("head")
        self.reprocess(token, "in-head")

    def _mode_in_head(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return
            token = ("Character", data[i:])
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag in ("base", "basefont", "bgsound", "link", "meta"):
                _el = self._insert_element(token)
                self._pop_if_current(_el)
                return
            if tag == "title":
                self._raw_text_element(token, tz.RCDATA)
                return
            if tag in ("noscript", "noframes", "style"):
                if tag == "noscript" and not self.scripting:
                    self._insert_element(token)
                    self.mode = "in-head-noscript"
                    return
                self._raw_text_element(token, tz.RAWTEXT)
                return
            if tag == "script":
                self._raw_text_element(token, tz.SCRIPT_DATA)
                return
            if tag == "template":
                # WHATWG 13.2.6.4.4: insert, AFE marker, frameset_ok off,
                # mode → in-template (pushed on the template-modes stack)
                self._insert_element(token)
                self.active_formatting.append(MARKER)
                self.frameset_ok = False
                self.mode = "in-template"
                self.template_modes.append("in-template")
                return
            if tag == "head":
                self.parse_error("two-heads-are-not-better-than-one")
                return
        if tt == "EndTag":
            tag = token[1]
            if tag == "head":
                self.open_elements.pop()
                self.mode = "after-head"
                return
            if tag == "template":
                self._close_template()
                return
            if tag not in ("body", "html", "br"):
                self.parse_error("unexpected-end-tag-in-head")
                return
        self.open_elements.pop()
        self.reprocess(token, "after-head")

    def _close_template(self) -> None:
        """</template> (in-head rules, WHATWG 13.2.6.4.4)."""
        if not any(
            n.ns == NS_HTML and n.tag == "template"
            for n in self.open_elements
        ):
            self.parse_error("unexpected-end-template")
            return
        self._generate_implied_end_tags(thorough=True)
        if self.current_node().tag != "template":
            self.parse_error("unexpected-open-elements-closing-template")
        self._pop_until("template")
        self._clear_formatting_to_marker()
        if self.template_modes:
            self.template_modes.pop()
        self._reset_insertion_mode()

    _TEMPLATE_HEAD_STARTS = frozenset(
        "base basefont bgsound link meta noframes script style template "
        "title".split()
    )
    _TEMPLATE_TABLE_STARTS = {
        "caption": "in-table", "colgroup": "in-table", "tbody": "in-table",
        "tfoot": "in-table", "thead": "in-table", "col": "in-column-group",
        "tr": "in-table-body", "td": "in-row", "th": "in-row",
    }

    def _mode_in_template(self, token: tuple) -> None:
        """WHATWG 13.2.6.4.18 'in template'. Contents land as the template
        node's children (== its content fragment in this flat model; every
        spec insertion targeting a template redirects to content, so the
        two representations coincide — the html5lib dump layer re-adds the
        'content' pseudo-node)."""
        tt = token[0]
        if tt in ("Character", "Comment", "DOCTYPE"):
            self._mode_dispatch(token, "in-body")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag in self._TEMPLATE_HEAD_STARTS:
                self._mode_dispatch(token, "in-head")
                return
            nxt = self._TEMPLATE_TABLE_STARTS.get(tag, "in-body")
            self.template_modes.pop()
            self.template_modes.append(nxt)
            self.reprocess(token, nxt)
            return
        if tt == "EndTag":
            if token[1] == "template":
                self._close_template()
            else:
                self.parse_error("unexpected-end-tag-in-template")
            return
        # EOF — iterative, not recursive: a depth-bombed document can have
        # hundreds of open templates, and the spec's reprocess-EOF step
        # would burn several Python frames per template. While a template
        # remains on the stack, every mode reset can land in (the table /
        # select family, or in-template itself — template content admits
        # nothing that resets to in-head/after-head/frameset) delegates
        # EOF straight back here, so the loop IS the reprocess chain.
        # Only the final hop, after the last template pops, runs a real
        # per-mode EOF handler — that one reprocess is O(1) deep.
        def _template_open() -> bool:
            return any(
                n.ns == NS_HTML and n.tag == "template"
                for n in self.open_elements
            )

        while True:
            if not _template_open():
                self.done = True
                return
            self.parse_error("eof-in-template")
            self._pop_until("template")
            self._clear_formatting_to_marker()
            if self.template_modes:
                self.template_modes.pop()
            self._reset_insertion_mode()
            if not _template_open():
                self.reprocess(token)
                return

    def _mode_in_head_noscript(self, token: tuple) -> None:
        tt = token[0]
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag in ("basefont", "bgsound", "link", "meta", "noframes", "style"):
                self._mode_dispatch(token, "in-head")
                return
            if tag in ("head", "noscript"):
                self.parse_error("unexpected-start-tag-in-noscript")
                return
        if tt == "EndTag":
            if token[1] == "noscript":
                self.open_elements.pop()
                self.mode = "in-head"
                return
            if token[1] != "br":
                self.parse_error("unexpected-end-tag-in-noscript")
                return
        if tt == "Character":
            data = token[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._mode_dispatch(("Character", data[:i]), "in-head")
            if i == len(data):
                return
            token = ("Character", data[i:])
        if tt == "Comment":
            self._mode_dispatch(token, "in-head")
            return
        self.parse_error("unexpected-token-in-noscript")
        self.open_elements.pop()
        self.reprocess(token, "in-head")

    def _mode_after_head(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return
            token = ("Character", data[i:])
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag == "body":
                self._insert_element(token)
                self.frameset_ok = False
                self.mode = "in-body"
                return
            if tag == "frameset":
                self._insert_element(token)
                self.mode = "in-frameset"
                return
            if tag in ("base", "basefont", "bgsound", "link", "meta",
                       "noframes", "script", "style", "title"):
                self.parse_error("unexpected-start-tag-out-of-head")
                if self.head.parent.children[-1] is not self.head:
                    # inserts into head now precede the later siblings
                    # already in the tree: not tree order
                    self._rearranged()
                self.open_elements.append(self.head)
                self._mode_dispatch(token, "in-head")
                if self.head in self.open_elements:
                    self.open_elements.remove(self.head)
                return
            if tag == "template":
                self._mode_dispatch(token, "in-head")
                return
            if tag == "head":
                self.parse_error("unexpected-head")
                return
        if tt == "EndTag":
            if token[1] == "template":
                self._mode_dispatch(token, "in-head")
                return
            if token[1] not in ("body", "html", "br"):
                self.parse_error("unexpected-end-tag-after-head")
                return
        self._insert_element_named("body")
        self.frameset_ok = True
        self.reprocess(token, "in-body")

    # ---------------------------------------------------- in body

    def _mode_in_body(self, token: tuple) -> None:
        # branch order follows token frequency in real HTML:
        # start tags ≥ characters > end tags ≫ comments/doctype/EOF
        tt = token[0]
        if tt == "StartTag":
            self._in_body_start_tag(token)
            return
        if tt == "Character":
            data = token[1]
            if "\0" in data:
                self.parse_error("unexpected-null-character")
                data = data.replace("\0", "")
                if not data:
                    return
            self._reconstruct_formatting()
            self._insert_text(data)
            if not _is_ws(data):
                self.frameset_ok = False
            return
        if tt == "EndTag":
            self._in_body_end_tag(token)
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "EOF":
            if self.template_modes:
                self._mode_in_template(token)
            else:
                self.done = True
            return

    def _in_body_start_tag(self, token: tuple) -> None:
        """The in-body start-tag megaswitch (HTMLParser.m:654-979)."""
        tag = token[1]
        if tag not in _IN_BODY_SPECIAL_START:
            # 'any other start tag' fast path — one set test instead of the
            # full chain for span/em-class generic elements
            self._reconstruct_formatting()
            self._insert_element(token)
            return
        if tag == "html":
            self.parse_error("non-html-root")
            # merge attributes into root
            root = self.open_elements[0]
            existing = {k for k, _ in root.attrs}
            for k, v in token[2]:
                if k not in existing:
                    root.attrs.append((k, v))
                    self._rearranged()
            return
        if tag in ("base", "basefont", "bgsound", "link", "meta", "noframes",
                   "script", "style", "template", "title"):
            self._mode_dispatch(token, "in-head")
            return
        if tag == "body":
            self.parse_error("unexpected-body")
            if (
                len(self.open_elements) > 1
                and self.open_elements[1].tag == "body"
            ):
                self.frameset_ok = False
                body = self.open_elements[1]
                existing = {k for k, _ in body.attrs}
                for k, v in token[2]:
                    if k not in existing:
                        body.attrs.append((k, v))
                        self._rearranged()
            return
        if tag == "frameset":
            self.parse_error("unexpected-frameset")
            if not self.frameset_ok:
                return
            if len(self.open_elements) < 2 or self.open_elements[1].tag != "body":
                return
            body = self.open_elements[1]
            if body.parent is not None:
                body.parent.remove(body)
                self._rearranged()
            del self.open_elements[1:]
            self._insert_element(token)
            self.mode = "in-frameset"
            return
        if tag in P_CLOSERS:
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            if tag == "menu":
                cur = self.current_node()
                if cur.ns == NS_HTML and cur.tag == "menuitem":
                    self.open_elements.pop()
            self._insert_element(token)
            return
        if tag in HEADINGS:
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            cur = self.current_node()
            if cur.ns == NS_HTML and cur.tag in HEADINGS:
                self.parse_error("unexpected-heading-in-heading")
                self.open_elements.pop()
            self._insert_element(token)
            return
        if tag in ("pre", "listing"):
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._insert_element(token)
            self.ignore_next_lf = True
            self.frameset_ok = False
            return
        if tag == "form":
            if self.form is not None:
                self.parse_error("unexpected-form-in-form")
                return
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self.form = self._insert_element(token)
            return
        if tag == "li":
            self.frameset_ok = False
            for node in reversed(self.open_elements):
                if node.ns == NS_HTML and node.tag == "li":
                    self._generate_implied_end_tags(except_tag="li")
                    if self.current_node().tag != "li":
                        self.parse_error("unexpected-li")
                    self._pop_until("li")
                    break
                if self._is_special(node) and node.tag not in ("address", "div", "p"):
                    break
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._insert_element(token)
            return
        if tag in ("dd", "dt"):
            self.frameset_ok = False
            for node in reversed(self.open_elements):
                if node.ns == NS_HTML and node.tag in ("dd", "dt"):
                    self._generate_implied_end_tags(except_tag=node.tag)
                    if self.current_node() is not node:
                        self.parse_error("unexpected-dd-dt")
                    self._pop_until("dd", "dt")
                    break
                if self._is_special(node) and node.tag not in ("address", "div", "p"):
                    break
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._insert_element(token)
            return
        if tag == "plaintext":
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._insert_element(token)
            self.tokenizer.state = tz.PLAINTEXT
            return
        if tag == "button":
            if self._in_scope("button"):
                self.parse_error("unexpected-button-in-button")
                self._generate_implied_end_tags()
                self._pop_until("button")
            self._reconstruct_formatting()
            self._insert_element(token)
            self.frameset_ok = False
            return
        if tag == "a":
            # adoption trigger (HTMLParser.m:a handling)
            for entry in reversed(self.active_formatting):
                if entry is MARKER:
                    break
                if entry[0].tag == "a":
                    self.parse_error("unexpected-a-in-a")
                    self._adoption_agency("a")
                    node = entry[0]
                    if any(e is not MARKER and e[0] is node
                           for e in self.active_formatting):
                        self.active_formatting.remove(entry)
                    if node in self.open_elements:
                        self.open_elements.remove(node)
                    break
            self._reconstruct_formatting()
            el = self._insert_element(token)
            self._push_formatting(el, token)
            return
        if tag in FORMATTING:
            if tag == "nobr" and self._in_scope("nobr"):
                self.parse_error("unexpected-nobr-in-nobr")
                self._adoption_agency("nobr")
                self._reconstruct_formatting()
            else:
                self._reconstruct_formatting()
            el = self._insert_element(token)
            self._push_formatting(el, token)
            return
        if tag in ("applet", "marquee", "object"):
            self._reconstruct_formatting()
            self._insert_element(token)
            self.active_formatting.append(MARKER)
            self.frameset_ok = False
            return
        if tag == "table":
            if self.quirks != QUIRKS and self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._insert_element(token)
            self.frameset_ok = False
            self.mode = "in-table"
            return
        if tag in ("area", "br", "embed", "img", "keygen", "wbr"):
            self._reconstruct_formatting()
            _el = self._insert_element(token)
            self._pop_if_current(_el)
            self.frameset_ok = False
            return
        if tag == "input":
            self._reconstruct_formatting()
            el = self._insert_element(token)
            self._pop_if_current(el)
            type_attr = (el.get_attr("type") or "").lower()
            if type_attr != "hidden":
                self.frameset_ok = False
            return
        if tag in ("param", "source", "track"):
            _el = self._insert_element(token)
            self._pop_if_current(_el)
            return
        if tag == "hr":
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            cur = self.current_node()
            if cur.ns == NS_HTML and cur.tag == "menuitem":
                self.open_elements.pop()
            _el = self._insert_element(token)
            self._pop_if_current(_el)
            self.frameset_ok = False
            return
        if tag == "image":
            self.parse_error("image-not-img")
            self._in_body_start_tag(("StartTag", "img", token[2], token[3]))
            return
        if tag == "textarea":
            self._insert_element(token)
            self.ignore_next_lf = True
            self.tokenizer.state = tz.RCDATA
            self.original_mode = self.mode
            self.frameset_ok = False
            self.mode = "text"
            return
        if tag == "xmp":
            if self._in_scope("p", SCOPE_BUTTON):
                self._close_p()
            self._reconstruct_formatting()
            self.frameset_ok = False
            self._raw_text_element(token, tz.RAWTEXT)
            return
        if tag == "iframe":
            self.frameset_ok = False
            self._raw_text_element(token, tz.RAWTEXT)
            return
        if tag == "noembed" or (tag == "noscript" and self.scripting):
            self._raw_text_element(token, tz.RAWTEXT)
            return
        if tag == "menuitem":
            # reference parity (HTMLParser.m:938-945): acts like <option>,
            # closing a currently-open menuitem
            cur = self.current_node()
            if cur.ns == NS_HTML and cur.tag == "menuitem":
                self.open_elements.pop()
            self._reconstruct_formatting()
            self._insert_element(token)
            return
        if tag == "select":
            self._reconstruct_formatting()
            self._insert_element(token)
            self.frameset_ok = False
            if self.mode in ("in-table", "in-caption", "in-table-body",
                             "in-row", "in-cell"):
                self.mode = "in-select-in-table"
            else:
                self.mode = "in-select"
            return
        if tag in ("optgroup", "option"):
            if self.current_node().tag == "option":
                self.open_elements.pop()
            self._reconstruct_formatting()
            self._insert_element(token)
            return
        if tag in ("rb", "rtc"):
            if self._in_scope("ruby"):
                self._generate_implied_end_tags()
                if self.current_node().tag != "ruby":
                    self.parse_error("unexpected-rb")
            self._insert_element(token)
            return
        if tag in ("rp", "rt"):
            if self._in_scope("ruby"):
                self._generate_implied_end_tags(except_tag="rtc")
                if self.current_node().tag not in ("ruby", "rtc"):
                    self.parse_error("unexpected-rt")
            self._insert_element(token)
            return
        if tag == "math":
            self._reconstruct_formatting()
            tok = self._adjust_foreign_token(token, NS_MATHML)
            el = self._insert_element(tok, NS_MATHML)
            if token[3]:  # self-closing
                self._pop_if_current(el)
            return
        if tag == "svg":
            self._reconstruct_formatting()
            tok = self._adjust_foreign_token(token, NS_SVG)
            el = self._insert_element(tok, NS_SVG)
            if token[3]:
                self._pop_if_current(el)
            return
        if tag in ("caption", "col", "colgroup", "frame", "head", "tbody",
                   "td", "tfoot", "th", "thead", "tr"):
            self.parse_error("unexpected-table-part-in-body")
            return
        # any other start tag
        self._reconstruct_formatting()
        self._insert_element(token)

    def _in_body_end_tag(self, token: tuple) -> None:
        tag = token[1]
        if tag == "template":
            self._close_template()
            return
        if tag == "body":
            if not self._in_scope("body"):
                self.parse_error("unexpected-end-body")
                return
            self.mode = "after-body"
            return
        if tag == "html":
            if not self._in_scope("body"):
                self.parse_error("unexpected-end-html")
                return
            self.mode = "after-body"
            self.reprocess(token)
            return
        if tag in P_CLOSERS and tag != "p" or tag in (
            "button", "listing", "pre"
        ):
            if not self._in_scope(tag):
                self.parse_error("unexpected-end-tag")
                return
            self._generate_implied_end_tags()
            if self.current_node().tag != tag:
                self.parse_error("unexpected-end-tag")
            self._pop_until(tag)
            return
        if tag == "form":
            node = self.form
            self.form = None
            if node is None or not self._in_scope("form"):
                self.parse_error("unexpected-end-form")
                return
            self._generate_implied_end_tags()
            if self.current_node() is not node:
                self.parse_error("end-form-mismatch")
            if node in self.open_elements:
                self.open_elements.remove(node)
            return
        if tag == "p":
            if not self._in_scope("p", SCOPE_BUTTON):
                self.parse_error("unexpected-end-p")
                el = self._insert_element_named("p")
                if not self.open_elements or self.open_elements[-1] is not el:
                    return  # depth guard dropped the recovery <p>
            self._close_p()
            return
        if tag == "li":
            if not self._in_scope("li", SCOPE_LIST_ITEM):
                self.parse_error("unexpected-end-li")
                return
            self._generate_implied_end_tags(except_tag="li")
            if self.current_node().tag != "li":
                self.parse_error("unexpected-end-li")
            self._pop_until("li")
            return
        if tag in ("dd", "dt"):
            if not self._in_scope(tag):
                self.parse_error("unexpected-end-dd-dt")
                return
            self._generate_implied_end_tags(except_tag=tag)
            if self.current_node().tag != tag:
                self.parse_error("unexpected-end-dd-dt")
            self._pop_until(tag)
            return
        if tag in HEADINGS:
            if not self._in_scope(HEADINGS):
                self.parse_error("unexpected-end-heading")
                return
            self._generate_implied_end_tags()
            if self.current_node().tag != tag:
                self.parse_error("unexpected-end-heading")
            self._pop_until(*HEADINGS)
            return
        if tag in FORMATTING:
            self._adoption_agency(tag)
            return
        if tag in ("applet", "marquee", "object"):
            if not self._in_scope(tag):
                self.parse_error("unexpected-end-tag")
                return
            self._generate_implied_end_tags()
            if self.current_node().tag != tag:
                self.parse_error("unexpected-end-tag")
            self._pop_until(tag)
            self._clear_formatting_to_marker()
            return
        if tag == "br":
            self.parse_error("unexpected-end-br")
            self._in_body_start_tag(("StartTag", "br", [], False))
            return
        self._any_other_end_tag(tag)

    # -------------------------------------------------------- text mode

    def _mode_text(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            self._insert_text(token[1])
            return
        if tt == "EOF":
            self.parse_error("expected-closing-tag-but-got-eof")
            self.open_elements.pop()
            self.reprocess(token, self.original_mode)
            return
        # EndTag
        self.open_elements.pop()
        self.mode = self.original_mode

    # -------------------------------------------------------- tables

    def _mode_in_table(self, token: tuple) -> None:
        tt = token[0]
        cur = self.current_node()
        if tt == "Character" and cur.ns == NS_HTML and cur.tag in (
            "table", "tbody", "tfoot", "thead", "tr"
        ):
            self.pending_table_chars = []
            self.original_mode = self.mode
            self.mode = "in-table-text"
            self.reprocess(token)
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "caption":
                self._clear_stack_to(SCOPE_TABLE)
                self.active_formatting.append(MARKER)
                self._insert_element(token)
                self.mode = "in-caption"
                return
            if tag == "colgroup":
                self._clear_stack_to(SCOPE_TABLE)
                self._insert_element(token)
                self.mode = "in-column-group"
                return
            if tag == "col":
                self._clear_stack_to(SCOPE_TABLE)
                self._insert_element_named("colgroup")
                self.reprocess(token, "in-column-group")
                return
            if tag in ("tbody", "tfoot", "thead"):
                self._clear_stack_to(SCOPE_TABLE)
                self._insert_element(token)
                self.mode = "in-table-body"
                return
            if tag in ("td", "th", "tr"):
                self._clear_stack_to(SCOPE_TABLE)
                self._insert_element_named("tbody")
                self.reprocess(token, "in-table-body")
                return
            if tag == "table":
                self.parse_error("unexpected-table-in-table")
                if self._in_scope("table", SCOPE_TABLE):
                    self._pop_until("table")
                    self._reset_insertion_mode()
                    self.reprocess(token)
                return
            if tag in ("style", "script", "template"):
                self._mode_dispatch(token, "in-head")
                return
            if tag == "input":
                type_attr = ""
                for k, v in token[2]:
                    if k == "type":
                        type_attr = v.lower()
                        break
                if type_attr == "hidden":
                    self.parse_error("unexpected-hidden-input-in-table")
                    _el = self._insert_element(token)
                    self._pop_if_current(_el)
                    return
            if tag == "form":
                self.parse_error("unexpected-form-in-table")
                if self.form is None:
                    self.form = _el = self._insert_element(token)
                    self._pop_if_current(_el)
                return
        if tt == "EndTag":
            tag = token[1]
            if tag == "table":
                if not self._in_scope("table", SCOPE_TABLE):
                    self.parse_error("unexpected-end-table")
                    return
                self._pop_until("table")
                self._reset_insertion_mode()
                return
            if tag == "template":
                self._mode_dispatch(token, "in-head")
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "tbody",
                       "td", "tfoot", "th", "thead", "tr"):
                self.parse_error("unexpected-end-tag-in-table")
                return
        if tt == "EOF":
            self._mode_dispatch(token, "in-body")
            return
        # anything else: foster parenting enabled
        self.parse_error("unexpected-token-in-table")
        self._in_body_with_foster(token)

    def _in_body_with_foster(self, token: tuple) -> None:
        # spec: enable foster parenting, process via in-body rules, disable.
        self.foster_parenting = True
        try:
            self._mode_dispatch(token, "in-body")
        finally:
            self.foster_parenting = False

    def _mode_in_table_text(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            if "\0" in data:
                self.parse_error("unexpected-null-character")
                data = data.replace("\0", "")
            if data:
                self.pending_table_chars.append(data)
            return
        pending = "".join(self.pending_table_chars)
        self.pending_table_chars = []
        if pending:
            if _is_ws(pending):
                # whitespace-only fast path (HTMLParser.m:1435-1446)
                self._insert_text(pending)
            else:
                self.parse_error("non-space-in-table-text")
                # foster-parent via in-body rules
                self.foster_parenting = True
                try:
                    self._reconstruct_formatting()
                    self._insert_text(pending)
                finally:
                    self.foster_parenting = False
                self.frameset_ok = False
        self.mode = self.original_mode
        self.reprocess(token)

    def _mode_in_caption(self, token: tuple) -> None:
        tt = token[0]
        if tt == "EndTag" and token[1] == "caption":
            if not self._in_scope("caption", SCOPE_TABLE):
                self.parse_error("unexpected-end-caption")
                return
            self._generate_implied_end_tags()
            if self.current_node().tag != "caption":
                self.parse_error("unexpected-end-caption")
            self._pop_until("caption")
            self._clear_formatting_to_marker()
            self.mode = "in-table"
            return
        if (tt == "StartTag" and token[1] in (
            "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
            "thead", "tr"
        )) or (tt == "EndTag" and token[1] == "table"):
            if not self._in_scope("caption", SCOPE_TABLE):
                self.parse_error("unexpected-table-element-in-caption")
                return
            self._generate_implied_end_tags()
            self._pop_until("caption")
            self._clear_formatting_to_marker()
            self.mode = "in-table"
            self.reprocess(token)
            return
        if tt == "EndTag" and token[1] in (
            "body", "col", "colgroup", "html", "tbody", "td", "tfoot", "th",
            "thead", "tr"
        ):
            self.parse_error("unexpected-end-tag-in-caption")
            return
        self._mode_dispatch(token, "in-body")

    def _mode_in_column_group(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            i = 0
            while i < len(data) and data[i] in _WS_SET:
                i += 1
            if i:
                self._insert_text(data[:i])
            if i == len(data):
                return
            token = ("Character", data[i:])
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag == "col":
                _el = self._insert_element(token)
                self._pop_if_current(_el)
                return
            if tag == "template":
                self._mode_dispatch(token, "in-head")
                return
        if tt == "EndTag":
            if token[1] == "template":
                self._mode_dispatch(token, "in-head")
                return
            if token[1] == "colgroup":
                if self.current_node().tag != "colgroup":
                    self.parse_error("unexpected-end-colgroup")
                    return
                self.open_elements.pop()
                self.mode = "in-table"
                return
            if token[1] == "col":
                self.parse_error("unexpected-end-col")
                return
        if tt == "EOF":
            self._mode_dispatch(token, "in-body")
            return
        if self.current_node().tag != "colgroup":
            self.parse_error("unexpected-token-in-colgroup")
            return
        self.open_elements.pop()
        self.reprocess(token, "in-table")

    def _mode_in_table_body(self, token: tuple) -> None:
        tt = token[0]
        if tt == "StartTag":
            tag = token[1]
            if tag == "tr":
                self._clear_stack_to(_TBODY_CONTEXT)
                self._insert_element(token)
                self.mode = "in-row"
                return
            if tag in ("th", "td"):
                self.parse_error("unexpected-cell-in-table-body")
                self._clear_stack_to(_TBODY_CONTEXT)
                self._insert_element_named("tr")
                self.reprocess(token, "in-row")
                return
            if tag in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                if not self._in_scope(("tbody", "thead", "tfoot"), SCOPE_TABLE):
                    self.parse_error("unexpected-table-part")
                    return
                self._clear_stack_to(_TBODY_CONTEXT)
                self.open_elements.pop()
                self.reprocess(token, "in-table")
                return
        if tt == "EndTag":
            tag = token[1]
            if tag in ("tbody", "tfoot", "thead"):
                if not self._in_scope(tag, SCOPE_TABLE):
                    self.parse_error("unexpected-end-table-body")
                    return
                self._clear_stack_to(_TBODY_CONTEXT)
                self.open_elements.pop()
                self.mode = "in-table"
                return
            if tag == "table":
                if not self._in_scope(("tbody", "thead", "tfoot"), SCOPE_TABLE):
                    self.parse_error("unexpected-end-table")
                    return
                self._clear_stack_to(_TBODY_CONTEXT)
                self.open_elements.pop()
                self.reprocess(token, "in-table")
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "td",
                       "th", "tr"):
                self.parse_error("unexpected-end-tag-in-table-body")
                return
        self._mode_dispatch(token, "in-table")

    def _mode_in_row(self, token: tuple) -> None:
        tt = token[0]
        if tt == "StartTag":
            tag = token[1]
            if tag in ("th", "td"):
                self._clear_stack_to(_TR_CONTEXT)
                self._insert_element(token)
                self.mode = "in-cell"
                self.active_formatting.append(MARKER)
                return
            if tag in ("caption", "col", "colgroup", "tbody", "tfoot",
                       "thead", "tr"):
                if not self._in_scope("tr", SCOPE_TABLE):
                    self.parse_error("unexpected-table-part-in-row")
                    return
                self._clear_stack_to(_TR_CONTEXT)
                self.open_elements.pop()
                self.reprocess(token, "in-table-body")
                return
        if tt == "EndTag":
            tag = token[1]
            if tag == "tr":
                if not self._in_scope("tr", SCOPE_TABLE):
                    self.parse_error("unexpected-end-tr")
                    return
                self._clear_stack_to(_TR_CONTEXT)
                self.open_elements.pop()
                self.mode = "in-table-body"
                return
            if tag == "table":
                if not self._in_scope("tr", SCOPE_TABLE):
                    self.parse_error("unexpected-end-table-in-row")
                    return
                self._clear_stack_to(_TR_CONTEXT)
                self.open_elements.pop()
                self.reprocess(token, "in-table-body")
                return
            if tag in ("tbody", "tfoot", "thead"):
                if not self._in_scope(tag, SCOPE_TABLE):
                    self.parse_error("unexpected-end-table-body-in-row")
                    return
                if not self._in_scope("tr", SCOPE_TABLE):
                    return
                self._clear_stack_to(_TR_CONTEXT)
                self.open_elements.pop()
                self.reprocess(token, "in-table-body")
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "td", "th"):
                self.parse_error("unexpected-end-tag-in-row")
                return
        self._mode_dispatch(token, "in-table")

    def _mode_in_cell(self, token: tuple) -> None:
        tt = token[0]
        if tt == "EndTag":
            tag = token[1]
            if tag in ("td", "th"):
                if not self._in_scope(tag, SCOPE_TABLE):
                    self.parse_error("unexpected-end-cell")
                    return
                self._generate_implied_end_tags()
                if self.current_node().tag != tag:
                    self.parse_error("unexpected-end-cell")
                self._pop_until(tag)
                self._clear_formatting_to_marker()
                self.mode = "in-row"
                return
            if tag in ("body", "caption", "col", "colgroup", "html"):
                self.parse_error("unexpected-end-tag-in-cell")
                return
            if tag in ("table", "tbody", "tfoot", "thead", "tr"):
                if not self._in_scope(tag, SCOPE_TABLE):
                    self.parse_error("unexpected-end-tag-in-cell")
                    return
                self._close_cell()
                self.reprocess(token)
                return
        if tt == "StartTag" and token[1] in (
            "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
            "thead", "tr"
        ):
            if not self._in_scope(("td", "th"), SCOPE_TABLE):
                self.parse_error("unexpected-table-part-in-cell")
                return
            self._close_cell()
            self.reprocess(token)
            return
        self._mode_dispatch(token, "in-body")

    def _close_cell(self) -> None:
        """close-the-cell (HTMLParser.m in-cell helpers)."""
        if self._in_scope("td", SCOPE_TABLE):
            self._in_cell_end(("EndTag", "td", [], False))
        else:
            self._in_cell_end(("EndTag", "th", [], False))

    def _in_cell_end(self, token: tuple) -> None:
        self._mode_dispatch(token, "in-cell")

    # -------------------------------------------------------- select

    def _mode_in_select(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            if "\0" in data:
                self.parse_error("unexpected-null-character")
                data = data.replace("\0", "")
            self._insert_text(data)
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag == "option":
                if self.current_node().tag == "option":
                    self.open_elements.pop()
                self._insert_element(token)
                return
            if tag == "optgroup":
                if self.current_node().tag == "option":
                    self.open_elements.pop()
                if self.current_node().tag == "optgroup":
                    self.open_elements.pop()
                self._insert_element(token)
                return
            if tag == "select":
                self.parse_error("unexpected-select-in-select")
                if self._in_select_scope("select"):
                    self._pop_until("select")
                    self._reset_insertion_mode()
                return
            if tag in ("input", "keygen", "textarea"):
                self.parse_error("unexpected-input-in-select")
                if not self._in_select_scope("select"):
                    return
                self._pop_until("select")
                self._reset_insertion_mode()
                self.reprocess(token)
                return
            if tag in ("script", "template"):
                self._mode_dispatch(token, "in-head")
                return
        if tt == "EndTag":
            tag = token[1]
            if tag == "optgroup":
                if (
                    self.current_node().tag == "option"
                    and len(self.open_elements) >= 2
                    and self.open_elements[-2].tag == "optgroup"
                ):
                    self.open_elements.pop()
                if self.current_node().tag == "optgroup":
                    self.open_elements.pop()
                else:
                    self.parse_error("unexpected-end-optgroup")
                return
            if tag == "option":
                if self.current_node().tag == "option":
                    self.open_elements.pop()
                else:
                    self.parse_error("unexpected-end-option")
                return
            if tag == "select":
                if not self._in_select_scope("select"):
                    self.parse_error("unexpected-end-select")
                    return
                self._pop_until("select")
                self._reset_insertion_mode()
                return
            if tag == "template":
                self._mode_dispatch(token, "in-head")
                return
        if tt == "EOF":
            self._mode_dispatch(token, "in-body")
            return
        self.parse_error("unexpected-token-in-select")

    def _mode_in_select_in_table(self, token: tuple) -> None:
        tt = token[0]
        if tt == "StartTag" and token[1] in (
            "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"
        ):
            self.parse_error("unexpected-table-element-in-select")
            self._pop_until("select")
            self._reset_insertion_mode()
            self.reprocess(token)
            return
        if tt == "EndTag" and token[1] in (
            "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"
        ):
            self.parse_error("unexpected-table-end-in-select")
            if self._in_scope(token[1], SCOPE_TABLE):
                self._pop_until("select")
                self._reset_insertion_mode()
                self.reprocess(token)
            return
        self._mode_dispatch(token, "in-select")

    # ------------------------------------------------ after body etc.

    def _mode_after_body(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character" and _is_ws(token[1]):
            self._mode_dispatch(token, "in-body")
            return
        if tt == "Comment":
            self._insert_comment(token, self.open_elements[0])
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag" and token[1] == "html":
            self._mode_dispatch(token, "in-body")
            return
        if tt == "EndTag" and token[1] == "html":
            if self.fragment_context is not None:
                self.parse_error("end-html-in-fragment")
                return
            self.mode = "after-after-body"
            return
        if tt == "EOF":
            self.done = True
            return
        self.parse_error("unexpected-token-after-body")
        self.reprocess(token, "in-body")

    def _mode_in_frameset(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = "".join(c for c in token[1] if c in _WS_SET)
            if data:
                self._insert_text(data)
            if data != token[1]:
                self.parse_error("unexpected-char-in-frameset")
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype")
            return
        if tt == "StartTag":
            tag = token[1]
            if tag == "html":
                self._mode_dispatch(token, "in-body")
                return
            if tag == "frameset":
                self._insert_element(token)
                return
            if tag == "frame":
                _el = self._insert_element(token)
                self._pop_if_current(_el)
                return
            if tag == "noframes":
                self._mode_dispatch(token, "in-head")
                return
        if tt == "EndTag" and token[1] == "frameset":
            if self.current_node().tag == "html":
                self.parse_error("unexpected-end-frameset")
                return
            self.open_elements.pop()
            if (
                self.fragment_context is None
                and self.current_node().tag != "frameset"
            ):
                self.mode = "after-frameset"
            return
        if tt == "EOF":
            if self.current_node().tag != "html":
                self.parse_error("eof-in-frameset")
            self.done = True
            return
        self.parse_error("unexpected-token-in-frameset")

    def _mode_after_frameset(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = "".join(c for c in token[1] if c in _WS_SET)
            if data:
                self._insert_text(data)
            if data != token[1]:
                self.parse_error("unexpected-char-after-frameset")
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "StartTag" and token[1] == "html":
            self._mode_dispatch(token, "in-body")
            return
        if tt == "StartTag" and token[1] == "noframes":
            self._mode_dispatch(token, "in-head")
            return
        if tt == "EndTag" and token[1] == "html":
            self.mode = "after-after-frameset"
            return
        if tt == "EOF":
            self.done = True
            return
        self.parse_error("unexpected-token-after-frameset")

    def _mode_after_after_body(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Comment":
            self._insert_comment(token, self.document)
            return
        if tt == "DOCTYPE" or (tt == "Character" and _is_ws(token[1])) or (
            tt == "StartTag" and token[1] == "html"
        ):
            self._mode_dispatch(token, "in-body")
            return
        if tt == "EOF":
            self.done = True
            return
        self.parse_error("unexpected-token-after-after-body")
        self.reprocess(token, "in-body")

    def _mode_after_after_frameset(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Comment":
            self._insert_comment(token, self.document)
            return
        if tt == "Character":
            # per-char rule: ws chars process via in-body, non-ws are
            # errors and dropped — a mixed run keeps its ws (T12 split)
            data = "".join(c for c in token[1] if c in _WS_SET)
            if data:
                self._mode_dispatch(("Character", data), "in-body")
            if data != token[1]:
                self.parse_error("unexpected-token-after-after-frameset")
            return
        if tt == "DOCTYPE" or (tt == "StartTag" and token[1] == "html"):
            self._mode_dispatch(token, "in-body")
            return
        if tt == "StartTag" and token[1] == "noframes":
            self._mode_dispatch(token, "in-head")
            return
        if tt == "EOF":
            self.done = True
            return
        self.parse_error("unexpected-token-after-after-frameset")

    # ------------------------------------------------ foreign content

    def _adjust_foreign_token(self, token: tuple, ns: int) -> tuple:
        """MathML/SVG attribute & tag-name fixes (HTMLParser.m:2252-2467)."""
        tag = token[1]
        if ns == NS_SVG:
            tag = SVG_TAG_FIXES.get(tag, tag)
        attrs = []
        for k, v in token[2]:
            if ns == NS_MATHML:
                k = MATHML_ATTR_FIX.get(k, k)
            elif ns == NS_SVG:
                k = SVG_ATTR_FIXES.get(k, k)
            if k in FOREIGN_ATTR_FIXES:
                # keep qualified name textually; flat DOM stores strings
                pass
            attrs.append((k, v))
        return ("StartTag", tag, attrs, token[3])

    def _foreign_content(self, token: tuple) -> None:
        tt = token[0]
        if tt == "Character":
            data = token[1]
            if "\0" in data:
                self.parse_error("unexpected-null-character")
                data = data.replace("\0", "�")
            self._insert_text(data)
            if not _is_ws(data.replace("�", "x")):
                self.frameset_ok = False
            return
        if tt == "Comment":
            self._insert_comment(token)
            return
        if tt == "DOCTYPE":
            self.parse_error("unexpected-doctype-in-foreign")
            return
        if tt == "StartTag":
            tag = token[1]
            is_breakout = tag in BREAKOUT or (
                tag == "font"
                and any(k in ("color", "face", "size") for k, _ in token[2])
            )
            if is_breakout:
                self.parse_error("unexpected-html-element-in-foreign")
                while True:
                    node = self.current_node()
                    if (
                        node.ns == NS_HTML
                        or node.tag in MATHML_TEXT_INTEGRATION and node.ns == NS_MATHML
                        or self._is_html_integration_point(node)
                        or len(self.open_elements) <= 1
                    ):
                        break
                    self.open_elements.pop()
                self.process_token(token)
                return
            acn = self.adjusted_current_node()
            ns = acn.ns
            tok = self._adjust_foreign_token(token, ns)
            _el = self._insert_element(tok, ns)
            if token[3]:
                self._pop_if_current(_el)
            return
        if tt == "EndTag":
            # foreign 'any other end tag' walk (HTMLParser.m:2430-2467)
            tag = token[1]
            stack = self.open_elements
            node = stack[-1]
            if node.tag.lower() != tag:
                self.parse_error("unexpected-end-tag-in-foreign")
            i = len(stack) - 1
            while True:
                if i == 0:
                    return
                if node.tag.lower() == tag:
                    del stack[i:]
                    return
                i -= 1
                node = stack[i]
                if node.ns == NS_HTML:
                    self._mode_dispatch(token, self.mode)
                    return


# every tag with a dedicated in-body start branch; misses take the
# any-other fast path at the top of _in_body_start_tag
_IN_BODY_SPECIAL_START = frozenset(
    ["html", "body", "frameset", "form", "li", "dd", "dt", "plaintext",
     "button", "a", "table", "input", "hr", "image", "textarea", "xmp",
     "iframe", "noembed", "noscript", "menuitem", "select", "optgroup",
     "option", "rb", "rtc", "rp", "rt", "math", "svg", "pre", "listing",
     "area", "br", "embed", "img", "keygen", "wbr", "param", "source",
     "track", "base", "basefont", "bgsound", "link", "meta", "noframes",
     "script", "style", "template", "title", "caption", "col", "colgroup",
     "frame",
     "head", "tbody", "td", "tfoot", "th", "thead", "tr", "applet",
     "marquee", "object"]
) | P_CLOSERS | HEADINGS | FORMATTING

# start tags the scaffold fast path must NOT shortcut past the head modes:
# html/head/body/frameset restructure the scaffold itself, the rest are
# head-resident (in-head / after-head intercept them)
_SCAFFOLD_SKIP = frozenset(
    "html head body frameset base basefont bgsound link meta title "
    "noscript noframes style script template".split()
)

# formatting tags the fused loop opens inline: plain reconstruct + insert +
# AFE push ('a' needs the open-a scan, 'nobr' the nobr-in-scope check)
_TURBO_FMT_SIMPLE = FORMATTING - frozenset(["a", "nobr"])

# raw-text fusion: states the fused content scan handles, and the
# per-tag compiled end-tag patterns it searches with
_RAW_FUSE_STATES = frozenset([tz.RCDATA, tz.RAWTEXT, tz.SCRIPT_DATA])
_RAW_END_RE: dict[str, re.Pattern] = {}


def _has_open_a(af) -> bool:
    """True if an <a> is in the active formatting list after the last
    marker (the in-body 'a' start-tag precondition)."""
    for e in reversed(af):
        if e is MARKER:
            return False
        if e[0].tag == "a" and e[0].ns == NS_HTML:
            return True
    return False


# End tags the fused loop may NOT reduce to a single pop even when the
# current node matches: body/html switch modes, form clears the pointer,
# br re-enters as a start tag, applet/marquee/object clear the formatting
# list to a marker, and formatting tags take the adoption agency.
_TURBO_END_SKIP = frozenset(
    ["body", "html", "form", "br", "applet", "marquee", "object",
     "template"]
) | FORMATTING

# in-cell additionally delegates every table-part end tag (cell close,
# AFE-marker clearing, mode switch back to in-row)
_TURBO_END_SKIP_CELL = _TURBO_END_SKIP | frozenset(
    "caption col colgroup table tbody td tfoot th thead tr".split()
)

_MODES = {
    "initial": TreeBuilder._mode_initial,
    "before-html": TreeBuilder._mode_before_html,
    "before-head": TreeBuilder._mode_before_head,
    "in-head": TreeBuilder._mode_in_head,
    "in-head-noscript": TreeBuilder._mode_in_head_noscript,
    "in-template": TreeBuilder._mode_in_template,
    "after-head": TreeBuilder._mode_after_head,
    "in-body": TreeBuilder._mode_in_body,
    "text": TreeBuilder._mode_text,
    "in-table": TreeBuilder._mode_in_table,
    "in-table-text": TreeBuilder._mode_in_table_text,
    "in-caption": TreeBuilder._mode_in_caption,
    "in-column-group": TreeBuilder._mode_in_column_group,
    "in-table-body": TreeBuilder._mode_in_table_body,
    "in-row": TreeBuilder._mode_in_row,
    "in-cell": TreeBuilder._mode_in_cell,
    "in-select": TreeBuilder._mode_in_select,
    "in-select-in-table": TreeBuilder._mode_in_select_in_table,
    "after-body": TreeBuilder._mode_after_body,
    "in-frameset": TreeBuilder._mode_in_frameset,
    "after-frameset": TreeBuilder._mode_after_frameset,
    "after-after-body": TreeBuilder._mode_after_after_body,
    "after-after-frameset": TreeBuilder._mode_after_after_frameset,
}


def parse(
    text: str, collect_errors: bool = True, use_turbo: bool = True,
    _fold=None,
) -> TreeBuilder:
    """Parse a complete HTML document. Returns the TreeBuilder (document at
    ``.document``, quirks at ``.quirks``, errors at ``.errors``).
    ``_fold`` is the extraction mode (see :class:`TreeBuilder`)."""
    tb = TreeBuilder(text, collect_errors=collect_errors, use_turbo=use_turbo,
                     _fold=_fold)
    tb.run()
    return tb


_FRAGMENT_NS = {"svg": NS_SVG, "math": NS_MATHML}


def parse_fragment(
    text: str, context: str = "body", collect_errors: bool = True,
    use_turbo: bool = True, errors: Optional[list] = None, _fold=None,
) -> list[Node]:
    """Fragment parsing algorithm (HTMLParser.m:71-150).

    ``context`` may be "tag" or "svg tag" / "math tag" (html5lib format).
    Returns the list of parsed child nodes (parents detached). An
    ``errors`` list receives the parse-error codes; the tree is the same.
    ``_fold`` is the extraction mode (see :class:`TreeBuilder`).
    """
    ns = NS_HTML
    tag = context
    if " " in context:
        prefix, tag = context.split(" ", 1)
        ns = _FRAGMENT_NS.get(prefix, NS_HTML)
    tb = TreeBuilder(text, fragment_context=(ns, tag),
                     collect_errors=collect_errors or errors is not None,
                     use_turbo=use_turbo, _fold=_fold)
    tb.run()
    if errors is not None:
        errors += tb.errors
        errors += tb.tokenizer.errors
    children = tb.fragment_children()
    for child in children:
        child.parent = None
    return children
