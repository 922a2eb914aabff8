"""CSS Selectors Level 3 — parser + matcher over the flattened DOM.

Reference parity: /root/reference/Sources/HTMLSelector.m —
tokenizer/escapes (:569-723), compound scan (:727-804), groups (:806-852),
combinators (:108-136,211-237), attribute operators (:158-207,694-712),
structural pseudo-classes (:241-304,400-524), HTML-semantics pseudos
(:318-396), nth-expression parser (:966-1005), error reporting with
position (:18-41).

Architecture (SURVEY.md §2.4): the selector string is compiled **once**
(driver-side or per-UDF-process) into an AST; matching evaluates boolean
masks over a :class:`~sparkhtml.dom.FlatDOM` — combinators become
parent-pointer joins / sibling-rank windows instead of the reference's
per-node closure DFS (HTMLSelector.m:925-952). The same AST also compiles
to Spark Column expressions over an exploded ``nodes`` DataFrame in
:mod:`sparkhtml.spark.queries`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from .dom import FlatDOM
from .treebuilder import ELEMENT, NS_HTML, TEXT


class SelectorError(ValueError):
    """Parse error carrying the input and failure position
    (HTMLSelector.m:18-41)."""

    def __init__(self, message: str, source: str, position: int) -> None:
        super().__init__(f"{message} at {position} in {source!r}")
        self.source = source
        self.position = position


# ------------------------------------------------------------------ AST

@dataclass
class Simple:
    """One simple selector within a compound."""
    kind: str  # type|universal|id|class|attr|pseudo|not
    name: str = ""
    operator: str = ""          # attr: '' | = | ~= | ^= | $= | *= | |=
    value: str = ""
    nth: Optional[tuple[int, int]] = None  # (a, b) for nth-*
    inner: Optional["SelectorGroup"] = None  # :not(...)


@dataclass
class Compound:
    simples: list[Simple] = field(default_factory=list)


@dataclass
class Complex:
    """Compounds joined by combinators, right-to-left significant.

    combinators[i] joins compounds[i] (ancestor side) to compounds[i+1]:
    ' ' descendant, '>' child, '+' adjacent, '~' general sibling.
    """
    compounds: list[Compound] = field(default_factory=list)
    combinators: list[str] = field(default_factory=list)


@dataclass
class SelectorGroup:
    complexes: list[Complex] = field(default_factory=list)


# ------------------------------------------------------------ tokenizer

_RE_IDENT_CHAR = re.compile(r"[a-zA-Z0-9_\--\U0010FFFF]")
_RE_WS = re.compile(r"[ \t\n\r\f]+")
_HEX = set("0123456789abcdefABCDEF")


def _parse_ident(s: str, i: int) -> tuple[str, int]:
    """CSS identifier with escapes (HTMLSelector.m:569-668): ``\\`` +
    up-to-6 hex digits (+ optional ws) or ``\\`` + literal char; invalid
    code points → U+FFFD."""
    out = []
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            i += 1
            if i >= n:
                out.append("�")
                break
            if s[i] in _HEX:
                j = i
                while j < n and j - i < 6 and s[j] in _HEX:
                    j += 1
                cp = int(s[i:j], 16)
                if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
                    out.append("�")
                else:
                    out.append(chr(cp))
                i = j
                if i < n and s[i] in " \t\n\r\f":
                    i += 1
            else:
                out.append(s[i])
                i += 1
        elif _RE_IDENT_CHAR.match(c):
            out.append(c)
            i += 1
        else:
            break
    return "".join(out), i


class _Scanner:
    def __init__(self, source: str) -> None:
        self.s = source
        self.i = 0
        self.n = len(source)

    def error(self, msg: str) -> SelectorError:
        return SelectorError(msg, self.s, self.i)

    def skip_ws(self) -> bool:
        m = _RE_WS.match(self.s, self.i)
        if m:
            self.i = m.end()
            return True
        return False

    def peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    def ident(self) -> str:
        name, j = _parse_ident(self.s, self.i)
        if j == self.i:
            raise self.error("expected identifier")
        self.i = j
        return name

    def string_or_ident(self) -> str:
        c = self.peek()
        if c and c in "\"'":
            quote = c
            i = self.i + 1
            out = []
            while i < self.n:
                ch = self.s[i]
                if ch == quote:
                    self.i = i + 1
                    return "".join(out)
                if ch == "\\":
                    sub, i2 = _parse_ident(self.s, i)
                    if i2 > i:
                        out.append(sub)
                        i = i2
                        continue
                    i += 1
                    if i < self.n:
                        out.append(self.s[i])
                        i += 1
                    continue
                out.append(ch)
                i += 1
            self.i = i
            raise self.error("unterminated string")
        return self.ident()


_NTH_RE = re.compile(
    r"""\s*(?:
        (?P<odd>odd) |
        (?P<even>even) |
        (?P<full>(?P<sign_a>[+-]?)(?P<a>\d*)[nN]\s*(?:(?P<sign_b>[+-])\s*(?P<b>\d+))?) |
        (?P<const>[+-]?\d+)
    )\s*$""",
    re.VERBOSE,
)


def parse_nth(expr: str) -> tuple[int, int]:
    """nth-expression parser (HTMLSelector.m:966-1005): odd/even/an+b/b."""
    m = _NTH_RE.match(expr)
    if not m:
        raise SelectorError("invalid nth expression", expr, 0)
    if m.group("odd"):
        return (2, 1)
    if m.group("even"):
        return (2, 0)
    if m.group("const") is not None:
        return (0, int(m.group("const")))
    a_digits = m.group("a")
    a = int(a_digits) if a_digits else 1
    if m.group("sign_a") == "-":
        a = -a
    b = int(m.group("b")) if m.group("b") else 0
    if m.group("sign_b") == "-":
        b = -b
    return (a, b)


_PSEUDO_NO_ARG = frozenset(
    """first-child last-child only-child first-of-type last-of-type
    only-of-type empty root link enabled disabled checked visited active
    hover focus""".split()
)
_PSEUDO_NTH = frozenset(
    "nth-child nth-last-child nth-of-type nth-last-of-type".split()
)


def parse_selector(source: str) -> SelectorGroup:
    """Parse a selector group (HTMLSelector.m:806-852)."""
    sc = _Scanner(source)
    group = SelectorGroup()
    while True:
        cx = _parse_complex(sc)
        group.complexes.append(cx)
        sc.skip_ws()
        if sc.peek() == ",":
            sc.i += 1
            sc.skip_ws()
            continue
        if sc.i < sc.n:
            raise sc.error("unexpected trailing input")
        return group


def _parse_complex(sc: _Scanner) -> Complex:
    cx = Complex()
    sc.skip_ws()
    cx.compounds.append(_parse_compound(sc))
    while True:
        had_ws = sc.skip_ws()
        c = sc.peek()
        if c and c in ">+~":
            sc.i += 1
            sc.skip_ws()
            cx.combinators.append(c)
            cx.compounds.append(_parse_compound(sc))
        elif had_ws and c and c != ",":
            cx.combinators.append(" ")
            cx.compounds.append(_parse_compound(sc))
        else:
            return cx


def _parse_compound(sc: _Scanner) -> Compound:
    comp = Compound()
    c = sc.peek()
    if not c:
        raise sc.error("expected selector")
    if c == "*":
        sc.i += 1
        comp.simples.append(Simple("universal"))
    elif c not in ".#[:":
        if c.isdigit():
            raise sc.error("type selector cannot start with a digit")
        comp.simples.append(Simple("type", name=sc.ident().lower()))
    while True:
        c = sc.peek()
        if c == ".":
            sc.i += 1
            comp.simples.append(Simple("class", name=sc.ident()))
        elif c == "#":
            sc.i += 1
            comp.simples.append(Simple("id", name=sc.ident()))
        elif c == "[":
            sc.i += 1
            sc.skip_ws()
            name = sc.ident().lower()
            sc.skip_ws()
            c2 = sc.peek()
            if c2 == "]":
                sc.i += 1
                comp.simples.append(Simple("attr", name=name))
                continue
            op = ""
            if c2 and c2 in "~^$*|":
                op = c2 + "="
                if sc.i + 1 >= sc.n or sc.s[sc.i + 1] != "=":
                    raise sc.error("expected '='")
                sc.i += 2
            elif c2 == "=":
                op = "="
                sc.i += 1
            else:
                raise sc.error("expected attribute operator")
            sc.skip_ws()
            value = sc.string_or_ident()
            sc.skip_ws()
            if sc.peek() != "]":
                raise sc.error("expected ']'")
            sc.i += 1
            comp.simples.append(Simple("attr", name=name, operator=op, value=value))
        elif c == ":":
            sc.i += 1
            if sc.peek() == ":":
                raise sc.error("pseudo-elements unsupported")
            name = sc.ident().lower()
            if name in _PSEUDO_NO_ARG:
                comp.simples.append(Simple("pseudo", name=name))
            elif name in _PSEUDO_NTH:
                if sc.peek() != "(":
                    raise sc.error("expected '('")
                j = sc.s.find(")", sc.i)
                if j == -1:
                    raise sc.error("expected ')'")
                nth = parse_nth(sc.s[sc.i + 1 : j])
                sc.i = j + 1
                comp.simples.append(Simple("pseudo", name=name, nth=nth))
            elif name == "not":
                if sc.peek() != "(":
                    raise sc.error("expected '('")
                # balanced-paren scan (extended :not — any selector, like the
                # reference, HTMLSelector.m:43-50)
                depth = 0
                j = sc.i
                while j < sc.n:
                    if sc.s[j] == "(":
                        depth += 1
                    elif sc.s[j] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                if j >= sc.n:
                    raise sc.error("expected ')'")
                inner = parse_selector(sc.s[sc.i + 1 : j])
                sc.i = j + 1
                comp.simples.append(Simple("not", inner=inner))
            else:
                raise sc.error(f"unknown pseudo-class :{name}")
        else:
            if not comp.simples:
                raise sc.error("expected selector")
            return comp


# ------------------------------------------------------------- matcher

_WS_SPLIT = re.compile(r"[ \t\n\r\f]+")


class CompiledSelector:
    """Selector compiled once, reused across documents
    (HTMLSelector.m:871-882 cached-parse parity)."""

    def __init__(self, source: str) -> None:
        self.source = source
        self.group = parse_selector(source)

    # matching over a FlatDOM ------------------------------------------

    def match_mask(self, dom: FlatDOM) -> list[bool]:
        """Boolean mask over all node ids (True only for elements)."""
        n = len(dom)
        mask = [False] * n
        for cx in self.group.complexes:
            cm = _match_complex(dom, cx)
            for i in range(n):
                if cm[i]:
                    mask[i] = True
        return mask

    def match_ids(self, dom: FlatDOM) -> list[int]:
        """nodesMatchingSelector (HTMLSelector.m:915-938): tree order ==
        ascending node_id."""
        mask = self.match_mask(dom)
        return [i for i, m in enumerate(mask) if m]

    def first_id(self, dom: FlatDOM) -> Optional[int]:
        """firstNodeMatchingSelector (HTMLSelector.m:940-952)."""
        ids = self.match_ids(dom)
        return ids[0] if ids else None


def _elements_mask(dom: FlatDOM) -> list[bool]:
    return [k == ELEMENT for k in dom.kind]


def _match_complex(dom: FlatDOM, cx: Complex) -> list[bool]:
    """Left-to-right accumulation: the running mask after step k holds the
    nodes matching compound k that have a valid *ordered* chain through
    compounds 0..k-1. (Round-5 fix: the old right-to-left loop kept the
    mask anchored at the rightmost compound, so ≥2-combinator chains like
    ``form>div>div`` tested every leftward constraint against the same
    rightmost nodes — intermediate links were never required to connect,
    and descendant chains ignored ancestor ordering.)"""
    mask = _match_compound(dom, cx.compounds[0])
    for k in range(len(cx.combinators)):
        right = _match_compound(dom, cx.compounds[k + 1])
        mask = _apply_combinator(dom, mask, cx.combinators[k], right)
    return mask


def _apply_combinator(
    dom: FlatDOM, left: list[bool], comb: str, right: list[bool]
) -> list[bool]:
    n = len(dom)
    out = [False] * n
    parent = dom.parent
    kind = dom.kind
    if comb == ">":
        for i in range(n):
            if right[i]:
                p = parent[i]
                if p >= 0 and left[p]:
                    out[i] = True
    elif comb == " ":
        # ancestor-bit propagation down the pre-order array (Q6):
        # anc_ok[i] = left[i] or anc_ok[parent[i]] — one forward pass,
        # because parents always precede children in pre-order.
        anc_ok = [False] * n
        for i in range(n):
            p = parent[i]
            if p >= 0 and (left[p] or anc_ok[p]):
                anc_ok[i] = True
        for i in range(n):
            if right[i] and anc_ok[i]:
                out[i] = True
    elif comb == "+":
        # previous element sibling (lag window, Q8)
        for i in range(n):
            if not right[i]:
                continue
            p = parent[i]
            if p < 0:
                continue
            prev = None
            for c in dom.children_of(p):
                if c == i:
                    break
                if kind[c] == ELEMENT:
                    prev = c
            if prev is not None and left[prev]:
                out[i] = True
    elif comb == "~":
        # any earlier element sibling (running-max window, Q9)
        for i in range(n):
            if not right[i]:
                continue
            p = parent[i]
            if p < 0:
                continue
            for c in dom.children_of(p):
                if c == i:
                    break
                if kind[c] == ELEMENT and left[c]:
                    out[i] = True
                    break
    return out


def _match_compound(dom: FlatDOM, comp: Compound) -> list[bool]:
    mask = _elements_mask(dom)
    for simple in comp.simples:
        sm = _match_simple(dom, simple)
        mask = [a and b for a, b in zip(mask, sm)]
    return mask


def _nth_mask(dom: FlatDOM, nth: tuple[int, int], from_end: bool,
              of_type: bool) -> list[bool]:
    """Rank arithmetic ``(pos - b) % a == 0`` over sibling ranks (Q10/Q11,
    HTMLSelector.m:241-304)."""
    a, b = nth
    n = len(dom)
    out = [False] * n
    kind, tag, ns = dom.kind, dom.tag, dom.ns
    for i in range(n):
        if kind[i] != ELEMENT:
            continue
        p = dom.parent[i]
        if p < 0:
            continue
        sibs = [
            c for c in dom.children_of(p)
            if kind[c] == ELEMENT
            and (not of_type or (tag[c] == tag[i] and ns[c] == ns[i]))
        ]
        pos = (len(sibs) - sibs.index(i)) if from_end else (sibs.index(i) + 1)
        if a == 0:
            out[i] = pos == b
        else:
            d = pos - b
            out[i] = d % a == 0 and d // a >= 0
    return out


def _attr_match(dom: FlatDOM, i: int, s: Simple) -> bool:
    v = dom.get_attr(i, s.name)
    if v is None:
        return False
    op = s.operator
    if op == "":
        return True
    val = s.value
    if op == "=":
        return v == val
    if op == "~=":
        return val in _WS_SPLIT.split(v) if val else False
    if op == "^=":
        return bool(val) and v.startswith(val)
    if op == "$=":
        return bool(val) and v.endswith(val)
    if op == "*=":
        return bool(val) and val in v
    if op == "|=":
        return v == val or v.startswith(val + "-")
    return False


def _match_simple(dom: FlatDOM, s: Simple) -> list[bool]:
    n = len(dom)
    kind, tag = dom.kind, dom.tag
    k = s.kind
    if k == "universal":
        return _elements_mask(dom)
    if k == "type":
        return [
            kind[i] == ELEMENT and (tag[i] or "").lower() == s.name
            for i in range(n)
        ]
    if k == "id":
        return [
            kind[i] == ELEMENT and dom.get_attr(i, "id") == s.name
            for i in range(n)
        ]
    if k == "class":
        return [
            kind[i] == ELEMENT and dom.has_class(i, s.name) for i in range(n)
        ]
    if k == "attr":
        return [
            kind[i] == ELEMENT and _attr_match(dom, i, s) for i in range(n)
        ]
    if k == "not":
        inner_mask = [False] * n
        for cx in s.inner.complexes:
            cm = _match_complex(dom, cx)
            for i in range(n):
                if cm[i]:
                    inner_mask[i] = True
        return [
            kind[i] == ELEMENT and not inner_mask[i] for i in range(n)
        ]
    # pseudo
    name = s.name
    if name == "first-child":
        return _nth_mask(dom, (0, 1), False, False)
    if name == "last-child":
        return _nth_mask(dom, (0, 1), True, False)
    if name == "only-child":
        a = _nth_mask(dom, (0, 1), False, False)
        b = _nth_mask(dom, (0, 1), True, False)
        return [x and y for x, y in zip(a, b)]
    if name == "first-of-type":
        return _nth_mask(dom, (0, 1), False, True)
    if name == "last-of-type":
        return _nth_mask(dom, (0, 1), True, True)
    if name == "only-of-type":
        a = _nth_mask(dom, (0, 1), False, True)
        b = _nth_mask(dom, (0, 1), True, True)
        return [x and y for x, y in zip(a, b)]
    if name == "nth-child":
        return _nth_mask(dom, s.nth, False, False)
    if name == "nth-last-child":
        return _nth_mask(dom, s.nth, True, False)
    if name == "nth-of-type":
        return _nth_mask(dom, s.nth, False, True)
    if name == "nth-last-of-type":
        return _nth_mask(dom, s.nth, True, True)
    if name == "empty":
        # no element children, no non-empty text children
        # (HTMLSelector.m:138-153)
        out = [False] * n
        for i in range(n):
            if kind[i] != ELEMENT:
                continue
            ok = True
            for c in dom.children_of(i):
                if kind[c] == ELEMENT or (kind[c] == TEXT and dom.text[c]):
                    ok = False
                    break
            out[i] = ok
        return out
    if name == "root":
        # element whose parent is not an element (HTMLSelector.m:412-418)
        return [
            kind[i] == ELEMENT
            and (dom.parent[i] < 0 or kind[dom.parent[i]] != ELEMENT)
            for i in range(n)
        ]
    if name == "link":
        # a/area/link with href (HTMLSelector.m:318-330)
        return [
            kind[i] == ELEMENT
            and tag[i] in ("a", "area", "link")
            and dom.get_attr(i, "href") is not None
            for i in range(n)
        ]
    if name in ("visited", "active", "hover", "focus"):
        return [False] * n  # ≡ false (HTMLSelector.m:477-484)
    if name == "checked":
        return [
            kind[i] == ELEMENT
            and (
                (tag[i] == "input" and dom.get_attr(i, "checked") is not None)
                or (tag[i] == "option" and dom.get_attr(i, "selected") is not None)
            )
            for i in range(n)
        ]
    if name in ("enabled", "disabled"):
        dis = _disabled_mask(dom)
        if name == "disabled":
            return dis
        can = frozenset(
            ("button", "input", "select", "textarea", "optgroup", "option",
             "fieldset")
        )
        return [
            kind[i] == ELEMENT and tag[i] in can and not dis[i]
            for i in range(n)
        ]
    raise SelectorError(f"unsupported pseudo :{name}", name, 0)


def _disabled_mask(dom: FlatDOM) -> list[bool]:
    """:disabled incl. descendant-of-disabled-fieldset minus first-legend
    subtree (HTMLSelector.m:332-396)."""
    n = len(dom)
    kind, tag = dom.kind, dom.tag
    can_disable = frozenset(
        ("button", "input", "select", "textarea", "optgroup", "option",
         "fieldset")
    )
    out = [False] * n
    # direct disabled attribute
    direct = [
        kind[i] == ELEMENT
        and tag[i] in can_disable
        and dom.get_attr(i, "disabled") is not None
        for i in range(n)
    ]
    # fieldset propagation: form controls inside a disabled fieldset are
    # disabled unless inside that fieldset's *first legend*.
    controls = frozenset(("button", "input", "select", "textarea"))
    in_disabled_fieldset = [False] * n
    for i in range(n):
        if kind[i] == ELEMENT and tag[i] == "fieldset" and direct[i]:
            legend_range = None
            for c in dom.children_of(i):
                if kind[c] == ELEMENT and tag[c] == "legend":
                    legend_range = (c, dom.subtree[c])
                    break
            for j in range(i + 1, dom.subtree[i]):
                if legend_range and legend_range[0] <= j < legend_range[1]:
                    continue
                in_disabled_fieldset[j] = True
    for i in range(n):
        if direct[i]:
            out[i] = True
        elif kind[i] == ELEMENT and tag[i] in controls and in_disabled_fieldset[i]:
            out[i] = True
    return out


# convenience ---------------------------------------------------------------

_CACHE: dict[str, CompiledSelector] = {}


def compiled(selector: str) -> CompiledSelector:
    """``CompiledSelector(selector)`` through a per-process cache."""
    cs = _CACHE.get(selector)
    if cs is None:
        cs = CompiledSelector(selector)
        if len(_CACHE) < 4096:
            _CACHE[selector] = cs
    return cs


def select(dom: FlatDOM, selector: str) -> list[int]:
    """nodesMatchingSelector with a per-process compiled-selector cache."""
    return compiled(selector).match_ids(dom)
