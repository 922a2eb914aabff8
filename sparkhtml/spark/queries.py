"""Selector-as-DataFrame plans over the exploded ``nodes`` table.

This is the distributed realization of SURVEY.md §2.4: the same selector
AST that drives the in-UDF matcher (:mod:`sparkhtml.selector`) compiles to
Spark Column expressions + joins + windows, so Catalyst owns the physical
plan (predicate pushdown into the parquet scan of a materialized nodes
table, join strategy, AQE):

    Q1-Q5   simple selectors  → boolean Column over one row
    Q7  '>' child             → equi-join on (doc_id, parent == node_id)
    Q6  ' ' descendant        → pre-order range join
                                (doc_id equi + anc.node_id < n < anc.subtree)
    Q8  '+' adjacent sibling  → lag() over (doc_id, parent) element window
    Q9  '~' general sibling   → max() over preceding element window
    Q10/Q11 nth-child & co    → row_number()/count() windows + modulo

The reference evaluates selectors as per-node closures over a DFS
(HTMLSelector.m:925-952); this plan form is strictly more parallel and
preserves semantics (tree order == node_id order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..selector import Complex, Compound, Simple, parse_selector
from ..treebuilder import ELEMENT, TEXT


class UnsupportedSelector(ValueError):
    """Raised when a selector has no DataFrame plan. There is no UDF
    fallback: every selector the matcher supports compiles, which
    ``tests/test_plans.py::test_selector_plan_compiles_entire_feature_space``
    pins for the WebKit suite plus one probe per feature class."""


def _attr_value(name: str) -> Column:
    """Value of attribute ``name`` from the ordered attrs array (first
    occurrence wins, matching HTMLOrderedDictionary semantics)."""
    hits = F.filter("attrs", lambda a: a["name"] == F.lit(name))
    return F.when(F.size(hits) > 0, F.element_at(hits, 1)["value"])


def _attr_has(name: str) -> Column:
    return F.exists("attrs", lambda a: a["name"] == F.lit(name))


def _simple_col(s: Simple, df: DataFrame) -> Column:
    is_el = F.col("kind") == ELEMENT
    if s.kind == "universal":
        return is_el
    if s.kind == "type":
        return is_el & (F.lower(F.col("tag")) == s.name)
    if s.kind == "id":
        return is_el & (_attr_value("id") == s.name)
    if s.kind == "class":
        return is_el & F.array_contains(
            F.split(F.coalesce(_attr_value("class"), F.lit("")), r"[ \t\n\r\f]+"),
            s.name,
        )
    if s.kind == "attr":
        v = _attr_value(s.name)
        if s.operator == "":
            return is_el & v.isNotNull()
        if s.operator == "=":
            return is_el & (v == s.value)
        if s.operator == "~=":
            return is_el & F.array_contains(F.split(v, r"[ \t\n\r\f]+"), s.value)
        if s.operator == "^=":
            return is_el & v.startswith(s.value)
        if s.operator == "$=":
            return is_el & v.endswith(s.value)
        if s.operator == "*=":
            return is_el & v.contains(s.value)
        if s.operator == "|=":
            return is_el & ((v == s.value) | v.startswith(s.value + "-"))
    if s.kind == "pseudo":
        return _pseudo_col(s, df)
    if s.kind == "not":
        # column path only for a purely column-expressible single compound;
        # anything richer is handled as a post-op anti-join in _compound_df
        inner = s.inner
        if (
            len(inner.complexes) == 1
            and len(inner.complexes[0].compounds) == 1
        ):
            return is_el & ~_compound_col(inner.complexes[0].compounds[0], df)
        raise UnsupportedSelector(":not with combinators")
    raise UnsupportedSelector(s.kind)


def _pseudo_col(s: Simple, df: DataFrame) -> Column:
    """Structural pseudos as window expressions (Q10/Q11). The window runs
    over element rows only; we emulate with conditional rank arithmetic."""
    is_el = F.col("kind") == ELEMENT
    name = s.name
    w = Window.partitionBy("doc_id", "parent").orderBy("node_id")
    # rank among element siblings (non-elements get null rank)
    el_flag = F.when(is_el, 1).otherwise(0)
    rank = F.sum(el_flag).over(w)  # running count of elements up to self
    total = F.sum(el_flag).over(
        Window.partitionBy("doc_id", "parent")
    )
    if name == "first-child":
        return is_el & (rank == 1)
    if name == "last-child":
        return is_el & (rank == total)
    if name == "only-child":
        return is_el & (rank == 1) & (total == 1)
    if name in ("nth-child", "nth-last-child"):
        a, b = s.nth
        pos = rank if name == "nth-child" else (total - rank + 1)
        if a == 0:
            return is_el & (pos == b)
        d = pos - b
        return is_el & (d % a == 0) & ((d / a) >= 0)
    # of-type variants: rank among same-tag element siblings (Q11) —
    # same window keyed by (doc_id, parent, tag)
    wt = Window.partitionBy("doc_id", "parent", "tag").orderBy("node_id")
    trank = F.sum(el_flag).over(wt)
    ttotal = F.sum(el_flag).over(Window.partitionBy("doc_id", "parent", "tag"))
    if name == "first-of-type":
        return is_el & (trank == 1)
    if name == "last-of-type":
        return is_el & (trank == ttotal)
    if name == "only-of-type":
        return is_el & (ttotal == 1)
    if name in ("nth-of-type", "nth-last-of-type"):
        a, b = s.nth
        pos = trank if name == "nth-of-type" else (ttotal - trank + 1)
        if a == 0:
            return is_el & (pos == b)
        d = pos - b
        return is_el & (d % a == 0) & ((d / a) >= 0)
    if name == "root":
        return is_el & (F.col("depth") == 1)
    if name == "link":
        # a/area/link with href (HTMLSelector.m:318-330)
        return is_el & F.col("tag").isin("a", "area", "link") & _attr_has("href")
    if name in ("visited", "active", "hover", "focus"):
        return F.lit(False)  # ≡ false in a static DOM (HTMLSelector.m:477-484)
    if name == "checked":
        return is_el & (
            ((F.col("tag") == "input") & _attr_has("checked"))
            | ((F.col("tag") == "option") & _attr_has("selected"))
        )
    if name in ("empty", "enabled", "disabled"):
        # need other rows (children / ancestor fieldsets): DataFrame-level
        # post-ops in _compound_df, not row-local columns
        raise UnsupportedSelector(f":{name} (post-op)")
    raise UnsupportedSelector(f":{name} (use the in-UDF matcher)")


def _compound_col(comp: Compound, df: DataFrame) -> Column:
    col = F.col("kind") == ELEMENT
    for s in comp.simples:
        col = col & _simple_col(s, df)
    return col


# ------------------------------------------------- DataFrame-level pseudos
#
# :empty, :enabled/:disabled (fieldset propagation) and :not(<complex>)
# reference OTHER rows of the nodes table, so they compile to joins against
# derived row sets instead of row-local Columns.

_CAN_DISABLE = ("button", "input", "select", "textarea", "optgroup",
                "option", "fieldset")
_CONTROLS = ("button", "input", "select", "textarea")


def _post_empty(cur: DataFrame, nodes: DataFrame) -> DataFrame:
    """:empty — no element children, no non-empty text children
    (HTMLSelector.m:138-153): anti-join against 'affecting' child rows."""
    affecting = nodes.filter(
        (F.col("kind") == ELEMENT)
        | ((F.col("kind") == TEXT) & (F.col("text") != ""))
    ).select(
        F.col("doc_id").alias("e_doc"), F.col("parent").alias("e_parent")
    )
    return cur.join(
        affecting,
        (cur["doc_id"] == affecting["e_doc"])
        & (cur["node_id"] == affecting["e_parent"]),
        "left_anti",
    )


def _disabled_fieldset_ranges(nodes: DataFrame) -> DataFrame:
    """Subtree ranges of disabled <fieldset>s minus their first <legend>
    subtree (HTMLSelector.m:332-396 propagation rule)."""
    is_el = F.col("kind") == ELEMENT
    fs = nodes.filter(
        is_el & (F.col("tag") == "fieldset") & _attr_has("disabled")
    ).select(
        F.col("doc_id").alias("f_doc"),
        F.col("node_id").alias("f_id"),
        F.col("subtree").alias("f_sub"),
    )
    legends = nodes.filter(is_el & (F.col("tag") == "legend")).select(
        F.col("doc_id").alias("l_doc"),
        F.col("parent").alias("l_parent"),
        F.col("node_id").alias("l_id"),
        F.col("subtree").alias("l_sub"),
    )
    first_leg = legends.groupBy("l_doc", "l_parent").agg(
        F.min("l_id").alias("leg_id"),
        F.min_by("l_sub", "l_id").alias("leg_sub"),
    )
    return fs.join(
        first_leg,
        (fs["f_doc"] == first_leg["l_doc"]) & (fs["f_id"] == first_leg["l_parent"]),
        "left",
    ).select("f_doc", "f_id", "f_sub", "leg_id", "leg_sub")


def _propagation_cond(cur: DataFrame, ranges: DataFrame) -> Column:
    inside = (
        (cur["doc_id"] == ranges["f_doc"])
        & (cur["node_id"] > ranges["f_id"])
        & (cur["node_id"] < ranges["f_sub"])
    )
    outside_legend = (
        ranges["leg_id"].isNull()
        | (cur["node_id"] < ranges["leg_id"])
        | (cur["node_id"] >= ranges["leg_sub"])
    )
    return inside & outside_legend


def _post_disabled(cur: DataFrame, nodes: DataFrame) -> DataFrame:
    direct = F.col("tag").isin(*_CAN_DISABLE) & _attr_has("disabled")
    by_attr = cur.filter(direct)
    candidates = cur.filter(~direct & F.col("tag").isin(*_CONTROLS))
    ranges = _disabled_fieldset_ranges(nodes)
    propagated = candidates.join(
        ranges, _propagation_cond(candidates, ranges), "leftsemi"
    )
    return by_attr.unionByName(propagated)  # disjoint by construction


def _post_enabled(cur: DataFrame, nodes: DataFrame) -> DataFrame:
    direct = F.col("tag").isin(*_CAN_DISABLE) & _attr_has("disabled")
    base = cur.filter(F.col("tag").isin(*_CAN_DISABLE) & ~direct)
    non_controls = base.filter(~F.col("tag").isin(*_CONTROLS))
    controls = base.filter(F.col("tag").isin(*_CONTROLS))
    ranges = _disabled_fieldset_ranges(nodes)
    not_propagated = controls.join(
        ranges, _propagation_cond(controls, ranges), "left_anti"
    )
    return non_controls.unionByName(not_propagated)


def _post_not(cur: DataFrame, nodes: DataFrame, inner) -> DataFrame:
    """:not(<selector group with combinators>) — anti-join per complex."""
    for cx in inner.complexes:
        m = _complex_df(nodes, cx).select(
            F.col("doc_id").alias("n_doc"), F.col("node_id").alias("n_id")
        )
        cur = cur.join(
            m,
            (cur["doc_id"] == m["n_doc"]) & (cur["node_id"] == m["n_id"]),
            "left_anti",
        )
    return cur


def _simple_is_columnar(s: Simple) -> bool:
    if s.kind == "pseudo" and s.name in ("empty", "enabled", "disabled"):
        return False
    if s.kind == "not":
        return (
            len(s.inner.complexes) == 1
            and len(s.inner.complexes[0].compounds) == 1
            and all(
                _simple_is_columnar(x)
                for x in s.inner.complexes[0].compounds[0].simples
            )
        )
    return True


def _compound_df(nodes: DataFrame, comp: Compound) -> DataFrame:
    """Rows of ``nodes`` matching a compound: row-local simples fold into
    one Column filter; the rest become DataFrame post-ops (joins)."""
    col = F.col("kind") == ELEMENT
    post = []
    for s in comp.simples:
        if s.kind == "pseudo" and s.name == "empty":
            post.append(_post_empty)
        elif s.kind == "pseudo" and s.name == "disabled":
            post.append(_post_disabled)
        elif s.kind == "pseudo" and s.name == "enabled":
            post.append(_post_enabled)
        elif s.kind == "not" and not _simple_is_columnar(s):
            post.append(lambda cur, nd, inner=s.inner: _post_not(cur, nd, inner))
        else:
            col = col & _simple_col(s, nodes)
    cur = _filter_mask(nodes, col).select(*_MATCH_COLS)
    for op in post:
        cur = op(cur, nodes)
    return cur


_MATCH_COLS = [
    "doc_id", "node_id", "parent", "depth", "order", "kind", "tag", "ns",
    "attrs", "text", "subtree",
]


def _plan_refs(group) -> int:
    """How many times the compiled plan will reference the nodes input."""
    refs = 0
    for cx in group.complexes:
        for comp in cx.compounds:
            refs += 1
            for s in comp.simples:
                if s.kind == "not" or (
                    s.kind == "pseudo"
                    and s.name in ("empty", "enabled", "disabled")
                ):
                    refs += 1
        refs += sum(1 for c in cx.combinators if c in ("+", "~"))
    return refs


def css_select_df(
    nodes: DataFrame,
    selector: str,
    *,
    sort: str = "local",
) -> DataFrame:
    """Compile ``selector`` and return matching node rows in tree order.

    Every selector the matcher supports compiles (see module docstring);
    anything else raises :class:`UnsupportedSelector` — there is no UDF
    fallback.

    ``sort``: ``"local"`` (default) orders within partitions — free of the
    global sort exchange; ``"global"`` is total tree order across the whole
    result; ``"none"`` skips ordering entirely.

    A multi-compound selector references ``nodes`` once per compound (the
    reference scans its tree once per query, HTMLSelector.m:925-952 —
    here each reference re-executes the input plan). When the input is
    NOT a cheap re-scan (e.g. a live ``parse_nodes_df`` MapInArrow
    re-parses the corpus per reference), it is persisted for the duration
    of the query; the cache is released when the caller's DataFrame is
    garbage collected.
    """
    group = parse_selector(selector)
    if (
        _plan_refs(group) > 1
        and nodes.storageLevel.useMemory is False
        and nodes.storageLevel.useDisk is False
        and _is_expensive_scan(nodes)
    ):
        from pyspark import StorageLevel

        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    result = None
    for cx in group.complexes:
        m = _complex_df(nodes, cx)
        result = m if result is None else result.unionByName(m)
    if len(group.complexes) > 1:
        # only a selector GROUP can produce duplicates (a node matching
        # two branches); filters and leftsemi joins never duplicate rows,
        # so the single-complex path skips the dedup exchange entirely
        result = result.dropDuplicates(["doc_id", "node_id"])
    if sort == "global":
        return result.orderBy("doc_id", "node_id")
    if sort == "local":
        return result.sortWithinPartitions("doc_id", "node_id")
    return result


def _is_expensive_scan(nodes: DataFrame) -> bool:
    """True when re-executing the input plan repeats Python-side work
    (any MapIn* node or ArrowEvalPython), as a live
    parse_nodes_df does."""
    try:
        plan = nodes._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover — be conservative off-JVM
        return True
    return ("MapIn" in plan or "ArrowEvalPython" in plan
            or "PythonUDF" in plan)


def _filter_mask(nodes: DataFrame, col: Column) -> DataFrame:
    # window expressions are not allowed in WHERE: materialize the mask as
    # a column first, then filter on it
    return nodes.withColumn("_m", col).filter("_m").drop("_m")


def _complex_df(nodes: DataFrame, cx: Complex) -> DataFrame:
    """Left-to-right accumulation, mirroring ``selector._match_complex``:
    after step k, ``cur`` holds the nodes matching compound k whose chain
    through compounds 0..k-1 is fully connected *in order*. (Round-5 fix:
    the old right-to-left loop joined every leftward constraint against
    the same rightmost match set, so ≥2-combinator chains like
    ``form>div>div`` required the FINAL nodes — not the intermediate
    links — to satisfy each step, and descendant chains never enforced
    ancestor ordering. The in-UDF matcher had the identical defect, which
    is why parity tests held; truth fixtures now pin both.)"""
    cur = _compound_df(nodes, cx.compounds[0])
    for k, comb in enumerate(cx.combinators):
        right = _compound_df(nodes, cx.compounds[k + 1])
        left = cur.select(
            F.col("doc_id").alias("a_doc"),
            F.col("node_id").alias("a_id"),
            F.col("subtree").alias("a_subtree"),
        )
        if comb == ">":
            cur = right.join(
                left,
                (right["doc_id"] == left["a_doc"])
                & (right["parent"] == left["a_id"]),
                "leftsemi",
            )
        elif comb == " ":
            # pre-order range join: descendant ⟺ ancestor_id < id < subtree
            cur = right.join(
                left,
                (right["doc_id"] == left["a_doc"])
                & (right["node_id"] > left["a_id"])
                & (right["node_id"] < left["a_subtree"]),
                "leftsemi",
            )
        elif comb in ("+", "~"):
            # sibling logic needs the full sibling set: flag membership in
            # the accumulated left set over all nodes, then window
            w = Window.partitionBy("doc_id", "parent").orderBy("node_id")
            is_el = F.col("kind") == ELEMENT
            if k == 0 and all(
                _simple_is_columnar(s) for s in cx.compounds[0].simples
            ):
                # first step: the left set IS compound 0 — columnar flag
                lcol = _compound_col(cx.compounds[0], nodes)
                flagged = nodes.withColumn("_lm", F.when(lcol, 1).otherwise(0))
            else:
                # accumulated / post-op left set: flag via a join
                lm = left.select(
                    F.col("a_doc").alias("m_doc"),
                    F.col("a_id").alias("m_id"),
                    F.lit(1).alias("_lm"),
                )
                flagged = nodes.join(
                    lm,
                    (nodes["doc_id"] == lm["m_doc"])
                    & (nodes["node_id"] == lm["m_id"]),
                    "left",
                ).drop("m_doc", "m_id").fillna(0, ["_lm"])
            if comb == "+":
                # nearest preceding ELEMENT sibling is a left-match:
                # carry (last element's match flag) via last() over
                # preceding rows restricted to elements
                prev_el_match = F.last(
                    F.when(is_el, F.col("_lm")), ignorenulls=True
                ).over(w.rowsBetween(Window.unboundedPreceding, -1))
                flagged = flagged.withColumn("_ok", prev_el_match == 1)
            else:
                any_prev = F.max(F.when(is_el, F.col("_lm"))).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                )
                flagged = flagged.withColumn("_ok", any_prev == 1)
            ok = flagged.filter(F.col("_ok")).select(
                F.col("doc_id").alias("s_doc"), F.col("node_id").alias("s_id")
            )
            cur = right.join(
                ok,
                (right["doc_id"] == ok["s_doc"])
                & (right["node_id"] == ok["s_id"]),
                "leftsemi",
            )
        else:  # pragma: no cover
            raise UnsupportedSelector(comb)
    return cur


def css_count_by_tag(nodes: DataFrame) -> DataFrame:
    """Per-tag element counts — the canonical aggregate over nodes."""
    return (
        nodes.filter(F.col("kind") == ELEMENT)
        .groupBy("tag")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tag")
    )
