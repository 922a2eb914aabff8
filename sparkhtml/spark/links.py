"""Link-graph extraction over the flattened-DOM nodes table.

Web-pipeline layer: the crawl/link-graph side of a training-data
pipeline — anchor extraction (href + visible anchor text) and URL
normalization for link-level dedup. Both are pure DataFrame operators:
anchors come out of the SAME ``parse_nodes_df`` table the selector
engine queries (one parse serves both), the anchor text is a pre-order
range join (``node_id < t.node_id < subtree`` — the Q6 descendant
machinery) with an order-preserving array_sort aggregation, and URL
normalization is JVM ``regexp_replace`` algebra. No extra Python, no
extra parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..treebuilder import ELEMENT, NS_HTML, TEXT


def extract_links_df(nodes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """nodes table → one row per ``<a href>`` anchor:
    ``(doc_id, node_id, href, anchor_text)``.

    anchor_text is the concatenated text of descendant text nodes in
    document order (pre-order range scan over the flattened DOM —
    exactly how ``textContent`` reads off the columnar layout).
    Anchors with no href attribute are dropped (link-graph semantics).
    Shape at scale: the join is an equi-join on doc_id with a range
    predicate inside the document — co-partitioned by the parse stage,
    no cross-document traffic.
    """
    href = F.try_element_at(
        F.filter("attrs", lambda a: a["name"] == "href"), F.lit(1)
    )["value"]
    anchors = (
        nodes.filter(
            (F.col("kind") == ELEMENT)
            & (F.col("tag") == "a")
            & (F.col("ns") == NS_HTML)
        )
        .select(
            F.col(id_col),
            F.col("node_id"),
            F.col("subtree"),
            href.alias("href"),
        )
        .filter(F.col("href").isNotNull())
    )
    texts = nodes.filter(F.col("kind") == TEXT).select(
        F.col(id_col).alias("_t_doc"),
        F.col("node_id").alias("_tid"),
        F.col("text").alias("_ttext"),
    )
    # range predicate in the JOIN condition so text-less anchors survive
    # the left join (and emit anchor_text = '')
    joined = anchors.join(
        texts,
        (anchors[id_col] == texts["_t_doc"])
        & (F.col("_tid") > anchors["node_id"])
        & (F.col("_tid") < anchors["subtree"]),
        "left",
    )
    return (
        joined.groupBy(id_col, "node_id", "href")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_tid", "_ttext"))
                    ),
                    lambda s: s["_ttext"],
                ),
                "",
            ).alias("anchor_text")
        )
    )


def normalize_url(col) -> Column:
    """Crawl-style URL normalization for link-level dedup:

    - scheme and host lowercased (path case preserved)
    - default ports stripped (``:80`` http, ``:443`` https)
    - fragment stripped
    - trailing ``?`` stripped
    - trailing slash on a bare host normalized away

    Pure JVM regexp algebra; the DuckDB oracle runs the same regexes in
    RE2 — both engines agree byte-for-byte.
    """
    c = F.col(col) if isinstance(col, str) else col
    # lowercase scheme://host[:port] prefix only
    head = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(c, F.length(head) + F.lit(1), F.lit(1 << 30))
    lowered = F.concat(F.lower(head), rest)
    no_frag = F.regexp_replace(lowered, r"#.*$", "")
    no_port = F.regexp_replace(
        no_frag, r"^(http://[^/?#]*):80(?=[/?#]|$)", r"$1"
    )
    no_port = F.regexp_replace(
        no_port, r"^(https://[^/?#]*):443(?=[/?#]|$)", r"$1"
    )
    no_q = F.regexp_replace(no_port, r"\?$", "")
    return F.regexp_replace(
        no_q, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)/$", r"$1"
    )
