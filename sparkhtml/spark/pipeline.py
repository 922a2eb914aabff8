"""The extraction pipeline: Arrow-batched mapInArrow stages + scalar UDFs.

This is the Spark realization of the reference's entry points
(HTMLDocument.m:12-44 → HTMLParser.m:3331-3347), at the reference's own
granularity — one parser per document — amortized over Arrow batches
(SURVEY.md §3.2 "Spark mapping"). No per-row Python UDFs anywhere; every
stage is ``mapInArrow`` or an Array→Array ``arrow_udf``.

Each nested-struct stage has exactly one worker and runs RecordBatch-
native: the ``array<struct>`` span/attr columns are read straight off the
Arrow child buffers and rebuilt with ``ListArray.from_arrays`` — no pandas
materialization of list-of-dict rows in either direction, which the round-4
doc-scale measurement identified as the dominant proportional overhead
(~20% of bytes-pumped cost at realistic doc sizes). The differential
oracle is the pure-Python core (``extract_spans``, ``doc_metrics``,
``FlatDOM``), which ``tests/test_spark.py`` compares row for row.

Stages:

    documents_interleaved --extract_with_metrics_df--> spans + metrics,
        one parse per text span; two column projections of it:
        extract_spans_df (spans_out, north rule), extract_metrics_df
    documents_interleaved --parse_nodes_df----> nodes (flattened DOM table)
    any html column       --html_text_content-> textContent (X2)
    any html column       --css_multi_count_udf-> match count per selector
    any string column     --html_escape, html_unescape-> X8/X9
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType

from ..dom import FlatDOM
from ..escape import escape_array, unescape_array
from ..extract import ParseCounts, extract_main_text
from ..selector import CompiledSelector
from . import schemas
from .partitioning import fan_out

# Arrow layouts of the hand-built output batches, derived from schemas.py.
_EXTRACTED_SCHEMA = schemas.to_arrow(schemas.EXTRACTED)
_SPAN_FIELDS = list(_EXTRACTED_SCHEMA.field("spans").type.value_type)
_METRIC_NAMES = schemas.EXTRACT_METRICS.fieldNames()[1:]  # after doc_id
_NODES_SCHEMA = schemas.to_arrow(schemas.NODES)
_ATTR_FIELDS = list(_NODES_SCHEMA.field("attrs").type.value_type)


def _flat_spans(batch: pa.RecordBatch):
    """Read an Arrow list<struct> spans column as flat python columns.

    Returns (lengths, kinds, texts, media_refs, offsets) where ``lengths``
    is per-row span counts (0 for null rows) and the rest are the
    flattened child columns, slice-aware (``flatten()`` re-bases any
    parent-array slice offset, unlike ``.values``).
    """
    spans = batch.column("spans")
    flat = spans.flatten()  # drops any values behind null rows
    return (
        pc.list_value_length(spans).fill_null(0).to_pylist(),
        flat.field("kind").to_pylist(),
        flat.field("text").to_pylist(),
        flat.field("media_ref").to_pylist(),
        flat.field("offset").to_pylist(),
    )


def _span_list_array(out_kind, out_text, out_ref, out_off, list_offsets):
    struct = pa.StructArray.from_arrays(
        [
            pa.array(out_kind, pa.string()),
            pa.array(out_text, pa.string()),
            pa.array(out_ref, pa.string()),
            pa.array(out_off, pa.int32()),
        ],
        fields=_SPAN_FIELDS,
    )
    return pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)


# ------------------------------------------------------------------ spans


def _extract_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: RecordBatch-native ``extract_spans`` plus the
    per-document metrics, which a ``ParseCounts`` takes from the same parses.

    Same spans as :func:`sparkhtml.extract.extract_spans` (the pure
    oracle, parity-tested), but evaluated over the flattened Arrow child
    columns — no list-of-dict rows are ever built, and the output
    list<struct> is assembled directly from flat arrays.
    """
    for batch in batches:
        lengths, kinds, texts, refs, offs = _flat_spans(batch)
        out_kind: list = []
        out_text: list = []
        out_ref: list = []
        out_off: list = []
        list_offsets = [0]
        metrics: list = [[] for _ in _METRIC_NAMES]
        lo = 0
        for n in lengths:
            hi = lo + n
            order = sorted(
                range(lo, hi),
                key=lambda j: offs[j] if offs[j] is not None else 0,
            )
            counts = ParseCounts()
            n_media = 0
            for j in order:
                k = kinds[j]
                if k == "media":
                    n_media += 1
                    out_kind.append("media")
                    out_text.append(None)
                    out_ref.append(refs[j])
                    out_off.append(offs[j])
                elif k == "text":
                    extracted = extract_main_text(texts[j] or "",
                                                  counts=counts)
                    if extracted:
                        out_kind.append("text")
                        out_text.append(extracted)
                        out_ref.append(None)
                        out_off.append(offs[j])
            row = (n, len(out_kind) - list_offsets[-1], n_media,  # as named
                   counts.n_nodes, counts.n_kept_words, counts.n_words,
                   counts.n_errors, counts.max_depth)
            for col, v in zip(metrics, row):
                col.append(v)
            list_offsets.append(len(out_kind))
            lo = hi
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                _span_list_array(out_kind, out_text, out_ref, out_off,
                                 list_offsets),
            ]
            + [pa.array(col, pa.int32()) for col in metrics],
            schema=_EXTRACTED_SCHEMA,
        )


def extract_with_metrics_df(documents: DataFrame) -> DataFrame:
    """Interleaved docs → each document's spans and metrics (``EXTRACTED``).

    Column pruning: only (doc_id, spans) enter the exchange; callers can
    carry extra columns by joining back on doc_id (cheaper than shipping
    them through Python).
    """
    src = fan_out(documents.select("doc_id", "spans"))
    return src.mapInArrow(_extract_arrow, schema=schemas.EXTRACTED)


def extract_spans_df(documents: DataFrame) -> DataFrame:
    """The north-rule pipeline: interleaved docs → main-content spans
    (``spans_out``), a projection of :func:`extract_with_metrics_df`."""
    return extract_with_metrics_df(documents).select(
        *schemas.SPANS_OUT.fieldNames())


def extract_metrics_df(documents: DataFrame) -> DataFrame:
    """Per-document metrics table (lineage layer, SURVEY.md §4.3), a
    projection of :func:`extract_with_metrics_df`."""
    return extract_with_metrics_df(documents).select(
        *schemas.EXTRACT_METRICS.fieldNames())


# ------------------------------------------------------------------ nodes


def _parse_nodes_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: html → flattened nodes, RecordBatch-native.

    ``FlatDOM`` is already columnar (parallel python lists), so the Arrow
    batch is a straight concat of those lists; the ``attrs``
    list<struct<name,value>> is built from flat name/value columns +
    offsets instead of per-node dict lists (the pandas-path cost).
    """
    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        htmls = batch.column("html").to_pylist()
        c_doc: list = []
        c_nid: list = []
        c_parent: list = []
        c_depth: list = []
        c_order: list = []
        c_kind: list = []
        c_tag: list = []
        c_ns: list = []
        c_text: list = []
        c_subtree: list = []
        attr_names: list = []
        attr_values: list = []
        attr_offsets = [0]
        for doc_id, html in zip(doc_ids, htmls):
            dom = FlatDOM.from_html(html or "")
            n = len(dom)
            c_doc.extend([doc_id] * n)
            c_nid.extend(range(n))
            c_parent.extend(dom.parent)
            c_depth.extend(dom.depth)
            c_order.extend(dom.order)
            c_kind.extend(dom.kind)
            c_tag.extend(dom.tag)
            c_ns.extend(dom.ns)
            c_text.extend(dom.text)
            c_subtree.extend(dom.subtree)
            for a in dom.attrs:
                for k, v in a:
                    attr_names.append(k)
                    attr_values.append(v)
                attr_offsets.append(len(attr_names))
        attrs = pa.ListArray.from_arrays(
            pa.array(attr_offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(attr_names, pa.string()),
                 pa.array(attr_values, pa.string())],
                fields=_ATTR_FIELDS,
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(c_doc, pa.string()),
                pa.array(c_nid, pa.int32()),
                pa.array(c_parent, pa.int32()),
                pa.array(c_depth, pa.int32()),
                pa.array(c_order, pa.int32()),
                pa.array(c_kind, pa.int8()),
                pa.array(c_tag, pa.string()),
                pa.array(c_ns, pa.int8()),
                attrs,
                pa.array(c_text, pa.string()),
                pa.array(c_subtree, pa.int32()),
            ],
            schema=_NODES_SCHEMA,
        )


def parse_nodes_df(df: DataFrame, html_col: str = "html",
                   id_col: str = "doc_id") -> DataFrame:
    """html string column → exploded ``nodes`` table (one row per DOM node).

    This is the flattened-DOM table of SURVEY.md §1.1; selector plans from
    :mod:`sparkhtml.spark.queries` run over it with joins/windows.
    """
    # keyed fan_out: hash-partitioning by doc_id spreads as evenly as
    # round-robin (unique key) without round-robin's local
    # sort-before-repartition, and keeps same-document rows co-located
    # for any DIRECT consumer clustered on (doc_id, ...). (A cached AQE
    # plan does not propagate the partitioning — see fan_out's note.)
    src = fan_out(df.select(F.col(id_col).cast("string").alias("doc_id"),
                            F.col(html_col).alias("html")), key="doc_id")
    return src.mapInArrow(_parse_nodes_arrow, schema=schemas.NODES)


# ------------------------------------------------------------ scalar UDFs
# Arrow-batched column functions (ArrowEvalPython, never per-row Python).
# A null input row maps to the result for "".


@arrow_udf(StringType())
def html_escape(s: pa.Array) -> pa.Array:
    return escape_array(s)


@arrow_udf(StringType())
def html_unescape(s: pa.Array) -> pa.Array:
    return unescape_array(s)


@arrow_udf(StringType())
def html_text_content(s: pa.Array) -> pa.Array:
    """textContent of the whole document (X2 at document level)."""
    return pa.array([FlatDOM.from_html(h or "").text_content(0)
                     for h in s.to_pylist()], pa.string())


def css_multi_count_udf(selectors: list[str]):
    """Parse each document ONCE, evaluate k selectors over the same flat
    DOM — operator fusion for multi-selector workloads (vs k parses with
    k single-selector UDFs). Returns array<int> aligned with ``selectors``."""
    for sel in selectors:  # fail fast at definition, not on executors
        CompiledSelector(sel)

    @arrow_udf(ArrayType(IntegerType()))
    def _multi(s: pa.Array) -> pa.Array:
        compiled = [CompiledSelector(sel) for sel in selectors]
        counts = []
        for html in s.to_pylist():
            dom = FlatDOM.from_html(html or "")
            counts.append([len(cs.match_ids(dom)) for cs in compiled])
        return pa.array(counts, pa.list_(pa.int32()))

    return _multi
