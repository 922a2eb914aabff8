"""Spark schemas for the engine's tables (SURVEY.md §1.2).

``documents_interleaved`` is the north-rule input shape
(BASELINE.json ``input_hint``); ``spans_out`` is identical.
``nodes`` is the flattened DOM exploded to one row per node —
the table the selector-as-DataFrame plans run over.
"""

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_INTERLEAVED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)

SPANS_OUT = DOCUMENTS_INTERLEAVED

# attrs as array<struct> — insertion order is spec-mandated for
# serialization (HTMLOrderedDictionary parity); MapType would lose it.
ATTR = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

NODE_FIELDS = [
    T.StructField("node_id", T.IntegerType(), False),
    T.StructField("parent", T.IntegerType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("order", T.IntegerType()),
    T.StructField("kind", T.ByteType()),
    T.StructField("tag", T.StringType()),
    T.StructField("ns", T.ByteType()),
    T.StructField("attrs", T.ArrayType(ATTR)),
    T.StructField("text", T.StringType()),
    T.StructField("subtree", T.IntegerType()),
]

NODES = T.StructType(
    [T.StructField("doc_id", T.StringType(), False)] + NODE_FIELDS
)

EXTRACT_METRICS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_spans_in", T.IntegerType()),
        T.StructField("n_spans_out", T.IntegerType()),
        T.StructField("n_media", T.IntegerType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_kept_words", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
        T.StructField("max_depth", T.IntegerType()),
    ]
)

# The HTML extraction worker's output; spans_out and metrics project it.
EXTRACTED = T.StructType(SPANS_OUT.fields + EXTRACT_METRICS.fields[1:])

# The PDF worker's output (pdf.pdf_parsed_df); err is set on failed parses.
PDF_PARSED = T.StructType(
    [T.StructField("doc_id", T.StringType()), DOCUMENTS_INTERLEAVED["spans"],
     T.StructField("n_pages", T.IntegerType()),
     T.StructField("err", T.StringType())]
)


def to_arrow(schema: T.StructType):
    """The Arrow form of ``schema`` (field metadata stripped), for the
    workers that assemble their output RecordBatches by hand."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.remove_metadata() for f in to_arrow_schema(schema)])
