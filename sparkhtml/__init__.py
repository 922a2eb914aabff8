"""sparkhtml — a PySpark-native WHATWG HTML5 extraction engine.

Re-realizes the capabilities of nolanw/HTMLReader (reference at
/root/reference, public domain) as columnar, Arrow-batched dataflow:

- :mod:`sparkhtml.tokenizer`   — WHATWG HTML5 tokenizer state machine
  (reference parity: Sources/HTMLTokenizer.m, 68 states).
- :mod:`sparkhtml.treebuilder` — insertion-mode tree construction with
  adoption agency, active-formatting reconstruction, foster parenting
  (reference parity: Sources/HTMLParser.m).
- :mod:`sparkhtml.dom`         — flattened columnar DOM (node arrays)
  (reference parity: Sources/HTMLNode.m object tree, re-expressed).
- :mod:`sparkhtml.selector`    — CSS Selectors Level 3 compiler+matcher
  (reference parity: Sources/HTMLSelector.m).
- :mod:`sparkhtml.serializer`  — HTML serialization + html5lib tree dump
  (reference parity: Sources/HTMLSerialization.m).
- :mod:`sparkhtml.encoding`    — encoding sniffing / WHATWG labels
  (reference parity: Sources/HTMLEncoding.m).
- :mod:`sparkhtml.escape`      — entity escape/unescape scalar functions
  (reference parity: Sources/NSString+HTMLEntities.m).
- :mod:`sparkhtml.extract`     — main-content (boilerplate) classifier and
  interleaved span re-emission (north-rule layer; no reference analogue).
- :mod:`sparkhtml.spark`       — the Spark layer: schemas, mapInArrow
  pipeline, partitioning/skew, checkpoint manifest, selector-as-DataFrame
  plans, dedup / similarity / text-stats operators.

The core is pure Python/numpy (testable without a JVM); the Spark layer
only does batching, schemas, partitioning and planning.
"""

__version__ = "0.1.0"
