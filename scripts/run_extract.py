"""spark-submit entry point for the extraction pipeline.

    # package the library once
    python scripts/make_pyfiles.py            # → dist/sparkhtml.zip

    # local or cluster run (the north rule's submission shape)
    spark-submit --py-files dist/sparkhtml.zip scripts/run_extract.py \
        --input  <path or iceberg table of (doc_id, spans|payload)> \
        --output <output dir> \
        --chunks 256 --partitions 2048 [--metrics-output <dir>]

Reads the documents table (parquet path, or an Iceberg table name when a
catalog is configured) and parses each document once, by the worker its
columns pick (output in ``schemas``):

    input              worker                            output
    (doc_id, spans)    pipeline.extract_with_metrics_df  EXTRACTED
    (doc_id, payload)  pdf.pdf_parsed_df (PDF blobs)     PDF_PARSED

It writes, under ``--output``:

    chunk=<c>/                 docs hashing into chunk c, one wave at a time
    _manifest/chunk-<c>.json   one entry per committed chunk

Each wave deals its documents over ``--partitions`` tasks in one exchange
(``ChunkedRun.deal``) and writes the worker's output from those tasks.
Giant documents go through their wave like every other document: the
deal's doc_id hash spreads them over the wave's tasks (SCALE.md §4.1).
A wave that fails records no manifest entry, so a re-run redoes only the
chunks that did not commit.

The files hold the worker's output, no ``chunk`` column; a PDF that fails
to parse is a row with empty spans and ``err`` set. Read them with
``spark.read.parquet(<output>)`` (which adds ``chunk``) or
``ChunkedRun(spark, <output>).output_df()``. ``--metrics-output`` (every
column but spans) and, for PDFs, ``<output>_pdf_errors`` (doc_id, err)
are projections of the files. A re-run resumes from the manifest and
parses nothing. An output written by the earlier two-pass job (it holds
``stragglers/`` or ``_manifest/stragglers.json``) is refused before any
Spark job: resuming it would skip its completed chunks and never read its
giants again. ``--checkpoint`` and ``--straggler-chars`` are ignored, and
the summary's ``n_stragglers`` (rows committed outside ``chunk=``
directories) is always 0.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint",
                    help="ignored; the manifest is always <output>/_manifest")
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--partitions", type=int, default=None,
                    help="tasks per wave (default: the session's cores)")
    ap.add_argument("--metrics-output", default=None)
    ap.add_argument("--straggler-chars",
                    help="ignored; giants go through their wave like every "
                    "other document")
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "iceberg"))
    args = ap.parse_args(argv)
    for old in ("stragglers", os.path.join("_manifest", "stragglers.json")):
        path = os.path.join(args.output, old)
        if os.path.exists(path):
            ap.error(f"{path} is from the two-pass job; a resume would never "
                     "read its giants again, so write to a new --output")

    from pyspark.sql import SparkSession, functions as F

    from sparkhtml.spark import schemas
    from sparkhtml.spark.checkpoint import ChunkedRun

    # under spark-submit the session/master/executors come from the submit
    # conf; we only set analysis-level options here
    spark = SparkSession.builder.appName("sparkhtml-extract").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    if args.format == "iceberg":
        docs = spark.read.format("iceberg").load(args.input)
    else:
        docs = spark.read.parquet(args.input)

    # the input columns pick the worker and its schema
    is_pdf = "payload" in docs.columns and "spans" not in docs.columns
    if is_pdf:
        from sparkhtml.spark.pdf import pdf_parsed_df as worker
        schema = schemas.PDF_PARSED
    else:
        from sparkhtml.spark.pipeline import extract_with_metrics_df as worker
        schema = schemas.EXTRACTED

    t0 = time.time()
    run = ChunkedRun(spark, args.output, n_chunks=args.chunks,
                     partitions=args.partitions)
    summary = run.run(docs, worker)
    if is_pdf:
        run.output_df(schema).filter(F.col("err").isNotNull()) \
            .select("doc_id", "err").write.mode("overwrite") \
            .parquet(args.output.rstrip("/") + "_pdf_errors")
    if args.metrics_output:
        run.output_df(schema).drop("spans").write.mode("overwrite") \
            .parquet(args.metrics_output)
    summary["n_stragglers"] = 0
    summary["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
