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

    input              worker                            output       size
    (doc_id, spans)    pipeline.extract_with_metrics_df  EXTRACTED    chars
    (doc_id, payload)  pdf.pdf_parsed_df (PDF blobs)     PDF_PARSED   bytes

It writes, under ``--output``:

    chunk=<c>/                 docs hashing into chunk c, one wave at a time
    stragglers/                docs over --straggler-chars (always written)
    _manifest/chunk-<c>.json   one entry per committed chunk
    _manifest/stragglers.json  the straggler pass's entry

Each wave deals its documents over ``--partitions`` tasks in one exchange
(``ChunkedRun.deal``) and writes the worker's output from those tasks.
The straggler pass runs on a second thread beside the waves, with the
caller's Spark local properties (job group, scheduler pool): started
first, its giants get cores first under the FIFO scheduler and the waves'
tasks fill the rest. ``main`` returns or raises only once both sides
have finished; a side that fails records no manifest entry, so a re-run
redoes only the work that did not commit.

The files hold the worker's output, no ``chunk`` column; a PDF that fails
to parse is a row with empty spans and ``err`` set. Read them with
``ChunkedRun(spark, <output>).output_df()`` (``spark.read.parquet`` fails
once ``stragglers/`` exists). ``--metrics-output`` (every column but
spans) and, for PDFs, ``<output>_pdf_errors`` (doc_id, err) are
projections of the files. A re-run resumes from the manifest and parses
nothing. ``--checkpoint`` is ignored (the manifest is ``<output>/_manifest``).
"""

from __future__ import annotations

import argparse
import json
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
                    help="tasks per wave and for the straggler pass "
                    "(default: the session's cores)")
    ap.add_argument("--metrics-output", default=None)
    ap.add_argument("--straggler-chars", type=int, default=1_000_000,
                    help="docs above this size (text chars, or payload "
                    "bytes for PDFs) route to the straggler pass")
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "iceberg"))
    args = ap.parse_args(argv)

    from pyspark import InheritableThread
    from pyspark.sql import SparkSession, functions as F

    from sparkhtml.spark import schemas
    from sparkhtml.spark.checkpoint import ChunkedRun, footer_rows
    from sparkhtml.spark.partitioning import straggler_split

    # under spark-submit the session/master/executors come from the submit
    # conf; we only set analysis-level options here
    spark = SparkSession.builder.appName("sparkhtml-extract").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    if args.format == "iceberg":
        docs = spark.read.format("iceberg").load(args.input)
    else:
        docs = spark.read.parquet(args.input)

    # the input columns pick the worker, its schema and the size column
    is_pdf = "payload" in docs.columns and "spans" not in docs.columns
    if is_pdf:
        from sparkhtml.spark.pdf import pdf_parsed_df as worker
        size, schema = F.length("payload"), schemas.PDF_PARSED
    else:
        from sparkhtml.spark.pipeline import extract_with_metrics_df as worker
        size, schema = None, schemas.EXTRACTED

    normal, stragglers = straggler_split(docs, args.straggler_chars, size)

    t0 = time.time()
    run = ChunkedRun(spark, args.output, n_chunks=args.chunks,
                     partitions=args.partitions)
    done = run.entry("stragglers")
    side: dict = {}

    def straggler_pass():
        # stragglers: few docs, maximum spread. repartition(n) deals them
        # out ROUND-ROBIN (docs from several input partitions can share a
        # task); repartition(n, "doc_id") would hash and clump
        # ~ln n / ln ln n docs into one (3.4 s -> 1.8 s at 12 giants;
        # BENCH/run_skew_experiment.py at commit 97d7ad8). Always written
        # (no stragglers: a schema-only file), counted by its footers,
        # skipped on resume by its manifest entry.
        try:
            worker(stragglers.repartition(run.partitions)).write \
                .mode("overwrite").parquet(run.stragglers_dir)
            side["done"] = {"status": "ok",
                            "n_stragglers": footer_rows(run.stragglers_dir)}
            run.record("stragglers", **side["done"])
        except BaseException as exc:  # re-raised by main after the waves
            side["error"] = exc

    thread = None
    if done is None:
        thread = InheritableThread(target=straggler_pass)
        thread.start()
    try:
        summary = run.run(normal, worker)
    finally:
        if thread is not None:
            thread.join()
    if "error" in side:
        raise side["error"]
    done = done or side["done"]
    if is_pdf:
        run.output_df(schema).filter(F.col("err").isNotNull()) \
            .select("doc_id", "err").write.mode("overwrite") \
            .parquet(args.output.rstrip("/") + "_pdf_errors")
    if args.metrics_output:
        run.output_df(schema).drop("spans").write.mode("overwrite") \
            .parquet(args.metrics_output)
    summary["n_stragglers"] = done["n_stragglers"]
    summary["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
