"""spark-submit entry point for the extraction pipeline.

    # package the library once
    python scripts/make_pyfiles.py            # → dist/sparkhtml.zip

    # local or cluster run (the north rule's submission shape)
    spark-submit --py-files dist/sparkhtml.zip scripts/run_extract.py \
        --input  <path or iceberg table of (doc_id, spans)> \
        --output <output dir> \
        --chunks 256 --partitions 2048 [--metrics-output <dir>]

Reads the interleaved documents table (parquet path, or an Iceberg table
name when a catalog is configured; a ``(doc_id, payload binary)`` PDF
corpus is parsed into spans first, bad blobs to ``<output>_pdf_errors``)
and extracts main content with size-salted partitioning, parsing each
text span once. It writes, under ``--output``:

    chunk=<c>/                 docs hashing into chunk c, one wave at a time
    stragglers/                docs over --straggler-chars
    _manifest/chunk-<c>.json   one entry per committed chunk
    _manifest/stragglers.json  the straggler pass's entry

Chunk and straggler files share the ``schemas.EXTRACTED`` schema: doc_id,
spans and the ``schemas.EXTRACT_METRICS`` columns (no ``chunk`` column).
Read them with ``ChunkedRun(spark, <output>).output_df()``;
``spark.read.parquet(<output>)`` fails once ``stragglers/`` exists. A
re-run resumes from the manifest and parses nothing already written.
``--metrics-output`` is a projection of the metric columns, no parse.
``--checkpoint`` is ignored: the manifest is always ``<output>/_manifest``.
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
                    help="shuffle parallelism for the balanced repartition")
    ap.add_argument("--metrics-output", default=None)
    ap.add_argument("--straggler-chars", type=int, default=1_000_000,
                    help="docs above this size route to dedicated tasks")
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "iceberg"))
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from sparkhtml.spark import schemas
    from sparkhtml.spark.checkpoint import ChunkedRun
    from sparkhtml.spark.partitioning import straggler_split, with_size_salt
    from sparkhtml.spark.pipeline import extract_with_metrics_df

    # under spark-submit the session/master/executors come from the submit
    # conf; we only set analysis-level options here
    spark = SparkSession.builder.appName("sparkhtml-extract").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    if args.format == "iceberg":
        docs = spark.read.format("iceberg").load(args.input)
    else:
        docs = spark.read.parquet(args.input)

    # format-agnostic ingest: a (doc_id, payload binary) corpus is a PDF
    # table — parse it into the SAME interleaved spans schema first, so
    # the rest of the job (salting, extraction, checkpointing, metrics)
    # is identical for HTML-span and PDF inputs
    if "payload" in docs.columns and "spans" not in docs.columns:
        from sparkhtml.spark.pdf import pdf_spans_df

        # persist: ChunkedRun's per-chunk filters sit ABOVE this Python
        # stage in the plan, so without materialization every chunk job
        # (plus the straggler pass) would re-parse the whole PDF corpus
        # (~ms/doc) from scratch
        parsed = pdf_spans_df(docs).persist()
        # error channel stays VISIBLE: malformed/encrypted blobs land only
        # in <output>_pdf_errors, not as empty documents in the output (a
        # SIBLING path: output_df reads <output>'s files as one table)
        parsed.filter(parsed.err.isNotNull()).select("doc_id", "err") \
            .write.mode("overwrite").parquet(
                args.output.rstrip("/") + "_pdf_errors")
        docs = parsed.filter(parsed.err.isNull()).select("doc_id", "spans")

    partitions = args.partitions or spark.sparkContext.defaultParallelism * 2
    normal, stragglers = straggler_split(docs, args.straggler_chars)

    def transform(df):
        salted = with_size_salt(df)
        balanced = salted.repartition(partitions, "size_bucket", "salt")
        return extract_with_metrics_df(balanced)

    t0 = time.time()
    run = ChunkedRun(spark, args.output, n_chunks=args.chunks)
    summary = run.run(normal, transform)
    # stragglers: small cardinality, maximum spread — one doc per task.
    # Plain repartition(n) is ROUND-ROBIN (exactly one per task);
    # repartition(n, "doc_id") would hash and clump ~ln n / ln ln n docs
    # into one task (measured 3.4 s -> 1.8 s at 12 giants merely from the
    # clumping; BENCH/run_skew_experiment.py at commit 97d7ad8). The
    # written pass is a manifest entry, so a resumed run skips it.
    done = run.entry("stragglers")
    if done is None:
        n_strag = stragglers.count()
        if n_strag:
            strag_out = extract_with_metrics_df(
                stragglers.repartition(n_strag))
            strag_out.write.mode("overwrite").parquet(run.stragglers_dir)
        run.record("stragglers", status="ok", n_stragglers=n_strag)
    else:
        n_strag = done["n_stragglers"]
    if args.metrics_output:
        run.output_df(schemas.EXTRACT_METRICS).write.mode("overwrite") \
            .parquet(args.metrics_output)
    summary["n_stragglers"] = n_strag
    summary["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
