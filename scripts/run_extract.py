"""spark-submit entry point for the extraction pipeline.

    # package the library once
    python scripts/make_pyfiles.py            # → dist/sparkhtml.zip

    # local or cluster run (the north rule's submission shape)
    spark-submit --py-files dist/sparkhtml.zip scripts/run_extract.py \
        --input  <path or iceberg table of (doc_id, spans)> \
        --output <output dir / table> \
        --checkpoint <manifest dir> \
        --chunks 256 --partitions 2048

Reads the interleaved documents table (parquet path, or an Iceberg table
name when a catalog is configured), runs the main-content extraction with
size-salted partitioning, and writes spans_out chunk-by-chunk with one
``_manifest/`` entry per committed chunk (and one for the straggler pass),
so a re-run resumes where the last one stopped. ``--metrics-output`` adds
the per-document metrics table.
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
    ap.add_argument("--checkpoint", required=True,
                    help="manifest dir for resumable chunked writes")
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

    from sparkhtml.spark.checkpoint import ChunkedRun
    from sparkhtml.spark.partitioning import straggler_split, with_size_salt
    from sparkhtml.spark.pipeline import extract_metrics_df, extract_spans_df

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
        # (plus the straggler and metrics passes) would re-parse the
        # whole PDF corpus (~ms/doc) from scratch
        parsed = pdf_spans_df(docs).persist()
        # error channel stays VISIBLE: malformed/encrypted blobs land in
        # <output>_pdf_errors instead of masquerading as empty documents
        # (a SIBLING path — a subdir would break reading <output> as one
        # parquet table, since the error schema differs from spans)
        parsed.filter(parsed.err.isNotNull()).select("doc_id", "err") \
            .write.mode("overwrite").parquet(
                args.output.rstrip("/") + "_pdf_errors")
        # err rows live ONLY in the sibling error table — filter them out
        # of the main pipeline (round-6 ADVICE: they previously continued
        # as empty-span documents, appearing in both outputs)
        docs = parsed.filter(parsed.err.isNull()).select("doc_id", "spans")

    partitions = args.partitions or spark.sparkContext.defaultParallelism * 2
    normal, stragglers = straggler_split(docs, args.straggler_chars)

    def transform(df):
        salted = with_size_salt(df)
        balanced = salted.repartition(partitions, "size_bucket", "salt")
        return extract_spans_df(balanced)

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
            strag_out = extract_spans_df(stragglers.repartition(n_strag))
            strag_out.write.mode("overwrite").parquet(
                args.output.rstrip("/") + "/stragglers"
            )
        run.record("stragglers", status="ok", n_stragglers=n_strag)
    else:
        n_strag = done["n_stragglers"]
    if args.metrics_output:
        extract_metrics_df(docs).write.mode("overwrite").parquet(
            args.metrics_output
        )
    summary["n_stragglers"] = n_strag
    summary["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
