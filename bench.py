"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "extraction_docs_per_sec", "value": N, "unit": "sec"-keyed
     query timings, "queries": {...}, "sf": ...}

The headline metric is the north rule's: extraction throughput (docs/sec)
over the interleaved corpus. Scaling efficiency (local[N] vs local[4N],
of the spark-submit job) lives in BENCH/run_scaling.py → BENCH/SCALING.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from sparkhtml.spark.session import get_spark
    from sparkhtml.spark.pipeline import extract_spans_df, parse_nodes_df
    from sparkhtml.spark.queries import css_select_df
    from sparkhtml.spark import links as _links
    from sparkhtml.spark import textstats as _textstats
    from sparkhtml.spark.dedup import minhash_lsh_pairs
    from sparkhtml.spark.pdf import pdf_extract_df
    from sparkhtml.spark.similarity import cosine_topk_vs
    from sparkhtml.spark.textstats import quality_features

    spark = get_spark(app_name="sparkhtml-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    interleaved = entry._interleaved(spark, sf_dir)
    interleaved.cache().count()  # isolate parse cost from scan cost

    # q2/q3 inputs. The two html frames must have DISTINCT plans: Spark's
    # cache manager matches by logical plan, so if q2 reused the q3 plan it
    # would be served from q3's cache and time ~0 (r3 regression).
    html_df = docs.select(
        "doc_id",
        F.concat(
            F.lit('<div class="wrap" data-q="2"><p id="main">'), F.col("text"),
            F.lit('</p><a href="/l">link</a></div>'),
        ).alias("html"),
    )
    html_df_q3 = docs.select(
        "doc_id",
        F.concat(
            F.lit('<div class="wrap"><p id="main">'), F.col("text"),
            F.lit('</p><a href="/l">link</a></div>'),
        ).alias("html"),
    )
    nodes = parse_nodes_df(html_df)
    nodes_cached = parse_nodes_df(html_df_q3).cache()
    nodes_cached.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # Query vector stays IN the plan (broadcast 1-row frame) — no driver
    # .first() job at build time; dogfoods cosine_topk_vs (r4 VERDICT #6).
    qdf = emb.orderBy("vec_id").limit(1)

    def noop_write(df):
        df.write.format("noop").mode("overwrite").save()

    # q9 input: deterministic PDF blobs rendered ONCE outside timing (the
    # writer is test scaffolding; the operator under measure is the
    # parse+layout side). ~120 words/doc wrapped over real lines, image
    # XObject every 3rd doc.
    def _render_pdfs(batches):
        import re as _re

        import pandas as pd

        from sparkhtml.spark.pdf import build_pdf

        for b in batches:
            out = []
            for i, text in zip(b["doc_id"].tolist(), b["text"].tolist()):
                words = _re.sub(r"[^ -~]", " ", text or "").split()[:120]
                items = [("text", " ".join(words[:60]))]
                if int(i) % 3 == 0:
                    items.append(("image",))
                if words[60:]:
                    items.append(("text", " ".join(words[60:])))
                out.append((str(i), bytearray(build_pdf([items]))))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    # repartition(cpus): the docs scan is 1 row group → 1 split (the
    # SCALE.md §2 pitfall); at ~2-4 ms/doc PDF parse is compute-heavy
    # enough that task parallelism wins 10x (A/B: 11.1 s @1 part,
    # 1.07 s @32, 2.1 s @128 — per-task overhead dominates past ~cpus).
    pdf_blobs = docs.select("doc_id", "text").repartition(cpus).mapInPandas(
        _render_pdfs, "doc_id string, payload binary").cache()
    pdf_blobs.count()

    queries = {
        # q1: the north-rule pipeline — parse+classify+re-emit every span
        "q1_extract_spans": lambda: noop_write(extract_spans_df(interleaved)),
        # q2: flattened-DOM materialization (parse → nodes explode)
        "q2_parse_nodes": lambda: noop_write(nodes),
        # q3: selector-as-DataFrame plan over a materialized nodes table
        "q3_css_child_plan": lambda: css_select_df(
            nodes_cached, "div.wrap > p#main"
        ).count(),
        # q4: MinHash LSH dedup end-to-end
        "q4_minhash_dedup": lambda: minhash_lsh_pairs(docs, min_agree=0.9).count(),
        # q5: brute-force cosine top-k over embeddings
        "q5_cosine_topk": lambda: cosine_topk_vs(emb, qdf, 10).collect(),
        # q6: JVM-side text-quality features
        "q6_quality_features": lambda: noop_write(quality_features(docs)),
        # q7: link-graph extraction off the (cached) nodes table — the
        # one-parse-serves-all reuse path
        "q7_extract_links": lambda: noop_write(
            _links.extract_links_df(nodes_cached)
        ),
        # q8: zero-shuffle corpus hygiene pass
        "q8_text_cleanup": lambda: noop_write(_textstats.text_cleanup(docs)),
        # q9 (ADDED round 6): PDF tier — parse + layout + span assembly
        # over pre-rendered blobs. Additive; q1-q8 call sites untouched.
        "q9_pdf_extract": lambda: noop_write(pdf_extract_df(pdf_blobs)),
    }

    # INTERLEAVED best-of-N (VERDICT r2 "wrong" #4): round-robin the whole
    # query set per rep so slow box drift hits every query equally, then
    # take the per-query minimum.
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for rep in range(reps):
        for name, thunk in queries.items():
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            if rep == 0:
                cold[name] = round(dt, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    timings = {k: round(v, 3) for k, v in timings.items()}

    docs_per_sec = round(n_docs / timings["q1_extract_spans"], 2)
    print(
        json.dumps(
            {
                "metric": "extraction_docs_per_sec",
                "value": docs_per_sec,
                "unit": "sec",
                "queries": timings,
                "queries_cold_rep1": cold,
                "sf": sf,
                "n_docs": n_docs,
                "cpus": cpus,
                "reps": reps,
                "protocol": "interleaved-best-of-reps",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
