"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship north-rule pipeline (interleaved docs →
main-content spans) at sf0.001. ``queries()``/``oracle_sql()`` expose the
engine's operators over the driver's parquet tables with DuckDB-checkable
oracles wherever the expected result is SQL-expressible.

Oracle design note: HTML parsing itself is not SQL-expressible, so the
parse-family queries construct HTML *from* the documents table with
SQL-expressible builders (wrap text in known markup) and assert the parse
pipeline inverts them (textContent == original text, media refs pass
through, tag counts == known structure). That exercises the real
tokenizer → tree builder → extractor end-to-end against an honest oracle.
LSH-family ops whose hashes DuckDB can't reproduce are rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the generated documents.parquet is a single row group, so
    # without an explicit exchange every downstream stage (and anything
    # cached from this frame) is pinned to ONE task (guide §2.5 /
    # SCALE.md row-group pitfall; no-op for real multi-split inputs and
    # for the tiny correctness SFs). Hash by doc_id: unique key, even
    # spread, no round-robin pre-sort. Value-neutral — the correctness
    # gate hashes rows order-insensitively.
    from sparkhtml.spark.partitioning import fan_out

    return fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), key="doc_id"
    )


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved (doc_id, spans) table derived from the
    documents table: one boilerplate nav + one content <p> text span, and
    one media span per document (BASELINE.json input_hint shape)."""
    docs = _docs(spark, sf_dir)
    text_html = F.concat(
        F.lit('<nav><a href="/">home</a> <a href="/x">x</a></nav><p>'),
        F.col("text"),
        F.lit("</p>"),
    )
    span_t = F.struct(
        F.lit("text").alias("kind"),
        text_html.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    span_m = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("m-"), F.col("doc_id")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(span_t, span_m).alias("spans"),
    )


def _ensure_imports(spark: SparkSession) -> None:
    """Ship sparkhtml to executors of an externally created session (the
    harness builds its own SparkSession; get_spark's PYTHONPATH plumbing
    never ran, so executor imports would fail when cwd != repo root)."""
    from sparkhtml.spark.session import ensure_executor_imports

    ensure_executor_imports(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: north-rule extraction over sf0.001 interleaved docs."""
    from sparkhtml.spark.pipeline import extract_spans_df

    _ensure_imports(spark)
    docs = _interleaved(spark, "/root/testdata/sf0.001")
    out = extract_spans_df(docs)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.element_at("spans", 1)["text"].alias("first_text"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_textcontent_roundtrip(spark, sf_dir):
    """Full parse path: wrap text in markup+entities, assert textContent
    inverts it (S2+T*+P*+X2 end-to-end)."""
    from sparkhtml.spark.pipeline import html_text_content

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body><div><p>"),
        F.col("text"),
        F.lit(" &amp; tail</p></div></body></html>"),
    )
    return docs.select(
        "doc_id",
        html_text_content(html).alias("text_content"),
    )


def _q_extract_media_passthrough(spark, sf_dir):
    """North-rule pipeline: media spans pass through extraction in order."""
    from sparkhtml.spark.pipeline import extract_spans_df

    out = extract_spans_df(_interleaved(spark, sf_dir))
    ex = out.select("doc_id", F.explode("spans").alias("s"))
    return ex.filter(F.col("s.kind") == "media").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("span_offset"),
    )


def _q_extract_text(spark, sf_dir):
    """North-rule pipeline: boilerplate nav dropped, content text kept."""
    from sparkhtml.spark.pipeline import extract_spans_df

    out = extract_spans_df(_interleaved(spark, sf_dir))
    ex = out.select("doc_id", F.explode("spans").alias("s"))
    return ex.filter(F.col("s.kind") == "text").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.text").alias("extracted"),
    )


def _q_extract_metrics(spark, sf_dir):
    """Lineage/metrics table: span & word accounting over the built corpus
    (nav contributes 2 link words; the content <p> carries the doc text)."""
    from sparkhtml.spark.pipeline import extract_metrics_df

    m = extract_metrics_df(_interleaved(spark, sf_dir))
    return m.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_spans_in").cast("bigint").alias("n_spans_in"),
        F.col("n_media").cast("bigint").alias("n_media"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_kept_words").cast("bigint").alias("n_kept_words"),
    )


def _q_escape(spark, sf_dir):
    from sparkhtml.spark.pipeline import html_escape

    docs = _docs(spark, sf_dir)
    payload = F.concat(F.lit('<x> & "q" '), F.col("text"))
    return docs.select("doc_id", html_escape(payload).alias("escaped"))


def _q_unescape(spark, sf_dir):
    from sparkhtml.spark.pipeline import html_unescape

    docs = _docs(spark, sf_dir)
    payload = F.concat(F.lit("&lt;p&gt; &#65;&amp; "), F.col("text"))
    return docs.select("doc_id", html_unescape(payload).alias("unescaped"))


def _built_nodes(spark, sf_dir):
    from sparkhtml.spark.pipeline import parse_nodes_df

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<div class="wrap"><p id="main">'),
        F.col("text"),
        F.lit('</p><a href="/l">link</a></div>'),
    )
    return parse_nodes_df(docs.select("doc_id", html.alias("html")))


def _q_tag_counts(spark, sf_dir):
    """Flattened-DOM nodes table: per-tag counts of a known structure."""
    from sparkhtml.spark.queries import css_count_by_tag

    return css_count_by_tag(_built_nodes(spark, sf_dir)).select(
        "tag", F.col("n").cast("bigint").alias("n")
    )


def _q_css_child_plan(spark, sf_dir):
    """Selector-as-DataFrame plan (Q7 child combinator as equi-join)."""
    from sparkhtml.spark.queries import css_select_df

    nodes = _built_nodes(spark, sf_dir)
    m = css_select_df(nodes, "div.wrap > p#main")
    return m.select(F.col("doc_id").cast("bigint").alias("doc_id")).groupBy(
        "doc_id"
    ).agg(F.count("*").cast("bigint").alias("n_matches"))


def _q_css_sibling_plan(spark, sf_dir):
    """Selector plan Q8: adjacent sibling as a lag window."""
    from sparkhtml.spark.queries import css_select_df

    nodes = _built_nodes(spark, sf_dir)
    m = css_select_df(nodes, "p + a")
    return m.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.lower("tag").alias("tag"))


def _q_css_pseudo_plan(spark, sf_dir):
    """DataFrame plans for the post-op pseudos (round 2: :checked, :link,
    :empty, :enabled/:disabled with fieldset propagation + first-legend
    carve-out) over a known built structure — per-doc match counts have an
    exact constant oracle."""
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            "<form><input type=checkbox checked><input disabled>"
            "<fieldset disabled><legend><input id=l></legend>"
            "<input id=f></fieldset>"
            "<fieldset><input id=ok></fieldset></form>"
            "<p></p><p>"
        ),
        F.col("text"),
        F.lit('</p><a href="/x">l</a><a name=n>n</a>'),
    )
    nodes = parse_nodes_df(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    html.alias("html"))
    )
    out = None
    for name, sel in [("n_checked", ":checked"),
                      ("n_disabled", "input:disabled"),
                      ("n_enabled", "input:enabled"),
                      ("n_empty", "p:empty"),
                      ("n_link", "a:link")]:
        c = (
            css_select_df(nodes, sel)
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias(name))
        )
        out = c if out is None else out.join(c, "doc_id")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_checked", "n_disabled", "n_enabled", "n_empty", "n_link",
    )


def _q_css_chain_plan(spark, sf_dir):
    """≥2-combinator selector chains as DataFrame plans (round-5 fix:
    left-to-right accumulation in _complex_df; WebKit-suite shapes —
    mixed descendant/child chains through class+attr+id compounds) over a
    known built structure with exact constant per-doc counts."""
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            "<div><div id=w1 class='wrap-class'>"
            "<ul class='some-class'>"
            "<li data-bar=x class='some-class other'>"
        ),
        F.col("text"),
        F.lit(
            "</li><li class='other'>y</li></ul>"
            "<div class='some-class'><a class='other-class'>"
            "<div class='another-class'><div><p class='result-class'>z</p>"
            "</div></div></a></div></div></div>"
            "<form name='f'><div><div><input name='fi'></div></div></form>"
        ),
    )
    nodes = parse_nodes_df(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    html.alias("html"))
    )
    out = None
    for name, sel in [
        ("n_chain", "html body div>#w1 .some-class li[data-bar].some-class"),
        ("n_result", "div div.some-class a.other-class div.another-class "
                     "div p.result-class"),
        ("n_form", "form[name='f']>div>div>input[name='fi']"),
        ("n_li", "#w1 ul.some-class > li"),
        ("n_misorder", "form div form input"),  # unordered: must be 0
    ]:
        c = (
            css_select_df(nodes, sel)
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias(name))
        )
        out = c if out is None else out.join(c, "doc_id", "left")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_chain", "n_result", "n_form",
        "n_li",
        F.coalesce("n_misorder", F.lit(0)).cast("bigint").alias("n_misorder"),
    )


def _q_exact_dup_groups(spark, sf_dir):
    """Exact dedup over a corpus with injected duplicates (doc_id%10==0
    duplicated at id+1000000)."""
    from sparkhtml.spark.dedup import normalized_text

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    all_docs = docs.unionByName(dups)
    return (
        all_docs.select("doc_id", normalized_text("text").alias("k"))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_dups"),
             F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
        .select("keep_id", "n_dups")
    )


def _q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs on the dup-injected corpus.

    hash_mode="md5" makes the 32-hash signature bit-for-bit reproducible
    in DuckDB (md5 exists verbatim there), so the oracle recomputes the
    FULL pipeline — normalization, shingling, seeded min-hash fold — and
    asserts the exact pair set. min_agree=0.99 with 32 hashes demands
    full-signature equality, and signature-equal docs always share every
    band bucket, so the oracle needs no bucket-hash reproduction: any
    banding-join bug that drops or fabricates pairs mismatches. The
    default xxhash64 signature shares all machinery but the hash call and
    is recall-pinned in tests/test_spark.py.
    """
    from sparkhtml.spark.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return minhash_lsh_pairs(
        docs.unionByName(dups), min_agree=0.99, hash_mode="md5"
    ).select("a", "b")


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard (LSH-pruned): injected dups come back at 1.0."""
    from sparkhtml.spark.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return ngram_jaccard_pairs(
        docs.unionByName(dups), threshold=0.999
    ).select("a", "b", F.round("jaccard", 3).alias("jaccard"))


def _q_simhash_dups(spark, sf_dir):
    """SimHash near-dups at Hamming 0.

    The token hash is the big-endian uint64 of md5's first 8 bytes, which
    DuckDB reproduces as ('0x' || substr(md5(t),1,16))::UBIGINT — the
    oracle recomputes every per-bit vote and asserts the exact pair set
    (tokenization, votes, tie rule, bucket pairs, bit_count verify).
    """
    from sparkhtml.spark.dedup import simhash_near_dups

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return simhash_near_dups(docs.unionByName(dups), max_hamming=0).select(
        "a", "b"
    )


def _q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 embedding.

    The query vector stays in the plan (broadcast 1-row cross join) —
    no driver-side .first() job at query-build time.
    """
    from sparkhtml.spark.similarity import cosine_topk_vs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    top = cosine_topk_vs(emb, emb.filter(F.col("vec_id") == 0), k=10)
    return top.select("vec_id", F.round("cosine", 3).alias("cosine"))


def _q_ivf_topk(spark, sf_dir):
    """IVF ANN with full probe (n_probe=k) — must equal exact brute force,
    so the DuckDB cosine oracle applies to the whole index machinery.
    assign() + cluster filter still run; the query vector stays in the
    plan via the broadcast 1-row join (no .first() fetch)."""
    from sparkhtml.spark.similarity import IVFIndex, cosine_topk_vs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IVFIndex(k=4).fit(emb)
    cand = idx.assign(emb).filter(F.col("ivf_cluster").isin(list(range(4))))
    top = cosine_topk_vs(cand, emb.filter(F.col("vec_id") == 0), k=10)
    return top.select("vec_id", F.round("cosine", 3).alias("cosine"))


def _q_cosine_neardup(spark, sf_dir):
    """Embedding near-dup pairs (hyperplane-LSH bucketed, exact cosine
    verify). The hyperplanes are seeded driver-side constants, so the
    oracle inlines the SAME 12×64 plane literals (same random.Random(42)
    stream) and recomputes bucket assignment + the capped bucket
    self-join + the cosine filter exactly in DuckDB — full oracle, no
    hash irreproducibility. Sign margins at sf0.01 are ≥4e-4, dwarfing
    any cross-engine float noise (~1e-13)."""
    from sparkhtml.spark.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return cosine_near_dup_pairs(
        emb.unionByName(dup), threshold=0.9999, dim=64
    ).select("a", "b")


def _q_cosine_pairs_exact(spark, sf_dir):
    """Exact near-dup pair verification math (the step LSH candidates feed
    into) against DuckDB's independent list_cosine_similarity — brute-force
    on a filtered slice so the oracle is O(k²), not O(n²)."""
    from sparkhtml.spark.similarity import _norm_col, dot_col

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") % 10 == 0
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = dot_col(F.col("va"), F.col("vb")) / (
        _norm_col("va") * _norm_col("vb")
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= 0.2)
        .select("a", "b", "cosine")
    )


def _q_token_count(spark, sf_dir):
    from sparkhtml.spark.textstats import token_count

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )


def _q_bpe_token_count(spark, sf_dir):
    """BPE-ish lexer token counts over markup-decorated text."""
    from sparkhtml.spark.textstats import bpe_token_count

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("it's #1: "), F.col("text"))
    )
    return docs.select(
        "doc_id", bpe_token_count("text").cast("bigint").alias("n_bpe_tokens")
    )


def _q_css_multi_count(spark, sf_dir):
    """Parse-once multi-selector evaluation (operator fusion)."""
    from sparkhtml.spark.pipeline import css_multi_count_udf

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<div class="wrap"><p id="main">'), F.col("text"),
        F.lit('</p><a href="/l">link</a></div>'),
    )
    counts = css_multi_count_udf(["div.wrap > p", "a[href]", "p:first-of-type"])(html)
    return docs.select(
        "doc_id",
        F.element_at(counts, 1).cast("bigint").alias("n_p"),
        F.element_at(counts, 2).cast("bigint").alias("n_a"),
        F.element_at(counts, 3).cast("bigint").alias("n_first_p"),
    )


def _q_quality(spark, sf_dir):
    from sparkhtml.spark.textstats import quality_features

    return quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_words",
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
    )


def _q_lang_id(spark, sf_dir):
    from sparkhtml.spark.textstats import lang_id

    return lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def _q_fingerprint(spark, sf_dir):
    """MD5 document fingerprint of whitespace-normalized text."""
    from sparkhtml.spark.dedup import normalized_text

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.md5(normalized_text("text")).alias("fingerprint")
    )


def _q_pii_scrub(spark, sf_dir):
    """PII scrubbing (training-data redaction): deterministic emails and
    phone numbers are seeded onto every third document, detected and
    redacted by JVM regexp expressions (sparkhtml.spark.scrub — pure
    whole-stage-codegen, no Python). The DuckDB oracle reruns the same
    portable regexes; the scrubbed text is compared by md5."""
    from sparkhtml.spark.scrub import scrub_pii

    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = scrub_pii(seeded)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


def _q_repetition_features(spark, sf_dir):
    """Gopher-style repetition quality signals (distinct-word ratio,
    top-word share) as per-row JVM expressions over the bound word array
    (sorted-run-length max for the top word) — zero shuffle."""
    from sparkhtml.spark.textstats import repetition_features

    return repetition_features(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        # raw doubles: both engines divide the same exact integers, so the
        # results are bit-identical — rounding would only add tie risk
        F.col("distinct_ratio").alias("distinct_ratio"),
        F.col("top_word_share").alias("top_word_share"),
    )


def _q_dup_coverage(spark, sf_dir):
    """Cross-document duplicate coverage: fraction of each doc's 5-gram
    shingles that occur in ≥1 other document (the span-level dedup
    decision signal). Explode → per-doc distinct → global shingle count →
    join back; shingle keys hashable for byte-bounded shuffles at scale."""
    from sparkhtml.spark.textstats import dup_shingle_coverage

    return dup_shingle_coverage(_docs(spark, sf_dir), n=5).select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_dup").cast("bigint").alias("n_dup"),
        F.col("dup_coverage").alias("dup_coverage"),
    )


def _q_contamination(spark, sf_dir):
    """Eval-set decontamination: every 97th document plays the benchmark
    corpus; each training doc reports the fraction of its 5-gram shingles
    found anywhere in the benchmark (broadcast join — the bench side is
    small by construction, as real eval suites are)."""
    from sparkhtml.spark.textstats import benchmark_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return benchmark_contamination(docs, bench, n=5).select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        F.col("contamination").alias("contamination"),
    )


def _q_knn_join(spark, sf_dir):
    """Batch k-NN join (ANN-serving shape): every 101st embedding plays a
    query; one corpus scan serves all queries via a broadcast join + one
    per-query window. Cosine rounded to 3 decimals for the cross-engine
    hash (engine dot-product orders differ at ~1e-16)."""
    from sparkhtml.spark.similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = knn_join(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cosine", 3).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters via distributed min-label propagation over a
    deterministic edge list (every 3rd doc links to (id*2+6) mod 300,
    chains + merges included), joined back to the corpus: (doc_id,
    cluster, is_canonical). The oracle computes the same transitive
    closure with a recursive CTE — exact cross-engine equality of the
    component structure."""
    from sparkhtml.spark.graph import dedup_clusters

    docs = _docs(spark, sf_dir).select("doc_id")
    edges = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 2 + 6) % 300).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    out = dedup_clusters(docs, edges)
    return out.select(
        "doc_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


def _q_extract_links(spark, sf_dir):
    """Link-graph extraction + URL normalization: every doc wrapped in a
    known nav (a root link + a per-doc absolute link with uppercase
    scheme/host, default port and fragment), anchors pulled from the
    parsed nodes table via the pre-order range join, hrefs normalized.
    The oracle emits the same two links per doc in closed form."""
    from sparkhtml.spark.links import extract_links_df, normalize_url
    from sparkhtml.spark.pipeline import parse_nodes_df

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<nav><a href="/">home</a> <a href="HTTP://Example.COM:80/p'),
        did,
        F.lit('#sec">page '),
        did,
        F.lit("</a></nav><p>"),
        F.col("text"),
        F.lit("</p>"),
    )
    nodes = parse_nodes_df(docs.select(did.alias("doc_id"), html.alias("html")))
    links = extract_links_df(nodes)
    return links.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "href",
        "anchor_text",
        normalize_url("href").alias("norm_url"),
    )


def _q_corpus_stats(spark, sf_dir):
    """Per-language corpus report: doc counts, char/word totals, and
    exact length percentiles (p50/p90/p99, R-7 interpolation — Spark
    `percentile` and DuckDB `quantile_cont` agree bit-for-bit, probed).
    One hash-aggregate with map-side partials; the percentile buffer is
    per-(lang) and bounded. The shape every curation run reports before
    and after filtering."""
    docs = _docs(spark, sf_dir)
    from sparkhtml.spark.textstats import token_count

    base = docs.select(
        "lang",
        F.length("text").alias("_len"),
        token_count("text").alias("_words"),
    )
    out = base.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_len").cast("bigint").alias("total_chars"),
        F.sum("_words").cast("bigint").alias("total_words"),
        F.expr("percentile(_len, array(0.5, 0.9, 0.99))").alias("_p"),
    )
    return out.select(
        "lang", "n_docs", "total_chars", "total_words",
        F.round(F.element_at("_p", 1), 4).alias("len_p50"),
        F.round(F.element_at("_p", 2), 4).alias("len_p90"),
        F.round(F.element_at("_p", 3), 4).alias("len_p99"),
    )


def _q_train_split(spark, sf_dir):
    """Deterministic content-addressed train/val/test split (md5 hash
    buckets, seed-versioned): a document's assignment is a pure function
    of (seed, doc_id) — reproducible across runs, partitionings, and
    engines. 5% test / 5% val."""
    from sparkhtml.spark.sampling import train_split

    return train_split(_docs(spark, sf_dir).select("doc_id")).select(
        "doc_id", "split"
    )


def _q_stratified_sample(spark, sf_dir):
    """Per-language deterministic downsample (corpus rebalancing): en
    halved, de quartered, others kept. Membership = hash(seed:id) <
    fraction — exact-reproducible, unlike Bernoulli sampleBy."""
    from sparkhtml.spark.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, fractions={"en": 0.5, "de": 0.25}
    ).select("doc_id", "lang")


def _q_domain_quota(spark, sf_dir):
    """Per-domain quota sampling (curation guard against any single
    source dominating the mix): top-5 docs per source by n_chars desc,
    doc_id as the deterministic tie-break — one window over the domain
    key (round 5, `sampling.domain_quota`)."""
    from sparkhtml.spark.sampling import domain_quota

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return domain_quota(docs, k=5).select(
        "doc_id", "source",
        F.col("domain_rank").cast("bigint").alias("domain_rank"),
    )


def _q_pack_greedy(spark, sf_dir):
    """Greedy first-fit sequence packing into 512-token bins per
    language, ascending doc_id — the training-batch packing shape. The
    packing is a deterministic fold, so the DuckDB oracle reproduces
    the IDENTICAL bin assignments via a recursive CTE (round 5,
    `sampling.pack_greedy`; buckets=N is the 10^12-row parallel mode,
    exercised in pytest)."""
    from sparkhtml.spark.sampling import pack_greedy

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return pack_greedy(docs, budget=512, group_col="lang").select(
        "doc_id", F.col("group").alias("lang"), "tokens",
        "bin_id", "bin_tokens",
    )


def _q_pack_greedy_bucketed(spark, sf_dir):
    """The 10^12-row parallel packing mode: each language subdivided
    into 8 content-addressed buckets (md5 ``hash_bucket``, so the
    oracle replays the EXACT bucket assignment), greedy first-fit
    within each (lang, bucket) sub-sequence. Round 6 — promotes the
    bucketed mode from pytest-only to an exact driver oracle; the
    DuckDB recursive CTE recomputes buckets and replays the identical
    fold per (lang, bucket)."""
    from sparkhtml.spark.sampling import pack_greedy

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return pack_greedy(
        docs, budget=512, group_col="lang", buckets=8
    ).select(
        "doc_id", F.col("group").alias("lang"), "tokens",
        "bucket", "bin_id", "bin_tokens",
    )


def _q_drop_repeated_spans(spark, sf_dir):
    """Corpus-frequency boilerplate-span removal (RefinedWeb-style
    repeated-line dedup at span granularity) over a 3-span interleaved
    derivation: a shared nav span (df = n_docs, always dropped), the
    per-doc `<p>` content span (dropped only when the text naturally
    duplicates — sf0.1 has 8 such groups), and a media span (always
    kept). Survivors flattened for the oracle."""
    from sparkhtml.spark.dedup import drop_repeated_spans

    docs = _docs(spark, sf_dir)
    nav = '<nav><a href="/">home</a></nav>'

    def span(kind, text, ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            (text if text is not None else F.lit(None).cast("string")).alias(
                "text"
            ),
            (ref if ref is not None else F.lit(None).cast("string")).alias(
                "media_ref"
            ),
            F.lit(off).alias("offset"),
        )

    inp = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            span("text", F.lit(nav), None, 0),
            span("text", F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), None, 1),
            span("media", None, F.concat(F.lit("m-"), F.col("doc_id")), 2),
        ).alias("spans"),
    )
    out = drop_repeated_spans(inp, min_df=2)
    ex = out.select("doc_id", F.explode("spans").alias("s"))
    return ex.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        F.col("s.offset").alias("span_offset"),
    )


def _q_cluster_survivors(spark, sf_dir):
    """Quality-aware dedup survivor selection (round 6,
    `graph.cluster_survivors`): the dedup_clusters components (same
    deterministic edge list as that query) joined with n_chars as the
    quality signal; keep the highest-n_chars doc per cluster (id
    tie-break). The oracle recomputes the transitive closure with a
    recursive CTE and replays the rank window."""
    from sparkhtml.spark.graph import cluster_survivors, dedup_clusters

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    edges = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 2 + 6) % 300).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    clustered = dedup_clusters(docs.select("doc_id"), edges).join(
        docs, "doc_id"
    )
    return cluster_survivors(clustered, "n_chars").select(
        "doc_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def _q_mix_to_budget(spark, sf_dir):
    """Deterministic token-budget corpus mixing (round 6,
    `sampling.mix_to_budget`): keep documents per language in
    content-addressed md5 order until the language's token budget is
    crossed (en 4000 tokens, de 1500, others unlimited). One window
    shuffle on the group key; the DuckDB oracle replays the identical
    hash order and running sum."""
    from sparkhtml.spark.sampling import mix_to_budget

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return mix_to_budget(docs, {"en": 4000, "de": 1500}).select(
        "doc_id", F.col("group").alias("lang"), "tokens", "cum_tokens"
    )


def _q_text_cleanup(spark, sf_dir):
    """C4-style corpus cleanup: control/zero-width strip, whitespace
    collapse, mojibake counting — seeded dirty suffix on every 4th doc
    (BEL, ZWSP, double-decoded 'é'), zero-shuffle JVM expressions. The
    oracle rebuilds the same seed and regexes in DuckDB/RE2."""
    from sparkhtml.spark.textstats import text_cleanup

    docs = _docs(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"),
                     F.lit("\tx\x07y\u200bz  w\u00c3\u00a9")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = text_cleanup(dirty)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_ctrl",
        "n_mojibake",
        "n_removed",
    )


def _q_knn_join_ivf(spark, sf_dir):
    """IVF-bucketed batch k-NN join at FULL probe (n_probe = k): corpus
    rows equi-join on their cluster id against the exploded
    (query, probe) table instead of a nested loop — at full probe every
    query probes every cluster, so the result must equal the exact
    knn_join and the same DuckDB oracle applies to the whole IVF join
    machinery (assign, probe explode, equi-join, window)."""
    from sparkhtml.spark.similarity import IVFIndex, knn_join_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    idx = IVFIndex(k=4).fit(emb)
    out = knn_join_ivf(emb, queries, idx, k=5, n_probe=4)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cosine", 3).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_training_filter(spark, sf_dir):
    """Composite training-data gate: joins the repetition, duplicate-
    coverage and contamination signals and emits keep/drop plus the first
    failing reason (fixed gate order: too_few_words → repetitive →
    duplicated → contaminated). The shape a real corpus-curation job
    materializes before the drop."""
    rep = _q_repetition_features(spark, sf_dir)
    cov = _q_dup_coverage(spark, sf_dir).select("doc_id", "dup_coverage")
    con = _q_contamination(spark, sf_dir).select("doc_id", "contamination")
    j = rep.join(cov, "doc_id").join(con, "doc_id")
    dupc = F.coalesce(F.col("dup_coverage"), F.lit(0.0))
    cont = F.coalesce(F.col("contamination"), F.lit(0.0))
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("distinct_ratio") >= 0.35)
        & (dupc <= 0.5)
        & (cont <= 0.2)
    )
    reason = (
        F.when(F.col("n_words") < 10, F.lit("too_few_words"))
        .when(F.col("distinct_ratio") < 0.35, F.lit("repetitive"))
        .when(dupc > 0.5, F.lit("duplicated"))
        .when(cont > 0.2, F.lit("contaminated"))
        .otherwise(F.lit(None).cast("string"))
    )
    return j.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


def _q_stream_extract(spark, sf_dir):
    """Structured Streaming extraction (AvailableNow drain) must equal the
    batch result exactly — so the BATCH oracle (extract_text's SQL) checks
    the streaming path end-to-end: file source → mapInPandas → parquet sink
    with streaming checkpoint."""
    import tempfile

    from sparkhtml.spark.streaming import stream_extract

    work = tempfile.mkdtemp(prefix="sparkhtml_stream_")
    in_dir = f"{work}/in"
    _interleaved(spark, sf_dir).write.mode("overwrite").parquet(in_dir)
    q = stream_extract(spark, in_dir, f"{work}/out", f"{work}/ckpt")
    q.awaitTermination()
    out = spark.read.parquet(f"{work}/out")
    ex = out.select("doc_id", F.explode("spans").alias("s"))
    return ex.filter(F.col("s.kind") == "text").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.text").alias("extracted"),
    )


def _q_media_features(spark, sf_dir):
    """Multimodal feature extraction over a documents-derived media table:
    the feature VALUES are the permanent deterministic-fake contract
    (SHA-256-derived, not SQL-expressible); frame counts, kinds and vector
    shape have an exact oracle."""
    from sparkhtml.spark.multimodal import media_features_df

    docs = _docs(spark, sf_dir)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    media = docs.select(
        F.concat(F.lit("m-"), F.col("doc_id")).alias("media_ref"),
        kind.alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.when(kind == "video", ((F.col("doc_id") % 9 + 1) * 1000).cast("int"))
        .alias("duration_ms"),
    )
    out = media_features_df(media)
    return out.select(
        "media_ref",
        "kind",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.size("feature").cast("bigint").alias("dim"),
        F.when(F.col("error").isNull(), F.lit(0)).otherwise(F.lit(1))
        .cast("bigint")
        .alias("n_err"),
    )


def _q_media_features_real(spark, sf_dir):
    """REAL multimodal decode (fake=False): per doc_id, generate a solid-
    color PPM, a constant-signal PCM WAV, a solid-color BMP, or a junk
    'video' payload (doc_id%4), decode with the pure-numpy decoders, and
    emit closed-form-checkable features — solid color ⇒ channel mean=c,
    std=0; constant signal ⇒ mean=c, rms=|c|, zcr=0; junk ⇒ the per-row
    error channel. The DuckDB oracle recomputes every value from doc_id."""
    import pandas as pd

    from sparkhtml.spark.multimodal import (
        MEDIA_SCHEMA,
        make_real_payload,
        media_features_df,
    )

    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].tolist():
                kind, mime, payload, dur = make_real_payload(int(i))
                rows.append(
                    (f"m-{i}", kind, mime, bytearray(payload), None, None, dur)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "kind", "mime", "payload",
                    "width", "height", "duration_ms",
                ],
            )

    media = docs.mapInPandas(gen, schema=MEDIA_SCHEMA)
    out = media_features_df(media, fake=False)

    def fe(k):
        return F.round(F.element_at(F.col("feature"), k).cast("double"), 4)

    return out.select(
        "media_ref",
        "kind",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.when(F.col("error").isNull(), F.lit(0)).otherwise(F.lit(1))
        .cast("bigint")
        .alias("n_err"),
        fe(1).alias("f0"),
        fe(2).alias("f1"),
        fe(3).alias("f2"),
        fe(4).alias("f3"),
    )


def _q_pdf_extract(spark, sf_dir):
    """PDF/layout parse (the north rule's extraction tier names it next
    to the HTML boilerplate strip): deterministically render each
    document's sanitized text into a PDF — word-per-Tj and TJ-kern lines
    with NO space glyphs, plus an image XObject for doc_id%3==0 — then
    extract it back with the from-scratch parser (sparkhtml/spark/pdf.py:
    xref, content-stream interpreter, layout spacing inference, media
    placeholders). The DuckDB oracle recomputes the expected text
    closed-form from documents.text, so any parser/layout defect breaks
    the value hash."""
    import re as _re

    import pandas as pd

    from sparkhtml.spark.pdf import build_pdf, pdf_doc_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def gen(batches):
        for pdf in batches:
            out = []
            for i, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                words = _re.sub(r"[^ -~]", " ", text or "").split()[:24]
                items: list[tuple] = [("text", " ".join(words[:12]))]
                if int(i) % 3 == 0:
                    items.append(("image",))
                if words[12:]:
                    items.append(("text", " ".join(words[12:])))
                blob = build_pdf([items])
                spans, n_pg = pdf_doc_spans(blob)
                extracted = " ".join(
                    s["text"].replace("\n", " ")
                    for s in spans if s["kind"] == "text"
                ).strip()
                n_media = sum(1 for s in spans if s["kind"] == "media")
                out.append((int(i), n_pg, n_media, extracted))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_pages", "n_media", "extracted"])

    return docs.mapInPandas(
        gen, "doc_id long, n_pages int, n_media int, extracted string")


def _q_pdf_layout(spark, sf_dir):
    """PDF LAYOUT oracle: three-page two-column render with a repeated
    header and a page-numbered footer — the extractor must drop the
    page furniture (digit-masked repeat detection across pages), keep
    column reading order, and reassemble exactly words[:36] of the
    sanitized text. Complements pdf_extract (single page, media spans):
    here the layout-analysis layer itself is under the value hash."""
    import re as _re

    import pandas as pd

    from sparkhtml.spark.pdf import build_pdf, pdf_doc_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def gen(batches):
        for pdf in batches:
            out = []
            for i, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                words = _re.sub(r"[^ -~]", " ", text or "").split()[:36]
                pages = [[("text", " ".join(words[j * 12:(j + 1) * 12]))]
                         for j in range(3)]
                blob = build_pdf(pages, two_column=True,
                                 header="CONFIDENTIAL DRAFT", footer="Page")
                spans, n_pg = pdf_doc_spans(blob)
                extracted = " ".join(
                    s["text"].replace("\n", " ")
                    for s in spans if s["kind"] == "text"
                ).strip()
                out.append((int(i), n_pg, extracted))
            yield pd.DataFrame(out, columns=["doc_id", "n_pages", "extracted"])

    return docs.mapInPandas(
        gen, "doc_id long, n_pages int, extracted string")


def _q_pdf_links(spark, sf_dir):
    """PDF link-annotation extraction (the PDF analogue of
    extract_links): render /Annots /Link /URI entries — one per doc for
    doc_id%2==0 plus a second on a later page for doc_id%10==0 — and
    read them back via sparkhtml.spark.pdf.pdf_links. The oracle
    reconstructs the URI list closed-form from doc_id alone."""
    import pandas as pd

    from sparkhtml.spark.pdf import build_pdf, pdf_links

    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"].tolist():
                i = int(i)
                pages = [[("text", f"doc {i} page one")],
                         [("text", f"doc {i} page two")]]
                if i % 2 == 0:
                    pages[0].append(("link", f"https://ex.org/{i}/a"))
                if i % 10 == 0:
                    pages[1].append(("link", f"https://ex.org/{i}/b"))
                links = pdf_links(build_pdf(pages))
                out.append((
                    i, len(links),
                    ",".join(f"{l['page']}:{l['uri']}" for l in links),
                ))
            yield pd.DataFrame(out, columns=["doc_id", "n_links", "links"])

    return docs.mapInPandas(gen, "doc_id long, n_links int, links string")


def _q_size_buckets(spark, sf_dir):
    """Skew layer: log2 size-bucket histogram of the interleaved corpus
    (partitioning.with_size_salt's bucket column; the salt half is
    xxhash64-based and covered by rows-only tests). The interleaved text
    span wraps the document text in 57 chars of nav/p markup."""
    from sparkhtml.spark.partitioning import with_size_salt

    docs = _interleaved(spark, sf_dir)
    return (
        with_size_salt(docs)
        .groupBy("size_bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("size_bucket")
    )


def _q_top_trigrams(spark, sf_dir):
    """Corpus-level n-gram frequency (explode → partial-agg count → top-k):
    the canonical distributed text-stats aggregation, reusing the dedup
    layer's bound shingle expression."""
    from sparkhtml.spark.dedup import normalized_text, shingles_col

    docs = _docs(spark, sf_dir)
    n_words = F.size(
        F.filter(F.split(normalized_text("text"), " "),
                 lambda w: F.length(w) > 0)
    )
    grams = (
        docs.filter(n_words >= 3)
        .select(F.explode(shingles_col("text", 3)).alias("trigram"))
    )
    return (
        grams.groupBy("trigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(20)
    )


def _q_events_lag(spark, sf_dir):
    """Adjacent-sibling window shape (Q8) on the events stream table."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )


def _q_events_nth(spark, sf_dir):
    """nth-child rank arithmetic (Q11) on events: every user's 3n+1-th."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = F.row_number().over(w)
    return (
        ev.select("event_id", "user_id", r.alias("rnk"))
        .filter((F.col("rnk") - 1) % 3 == 0)
        .select("event_id", "user_id", F.col("rnk").cast("bigint").alias("rnk"))
    )


def _q_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap): the classic stateful
    event-stream op as pure window arithmetic — lag → gap flag → running
    sum per user."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: go through timestamp for epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev_ts = F.lag(epoch).over(w)
    new_session = F.when(
        prev_ts.isNull() | (epoch - prev_ts > 1800), 1
    ).otherwise(0)
    return (
        ev.withColumn("_new", new_session)
        .withColumn("session_idx", F.sum("_new").over(w).cast("bigint"))
        .select("event_id", "user_id", "session_idx")
    )


def _q_filter_pipeline(spark, sf_dir):
    """End-to-end training-data filter: quality gates + exact-dup loser
    drop, with per-document keep/drop reasons — the composition a real
    pipeline runs before extraction, fully SQL-oracled."""
    from pyspark.sql import Window

    from sparkhtml.spark.dedup import normalized_text
    from sparkhtml.spark.textstats import quality_features

    docs = quality_features(_docs(spark, sf_dir))
    h = F.md5(normalized_text("text"))
    keep_id = F.min("doc_id").over(Window.partitionBy(h))
    out = docs.withColumn("_keep_id", keep_id)
    quality_ok = (
        (F.col("n_words") >= 5)
        & (F.col("stopword_ratio") > 0.01)
        & (F.col("punct_ratio") < 0.2)
    )
    return out.select(
        "doc_id",
        quality_ok.cast("int").cast("bigint").alias("quality_ok"),
        (F.col("doc_id") == F.col("_keep_id")).cast("int").cast("bigint")
        .alias("dedup_keep"),
        (quality_ok & (F.col("doc_id") == F.col("_keep_id")))
        .cast("int").cast("bigint").alias("keep"),
    )


def _q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shape aggregate (map-side partial agg demo)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark, sf_dir):
    """Broadcast-join chain: lineitem ⋈ orders ⋈ customer ⋈ nation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _with_imports(fn):
    def wrapped(spark, sf_dir):
        _ensure_imports(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_imports(fn) for name, fn in {
        "textcontent_roundtrip": _q_textcontent_roundtrip,
        "extract_media_passthrough": _q_extract_media_passthrough,
        "extract_text": _q_extract_text,
        "extract_metrics": _q_extract_metrics,
        "html_escape": _q_escape,
        "html_unescape": _q_unescape,
        "nodes_tag_counts": _q_tag_counts,
        "css_child_plan": _q_css_child_plan,
        "css_sibling_plan": _q_css_sibling_plan,
        "css_pseudo_plan": _q_css_pseudo_plan,
        "css_chain_plan": _q_css_chain_plan,
        "exact_dup_groups": _q_exact_dup_groups,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "simhash_dups": _q_simhash_dups,
        "cosine_topk": _q_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "cosine_neardup_pairs": _q_cosine_neardup,
        "token_count": _q_token_count,
        "bpe_token_count": _q_bpe_token_count,
        "css_multi_count": _q_css_multi_count,
        "quality_features": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "media_features": _q_media_features,
        "media_features_real": _q_media_features_real,
        "pdf_extract": _q_pdf_extract,
        "pdf_layout": _q_pdf_layout,
        "pdf_links": _q_pdf_links,
        "pii_scrub": _q_pii_scrub,
        "contamination": _q_contamination,
        "training_filter": _q_training_filter,
        "knn_join": _q_knn_join,
        "knn_join_ivf": _q_knn_join_ivf,
        "text_cleanup": _q_text_cleanup,
        "train_split": _q_train_split,
        "stratified_sample": _q_stratified_sample,
        "domain_quota": _q_domain_quota,
        "pack_greedy": _q_pack_greedy,
        "pack_greedy_bucketed": _q_pack_greedy_bucketed,
        "mix_to_budget": _q_mix_to_budget,
        "cluster_survivors": _q_cluster_survivors,
        "drop_repeated_spans": _q_drop_repeated_spans,
        "corpus_stats": _q_corpus_stats,
        "extract_links": _q_extract_links,
        "dedup_clusters": _q_dedup_clusters,
        "repetition_features": _q_repetition_features,
        "dup_coverage": _q_dup_coverage,
        "stream_extract": _q_stream_extract,
        "top_trigrams": _q_top_trigrams,
        "cosine_pairs_exact": _q_cosine_pairs_exact,
        "size_buckets": _q_size_buckets,
        "sessionize": _q_sessionize,
        "filter_pipeline": _q_filter_pipeline,
        "events_lag": _q_events_lag,
        "events_nth": _q_events_nth,
        "pricing_summary": _q_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
    }.items()}


# Injected-dup corpus CTE shared by the LSH dedup oracles (mirrors the
# unionByName in _q_minhash_pairs / _q_simhash_dups).
_DUP_CORPUS = (
    "corpus AS (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
    "WHERE doc_id % 10 = 0)"
)


# Shared normalize → word-split → 3-gram-shingle CTEs (the exact pipeline
# of sparkhtml.spark.dedup.shingles_col / normalized_text); expects a
# preceding `corpus(doc_id, text)` CTE.
_SHINGLE_CTES = (
    "words AS (SELECT doc_id, list_filter(string_split("
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), "
    "w -> len(w) > 0) AS ws FROM corpus), "
    "sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 "
    "THEN [array_to_string(ws, ' ')] "
    "ELSE [array_to_string(list_slice(ws, i, i+2), ' ') "
    "FOR i IN range(1, len(ws) - 1)] END AS shingles FROM words)"
)


def _exact_dup_oracle() -> str:
    """Full exact-dedup oracle: recompute normalization + group-by over
    the injected-dup corpus in DuckDB. Unlike the pre-round-6 synthetic
    expectation ("every doc_id%10==0 yields one group of 2"), this also
    counts NATURAL duplicate texts — sf0.1 has 8 such groups, which the
    Spark query correctly reported and the old oracle missed (caught by
    the round-6 sf0.1 robustness run)."""
    return (
        "WITH " + _DUP_CORPUS + ", "
        "norm AS (SELECT doc_id, trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')) AS k FROM corpus) "
        "SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups "
        "FROM norm GROUP BY k HAVING count(*) > 1"
    )


def _ngram_jaccard_oracle() -> str:
    """Full n-gram-Jaccard oracle at threshold 0.999: pairs with
    IDENTICAL distinct-shingle sets (jaccard exactly 1.0).

    Soundness: for distinct sets, jaccard <= 1 - 1/|union|, so any pair
    below 1.0 needs |union| >= 1000 to clear 0.999. Testdata docs have
    <= 100 words => <= 98 shingles => |union| <= 196
    (tests/test_driver_contract.py pins the bound), so the 0.999 filter
    admits exactly the identical-set pairs, and identical sets imply
    identical MinHash signatures => always LSH candidates => never
    dropped by the banding prune. Replaces the round-<6 synthetic
    expectation that missed natural duplicate pairs at sf0.1."""
    return (
        "WITH " + _DUP_CORPUS + ", " + _SHINGLE_CTES + ", "
        "sets AS (SELECT doc_id, array_to_string(list_sort("
        "list_distinct(shingles)), chr(1)) AS key FROM sh) "
        "SELECT l.doc_id AS a, r.doc_id AS b, 1.0::DOUBLE AS jaccard "
        "FROM sets l JOIN sets r ON l.key = r.key AND l.doc_id < r.doc_id"
    )


def _drop_repeated_spans_oracle() -> str:
    """Full replay of the 3-span derivation + corpus-frequency drop: build
    the same spans, count DISTINCT docs per normalized text key, keep
    text spans with df < 2 and all media spans. The nav span's blocking
    is COMPUTED (its df = n_docs), not assumed, per the round-6 oracle
    policy."""
    return (
        "WITH spans AS ("
        "SELECT doc_id, 'text' AS kind, "
        "'<nav><a href=\"/\">home</a></nav>' AS text, "
        "NULL AS media_ref, 0 AS span_offset FROM documents "
        "UNION ALL SELECT doc_id, 'text', '<p>' || text || '</p>', NULL, 1 "
        "FROM documents "
        "UNION ALL SELECT doc_id, 'media', NULL, 'm-' || doc_id, 2 "
        "FROM documents), "
        "keys AS (SELECT doc_id, span_offset, trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g')) AS k FROM spans "
        "WHERE kind = 'text'), "
        "dfreq AS (SELECT k, count(DISTINCT doc_id) AS df FROM keys "
        "GROUP BY k) "
        "SELECT s.doc_id, s.kind, coalesce(s.text, '') AS text, "
        "coalesce(s.media_ref, '') AS media_ref, s.span_offset "
        "FROM spans s "
        "LEFT JOIN keys USING (doc_id, span_offset) "
        "LEFT JOIN dfreq USING (k) "
        "WHERE s.kind <> 'text' OR dfreq.df < 2"
    )


def _minhash_oracle() -> str:
    """Full MinHash+LSH oracle: recompute the md5-mode 32-hash signature
    per doc (normalize → word 3-gram shingles → min over shingles of
    md5(k ':' shingle) for k in 0..31) and emit signature-equal pairs —
    exactly what min_agree=0.99 verification accepts, and banding can
    never drop (equal sigs ⇒ equal band keys)."""
    return (
        "WITH " + _DUP_CORPUS + ", " + _SHINGLE_CTES + ", "
        "mins AS (SELECT doc_id, k, min(md5(k::VARCHAR || ':' || s)) AS h "
        "FROM sh, unnest(shingles) AS t(s), range(32) AS r(k) "
        "GROUP BY doc_id, k), "
        "sigs AS (SELECT doc_id, string_agg(h, ',' ORDER BY k) AS sig "
        "FROM mins GROUP BY doc_id) "
        "SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l JOIN sigs r "
        "ON l.sig = r.sig AND l.doc_id < r.doc_id"
    )


def _simhash_oracle() -> str:
    """Full SimHash oracle: recompute every 64 per-bit votes from
    md5-derived token hashes (bit b of ('0x'||substr(md5(t),1,16))::
    UBIGINT; vote rule 2*ones > n_tokens == votes > 0 incl. the tie case)
    and emit signature-equal pairs — Hamming 0, the query's max_hamming."""
    return (
        "WITH " + _DUP_CORPUS + ", "
        "toks AS (SELECT doc_id, list_filter(string_split_regex("
        "lower(text), '\\s+'), w -> len(w) > 0) AS ts FROM corpus), "
        "th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT "
        "AS h FROM toks, unnest(ts) AS u(t)), "
        "bits AS (SELECT doc_id, b, CASE WHEN "
        "2 * sum(((h >> b) & 1)::INT) > count(*) THEN '1' ELSE '0' END "
        "AS bit FROM th, range(64) AS r(b) GROUP BY doc_id, b), "
        "sigs0 AS (SELECT doc_id, string_agg(bit, '' ORDER BY b) AS sig "
        "FROM bits GROUP BY doc_id), "
        "sigs AS (SELECT c.doc_id, coalesce(s.sig, repeat('0', 64)) AS sig "
        "FROM corpus c LEFT JOIN sigs0 s USING (doc_id)) "
        "SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l JOIN sigs r "
        "ON l.sig = r.sig AND l.doc_id < r.doc_id"
    )


def _cosine_neardup_oracle() -> str:
    """Full hyperplane-LSH oracle: inline the SAME 12×64 seeded plane
    constants the Spark query uses (random.Random(42) gauss stream),
    recompute the sign-bit bucket, the 10k bucket cap, the bucket
    self-join, and the round(cosine,6) >= 0.9999 verify."""
    import random

    rng = random.Random(42)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(12)]
    bits = []
    for b, p in enumerate(planes):
        lit = "[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(v, {lit}), "
            f"x -> x[1]*x[2])) >= 0 THEN {1 << b} ELSE 0 END)"
        )
    bucket = " + ".join(bits)
    norm = (
        "greatest(sqrt(list_sum(list_transform({side}.v, x -> x*x))), "
        "1e-12)"
    )
    return (
        "WITH corpus AS (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
        "FROM embeddings WHERE vec_id % 25 = 0), "
        "bkt AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        + bucket
        + " AS bucket FROM corpus), "
        "capped AS (SELECT * FROM bkt QUALIFY "
        "count(*) OVER (PARTITION BY bucket) <= 10000) "
        "SELECT l.vec_id AS a, r.vec_id AS b FROM capped l JOIN capped r "
        "ON l.bucket = r.bucket AND l.vec_id < r.vec_id "
        "WHERE round(list_sum(list_transform(list_zip(l.v, r.v), "
        "x -> x[1]*x[2])) / ("
        + norm.format(side="l")
        + " * "
        + norm.format(side="r")
        + "), 6) >= 0.9999"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "minhash_lsh_pairs": _minhash_oracle(),
        "simhash_dups": _simhash_oracle(),
        "cosine_neardup_pairs": _cosine_neardup_oracle(),
        "textcontent_roundtrip": (
            "SELECT doc_id, 't' || text || ' & tail' AS text_content "
            "FROM documents"
        ),
        "extract_media_passthrough": (
            "SELECT doc_id, 'm-' || doc_id AS media_ref, 1 AS span_offset "
            "FROM documents"
        ),
        "extract_text": (
            "SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) "
            "AS extracted FROM documents"
        ),
        "stream_extract": (
            "SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) "
            "AS extracted FROM documents"
        ),
        "sessionize": (
            "SELECT event_id, user_id, CAST(SUM(new_s) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) "
            "AS session_idx FROM (SELECT event_id, user_id, ts, "
            "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, "
            "event_id) IS NULL OR epoch(ts) - epoch(lag(ts) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)) > 1800 "
            "THEN 1 ELSE 0 END AS new_s FROM events)"
        ),
        "filter_pipeline": (
            "WITH q AS (SELECT doc_id, text, "
            "length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0)) AS n_words, "
            "length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('the','and','of'))) * 1.0 / "
            "greatest(length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0)), 1) AS stop_r, "
            "(length(text) - length(regexp_replace(text, "
            "'[^a-zA-Z0-9_\\s]', '', 'g'))) * 1.0 / "
            "greatest(length(text), 1) AS punct_r, "
            "min(doc_id) OVER (PARTITION BY "
            "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) "
            "AS keep_id FROM documents) "
            "SELECT doc_id, "
            "(n_words >= 5 AND stop_r > 0.01 AND punct_r < 0.2)::INT::BIGINT "
            "AS quality_ok, (doc_id = keep_id)::INT::BIGINT AS dedup_keep, "
            "(n_words >= 5 AND stop_r > 0.01 AND punct_r < 0.2 "
            "AND doc_id = keep_id)::INT::BIGINT AS keep FROM q"
        ),
        "size_buckets": (
            "SELECT floor(log2(greatest(length(text) + 57, 1) + 1))::INT "
            "AS size_bucket, count(*)::BIGINT AS n_docs FROM documents "
            "GROUP BY 1 ORDER BY 1"
        ),
        "cosine_pairs_exact": (
            "SELECT a.vec_id AS a, b.vec_id AS b, "
            "round(list_cosine_similarity(a.embedding, b.embedding), 4) "
            "AS cosine FROM embeddings a JOIN embeddings b "
            "ON a.vec_id < b.vec_id "
            "WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0 "
            "AND round(list_cosine_similarity(a.embedding, b.embedding), 4) "
            ">= 0.2"
        ),
        "top_trigrams": (
            "WITH words AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> length(w) > 0) AS ws FROM documents) "
            "SELECT g AS trigram, count(*)::BIGINT AS n FROM ("
            "SELECT unnest(list_transform(range(1, len(ws) - 1), "
            "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g "
            "FROM words WHERE len(ws) >= 3) "
            "GROUP BY g ORDER BY n DESC, g LIMIT 20"
        ),
        "extract_metrics": (
            "SELECT doc_id, 2::BIGINT AS n_spans_in, 1::BIGINT AS n_media, "
            "(length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0)) + 2)::BIGINT AS n_words, "
            "length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0))::BIGINT AS n_kept_words FROM documents"
        ),
        "html_escape": (
            "SELECT doc_id, replace(replace(replace(replace("
            "'<x> & \"q\" ' || text, "
            "'&', '&amp;'), '\"', '&quot;'), '<', '&lt;'), '>', '&gt;') "
            "AS escaped FROM documents"
        ),
        "html_unescape": (
            "SELECT doc_id, '<p> A& ' || text AS unescaped FROM documents"
        ),
        "nodes_tag_counts": (
            "SELECT t.tag, (SELECT count(*) FROM documents)::BIGINT AS n "
            "FROM (VALUES ('html'),('head'),('body'),('div'),('p'),('a')) "
            "AS t(tag)"
        ),
        "css_child_plan": (
            "SELECT doc_id, 1::BIGINT AS n_matches FROM documents"
        ),
        "css_sibling_plan": "SELECT doc_id, 'a' AS tag FROM documents",
        "css_pseudo_plan": (
            "SELECT doc_id, 1::BIGINT AS n_checked, 2::BIGINT AS n_disabled, "
            "3::BIGINT AS n_enabled, 1::BIGINT AS n_empty, "
            "1::BIGINT AS n_link FROM documents"
        ),
        "css_chain_plan": (
            "SELECT doc_id, 1::BIGINT AS n_chain, 1::BIGINT AS n_result, "
            "1::BIGINT AS n_form, 2::BIGINT AS n_li, "
            "0::BIGINT AS n_misorder FROM documents"
        ),
        "exact_dup_groups": _exact_dup_oracle(),
        "drop_repeated_spans": _drop_repeated_spans_oracle(),
        "ngram_jaccard_pairs": _ngram_jaccard_oracle(),
        "ivf_topk": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.qv), 3) "
            "AS cosine FROM embeddings e, q "
            "ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id "
            "LIMIT 10"
        ),
        "cosine_topk": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT e.vec_id, round(list_cosine_similarity(e.embedding, q.qv), 3) "
            "AS cosine FROM embeddings e, q "
            "ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id "
            "LIMIT 10"
        ),
        "token_count": (
            "SELECT doc_id, length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0))::BIGINT AS n_tokens FROM documents"
        ),
        "bpe_token_count": (
            "SELECT doc_id, length(regexp_extract_all('it''s #1: ' || text, "
            "'[a-zA-Z]+(?:''[a-z]+)?|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT "
            "AS n_bpe_tokens FROM documents"
        ),
        "css_multi_count": (
            "SELECT doc_id, 1::BIGINT AS n_p, 1::BIGINT AS n_a, "
            "1::BIGINT AS n_first_p FROM documents"
        ),
        "quality_features": (
            "SELECT doc_id, length(text)::BIGINT AS n_chars, "
            "length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0))::BIGINT AS n_words, "
            "round(length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('the','and','of'))) * 1.0 / "
            "greatest(length(list_filter(string_split_regex(text, '\\s+'), "
            "w -> length(w) > 0)), 1), 4) AS stopword_ratio, "
            "round((length(text) - length(regexp_replace(text, "
            "'[^a-zA-Z0-9_\\s]', '', 'g'))) * 1.0 / "
            "greatest(length(text), 1), 4) AS punct_ratio "
            "FROM documents"
        ),
        "lang_id": (
            "SELECT doc_id, CASE "
            "WHEN len_en >= greatest(len_de, len_es, len_fr, 1) THEN 'en' "
            "WHEN len_de >= greatest(len_es, len_fr, 1) THEN 'de' "
            "WHEN len_es >= greatest(len_fr, 1) THEN 'es' "
            "WHEN len_fr >= 1 THEN 'fr' ELSE 'und' END AS lang_pred FROM ("
            "SELECT doc_id, "
            "length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('the','and','of'))) AS len_en, "
            "length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('der','und','die'))) AS len_de, "
            "length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('el','los','que'))) AS len_es, "
            "length(list_filter(string_split_regex(lower(text), '\\s+'), "
            "w -> w IN ('le','les','des'))) AS len_fr FROM documents)"
        ),
        "fingerprint": (
            "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', "
            "'g'))) AS fingerprint FROM documents"
        ),
        "media_features": (
            "SELECT 'm-' || doc_id AS media_ref, "
            "CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
            "ELSE 'video' END AS kind, "
            "CASE WHEN doc_id % 3 = 2 THEN "
            "greatest(1, ((doc_id % 9 + 1) * 1000) // 1000) "
            "ELSE 1 END::BIGINT AS n_frames, "
            "16::BIGINT AS dim, 0::BIGINT AS n_err FROM documents"
        ),
        "media_features_real": (
            "SELECT 'm-' || doc_id AS media_ref, "
            "CASE (doc_id % 4) WHEN 1 THEN 'audio' WHEN 3 THEN 'video' "
            "ELSE 'image' END AS kind, "
            "CASE WHEN doc_id % 4 = 3 THEN (doc_id % 9 + 1) ELSE 1 "
            "END::BIGINT AS n_frames, "
            "CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END::BIGINT AS n_err, "
            "round(CASE (doc_id % 4) "
            "WHEN 0 THEN (doc_id % 256) / 255.0 "
            "WHEN 1 THEN (doc_id % 7 - 3) * 0.25 "
            "WHEN 2 THEN ((5 * doc_id) % 256) / 255.0 "
            "ELSE 0.0 END, 4) AS f0, "
            "round(CASE (doc_id % 4) "
            "WHEN 0 THEN ((3 * doc_id) % 256) / 255.0 "
            "WHEN 2 THEN ((11 * doc_id) % 256) / 255.0 "
            "ELSE 0.0 END, 4) AS f1, "
            "round(CASE (doc_id % 4) "
            "WHEN 0 THEN ((7 * doc_id) % 256) / 255.0 "
            "WHEN 1 THEN abs(doc_id % 7 - 3) * 0.25 "
            "WHEN 2 THEN ((13 * doc_id) % 256) / 255.0 "
            "ELSE 0.0 END, 4) AS f2, "
            "0.0::DOUBLE AS f3 FROM documents"
        ),
        # Closed-form replay of _q_pdf_extract's render→parse round trip:
        # the PDF writer emits words[:24] of the sanitized text (first 12
        # in span 1, the rest in span 2, image XObject between them when
        # doc_id%3==0), and the layout extractor must reassemble exactly
        # those words — so the expected value is computable from
        # documents.text alone without a PDF in sight.
        "pdf_extract": (
            "SELECT doc_id, 1 AS n_pages, "
            "CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_media, "
            "array_to_string(list_slice(list_filter(string_split("
            "regexp_replace(text, '[^ -~]', ' ', 'g'), ' '), "
            "w -> w <> ''), 1, 24), ' ') AS extracted "
            "FROM documents"
        ),
        # pdf_layout: the furniture (header + page-numbered footer) and
        # the two-column flow must leave EXACTLY words[:36] — computable
        # closed-form, so any layout defect (kept furniture, column
        # misorder, lost wrap line) breaks the hash.
        "pdf_layout": (
            "SELECT doc_id, 3 AS n_pages, "
            "array_to_string(list_slice(list_filter(string_split("
            "regexp_replace(text, '[^ -~]', ' ', 'g'), ' '), "
            "w -> w <> ''), 1, 36), ' ') AS extracted "
            "FROM documents"
        ),
        # pdf_links: /Annots round trip must surface exactly the URIs the
        # writer planted, in page order — reconstructable from doc_id.
        "pdf_links": (
            "SELECT doc_id, "
            "(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END "
            " + CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS n_links, "
            "concat_ws(',', "
            "CASE WHEN doc_id % 2 = 0 "
            "THEN '0:https://ex.org/' || doc_id || '/a' END, "
            "CASE WHEN doc_id % 10 = 0 "
            "THEN '1:https://ex.org/' || doc_id || '/b' END) AS links "
            "FROM documents"
        ),
        "pii_scrub": (
            "WITH seeded AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
            "text || ' contact user' || doc_id || '@example.com or +1-555-'"
            " || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE text END AS t "
            "FROM documents) "
            "SELECT doc_id, "
            "length(regexp_extract_all(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT "
            "AS n_emails, "
            "length(regexp_extract_all(t, "
            "'\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones, "
            "md5(regexp_replace(regexp_replace(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', "
            "'g'), '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) "
            "AS scrub_md5 FROM seeded"
        ),
        "repetition_features": (
            "WITH words AS (SELECT doc_id, unnest(list_filter("
            "string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS w "
            "FROM documents), "
            "pw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2), "
            "agg AS (SELECT doc_id, sum(c)::BIGINT AS n_words, "
            "count(*)::BIGINT AS n_distinct, "
            "(count(*)::DOUBLE / sum(c)) AS distinct_ratio, "
            "(max(c)::DOUBLE / sum(c)) AS top_word_share FROM pw GROUP BY 1) "
            "SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words, "
            "coalesce(a.n_distinct, 0)::BIGINT AS n_distinct, "
            "a.distinct_ratio, a.top_word_share "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "contamination": (
            "WITH words AS (SELECT doc_id, list_filter("
            "string_split_regex(lower(text), '\\s+'), w -> w <> '') AS w "
            "FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "array_to_string(list_slice(w, i, i + 4), ' ') AS s "
            "FROM words, LATERAL unnest(generate_series(1, len(w) - 4)) "
            "AS t(i) WHERE len(w) >= 5), "
            "bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), "
            "agg AS (SELECT sh.doc_id, count(*) AS n_shingles, "
            "sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS n_cont "
            "FROM sh LEFT JOIN bs ON sh.s = bs.s GROUP BY sh.doc_id) "
            "SELECT d.doc_id, coalesce(a.n_shingles, 0)::BIGINT AS n_shingles, "
            "coalesce(a.n_cont, 0)::BIGINT AS n_contaminated, "
            "(a.n_cont::DOUBLE / a.n_shingles) AS contamination "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "knn_join": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv "
            "FROM embeddings WHERE vec_id % 101 = 0), "
            "scored AS (SELECT q.query_id, e.vec_id, "
            "round(list_cosine_similarity(e.embedding, q.qv), 6) AS c, "
            "row_number() OVER (PARTITION BY q.query_id "
            "ORDER BY round(list_cosine_similarity(e.embedding, q.qv), 6) "
            "DESC, e.vec_id) AS rk FROM embeddings e, q) "
            "SELECT query_id, vec_id, round(c, 3) AS cosine, "
            "rk::BIGINT AS rank FROM scored WHERE rk <= 5"
        ),
        "dedup_clusters": (
            # same arithmetic edges; component min via recursive
            # transitive closure over the symmetric edge relation
            "WITH RECURSIVE edges AS (SELECT doc_id AS a, "
            "(doc_id * 2 + 6) % 300 AS b FROM documents "
            "WHERE doc_id % 3 = 0 AND doc_id <> (doc_id * 2 + 6) % 300), "
            "sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges), "
            "reach(id, r) AS (SELECT a, a FROM sym UNION "
            "SELECT s.a, t.r FROM sym s JOIN reach t ON t.id = s.b), "
            "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id) "
            "SELECT d.doc_id, coalesce(c.component, d.doc_id)::BIGINT "
            "AS cluster, (CASE WHEN coalesce(c.component, d.doc_id) = "
            "d.doc_id THEN 1 ELSE 0 END)::INT AS is_canonical "
            "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"
        ),
        "cluster_survivors": (
            # same transitive closure as dedup_clusters, then keep the
            # highest-n_chars doc per cluster (doc_id tie-break)
            "WITH RECURSIVE edges AS (SELECT doc_id AS a, "
            "(doc_id * 2 + 6) % 300 AS b FROM documents "
            "WHERE doc_id % 3 = 0 AND doc_id <> (doc_id * 2 + 6) % 300), "
            "sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges), "
            "reach(id, r) AS (SELECT a, a FROM sym UNION "
            "SELECT s.a, t.r FROM sym s JOIN reach t ON t.id = s.b), "
            "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), "
            "clustered AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) "
            "AS cluster, d.n_chars FROM documents d "
            "LEFT JOIN comp c ON c.id = d.doc_id), "
            "ranked AS (SELECT doc_id, cluster, n_chars, row_number() OVER ("
            "PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk "
            "FROM clustered) "
            "SELECT doc_id, cluster::BIGINT AS cluster, "
            "n_chars::BIGINT AS n_chars FROM ranked WHERE rk = 1"
        ),
        "extract_links": (
            "SELECT doc_id, '/' AS href, 'home' AS anchor_text, "
            "'/' AS norm_url FROM documents "
            "UNION ALL SELECT doc_id, "
            "'HTTP://Example.COM:80/p' || doc_id || '#sec' AS href, "
            "'page ' || doc_id AS anchor_text, "
            "'http://example.com/p' || doc_id AS norm_url FROM documents"
        ),
        "corpus_stats": (
            "WITH b AS (SELECT lang, length(text) AS l, "
            "len(list_filter(string_split_regex(text, '\\s+'), "
            "w -> w <> '')) AS w FROM documents) "
            "SELECT lang, count(*)::BIGINT AS n_docs, "
            "sum(l)::BIGINT AS total_chars, sum(w)::BIGINT AS total_words, "
            "round(quantile_cont(l, 0.5), 4) AS len_p50, "
            "round(quantile_cont(l, 0.9), 4) AS len_p90, "
            "round(quantile_cont(l, 0.99), 4) AS len_p99 "
            "FROM b GROUP BY lang"
        ),
        "train_split": (
            "SELECT doc_id, CASE WHEN h < 5 THEN 'test' "
            "WHEN h < 10 THEN 'val' ELSE 'train' END AS split FROM ("
            "SELECT doc_id, ('0x' || substr(md5('split-v1:' || "
            "doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS h FROM documents)"
        ),
        "stratified_sample": (
            "SELECT doc_id, lang FROM ("
            "SELECT doc_id, lang, ('0x' || substr(md5('sample-v1:' || "
            "doc_id::VARCHAR), 1, 6))::BIGINT % 10000 AS h, "
            "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 "
            "ELSE 1.0 END AS f FROM documents) "
            "WHERE h < CAST(f * 10000 AS BIGINT)"
        ),
        "domain_quota": (
            "SELECT doc_id, source, domain_rank FROM ("
            "SELECT doc_id, source, row_number() OVER ("
            "PARTITION BY source ORDER BY n_chars DESC, doc_id"
            ") AS domain_rank FROM documents) WHERE domain_rank <= 5"
        ),
        "pack_greedy": (
            # greedy first-fit packing is a deterministic fold over the
            # doc_id order; the recursive CTE replays the identical fold
            "WITH RECURSIVE ord AS ("
            "SELECT doc_id, lang, length(list_filter("
            "string_split_regex(text, '\\s+'), w -> length(w) > 0"
            "))::BIGINT AS tokens, row_number() OVER ("
            "PARTITION BY lang ORDER BY doc_id) AS rn FROM documents"
            "), pack AS ("
            "SELECT doc_id, lang, tokens, rn, 0::BIGINT AS bin_id, "
            "tokens AS bin_tokens FROM ord WHERE rn = 1 "
            "UNION ALL "
            "SELECT o.doc_id, o.lang, o.tokens, o.rn, "
            "CASE WHEN p.bin_tokens > 0 AND p.bin_tokens + o.tokens > 512 "
            "THEN p.bin_id + 1 ELSE p.bin_id END, "
            "CASE WHEN p.bin_tokens > 0 AND p.bin_tokens + o.tokens > 512 "
            "THEN o.tokens ELSE p.bin_tokens + o.tokens END "
            "FROM pack p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1"
            ") SELECT doc_id, lang, tokens, bin_id, bin_tokens FROM pack"
        ),
        "pack_greedy_bucketed": (
            # bucket = content-addressed md5 hash (replays Spark's
            # hash_bucket exactly); then the identical greedy fold per
            # (lang, bucket) sub-sequence via the recursive CTE
            "WITH RECURSIVE ord AS ("
            "SELECT doc_id, lang, length(list_filter("
            "string_split_regex(text, '\\s+'), w -> length(w) > 0"
            "))::BIGINT AS tokens, "
            "('0x' || substr(md5('pack-v1:' || doc_id::VARCHAR), 1, 6))"
            "::BIGINT % 8 AS bucket, row_number() OVER ("
            "PARTITION BY lang, ('0x' || substr(md5('pack-v1:' || "
            "doc_id::VARCHAR), 1, 6))::BIGINT % 8 ORDER BY doc_id"
            ") AS rn FROM documents"
            "), pack AS ("
            "SELECT doc_id, lang, tokens, bucket, rn, 0::BIGINT AS bin_id, "
            "tokens AS bin_tokens FROM ord WHERE rn = 1 "
            "UNION ALL "
            "SELECT o.doc_id, o.lang, o.tokens, o.bucket, o.rn, "
            "CASE WHEN p.bin_tokens > 0 AND p.bin_tokens + o.tokens > 512 "
            "THEN p.bin_id + 1 ELSE p.bin_id END, "
            "CASE WHEN p.bin_tokens > 0 AND p.bin_tokens + o.tokens > 512 "
            "THEN o.tokens ELSE p.bin_tokens + o.tokens END "
            "FROM pack p JOIN ord o ON o.lang = p.lang "
            "AND o.bucket = p.bucket AND o.rn = p.rn + 1"
            ") SELECT doc_id, lang, tokens, bucket, bin_id, bin_tokens "
            "FROM pack"
        ),
        "mix_to_budget": (
            # identical md5 mixing order + running token sum; keep rows
            # that START before the budget line (cum - tokens < budget)
            "WITH t AS (SELECT doc_id, lang, length(list_filter("
            "string_split_regex(text, '\\s+'), w -> length(w) > 0"
            "))::BIGINT AS tokens, md5('mix-v1:' || doc_id::VARCHAR) AS h "
            "FROM documents), "
            "c AS (SELECT doc_id, lang, tokens, sum(tokens) OVER ("
            "PARTITION BY lang ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS cum_tokens, "
            "CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 1500 "
            "ELSE NULL END AS budget FROM t) "
            "SELECT doc_id, lang, tokens, cum_tokens FROM c "
            "WHERE budget IS NULL OR cum_tokens - tokens < budget"
        ),
        "text_cleanup": (
            # same seeded dirty suffix (chr: 9=TAB 7=BEL 8203=ZWSP
            # 195/169 = 'Ã'/'©' double-decode pair); RE2 \x{...} escapes
            # match the Java-regex classes used Spark-side
            "WITH seeded AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN "
            "text || chr(9) || 'x' || chr(7) || 'y' || chr(8203) || "
            "'z  w' || chr(195) || chr(169) ELSE text END AS t "
            "FROM documents), "
            "s2 AS (SELECT doc_id, t, regexp_replace(t, "
            "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
            "\\x{200b}-\\x{200d}\\x{feff}]', '', 'g') AS stripped FROM seeded), "
            "s3 AS (SELECT doc_id, t, stripped, "
            "trim(regexp_replace(stripped, '\\s+', ' ', 'g')) AS cleaned "
            "FROM s2) "
            "SELECT doc_id, md5(cleaned) AS clean_md5, "
            "(length(t) - length(stripped))::BIGINT AS n_ctrl, "
            "length(regexp_extract_all(t, chr(195) || "
            "'[\\x{80}-\\x{bf}]'))::BIGINT AS n_mojibake, "
            "(length(t) - length(cleaned))::BIGINT AS n_removed FROM s3"
        ),
        # full-probe IVF join ≡ exact join: same oracle
        "knn_join_ivf": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv "
            "FROM embeddings WHERE vec_id % 101 = 0), "
            "scored AS (SELECT q.query_id, e.vec_id, "
            "round(list_cosine_similarity(e.embedding, q.qv), 6) AS c, "
            "row_number() OVER (PARTITION BY q.query_id "
            "ORDER BY round(list_cosine_similarity(e.embedding, q.qv), 6) "
            "DESC, e.vec_id) AS rk FROM embeddings e, q) "
            "SELECT query_id, vec_id, round(c, 3) AS cosine, "
            "rk::BIGINT AS rank FROM scored WHERE rk <= 5"
        ),
        "training_filter": (
            "WITH words AS (SELECT doc_id, list_filter("
            "string_split_regex(lower(text), '\\s+'), w -> w <> '') AS w "
            "FROM documents), "
            "pw AS (SELECT doc_id, unnest(w) AS uw FROM words), "
            "pwc AS (SELECT doc_id, uw, count(*) AS c FROM pw GROUP BY 1, 2), "
            "rep AS (SELECT doc_id, sum(c) AS n_words, "
            "(count(*)::DOUBLE / sum(c)) AS distinct_ratio FROM pwc "
            "GROUP BY doc_id), "
            "sh AS (SELECT DISTINCT doc_id, "
            "array_to_string(list_slice(w, i, i + 4), ' ') AS s "
            "FROM words, LATERAL unnest(generate_series(1, len(w) - 4)) "
            "AS t(i) WHERE len(w) >= 5), "
            "gc AS (SELECT s, count(*) AS docs FROM sh GROUP BY s), "
            "cov AS (SELECT sh.doc_id, "
            "(sum(CASE WHEN gc.docs > 1 THEN 1 ELSE 0 END)::DOUBLE / "
            "count(*)) AS dup_coverage FROM sh JOIN gc USING (s) "
            "GROUP BY sh.doc_id), "
            "bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), "
            "con AS (SELECT sh.doc_id, "
            "(sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / "
            "count(*)) AS contamination FROM sh LEFT JOIN bs ON sh.s = bs.s "
            "GROUP BY sh.doc_id) "
            "SELECT d.doc_id, coalesce(r.n_words, 0)::BIGINT AS n_words, "
            "(coalesce(r.n_words, 0) >= 10 AND r.distinct_ratio >= 0.35 AND "
            "coalesce(c.dup_coverage, 0) <= 0.5 AND "
            "coalesce(k.contamination, 0) <= 0.2) AS keep, "
            "CASE WHEN coalesce(r.n_words, 0) < 10 THEN 'too_few_words' "
            "WHEN r.distinct_ratio < 0.35 THEN 'repetitive' "
            "WHEN coalesce(c.dup_coverage, 0) > 0.5 THEN 'duplicated' "
            "WHEN coalesce(k.contamination, 0) > 0.2 THEN 'contaminated' "
            "ELSE NULL END AS drop_reason "
            "FROM documents d LEFT JOIN rep r USING (doc_id) "
            "LEFT JOIN cov c USING (doc_id) "
            "LEFT JOIN con k USING (doc_id)"
        ),
        "dup_coverage": (
            "WITH words AS (SELECT doc_id, list_filter("
            "string_split_regex(lower(text), '\\s+'), w -> w <> '') AS w "
            "FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "array_to_string(list_slice(w, i, i + 4), ' ') AS s "
            "FROM words, LATERAL unnest(generate_series(1, len(w) - 4)) "
            "AS t(i) WHERE len(w) >= 5), "
            "gc AS (SELECT s, count(*) AS docs FROM sh GROUP BY s), "
            "agg AS (SELECT sh.doc_id, count(*) AS n_shingles, "
            "sum(CASE WHEN gc.docs > 1 THEN 1 ELSE 0 END) AS n_dup "
            "FROM sh JOIN gc USING (s) GROUP BY sh.doc_id) "
            "SELECT d.doc_id, coalesce(a.n_shingles, 0)::BIGINT AS n_shingles, "
            "coalesce(a.n_dup, 0)::BIGINT AS n_dup, "
            "(a.n_dup::DOUBLE / a.n_shingles) AS dup_coverage "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "events_lag": (
            "SELECT event_id, user_id, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type "
            "FROM events"
        ),
        "events_nth": (
            "SELECT event_id, user_id, rnk::BIGINT AS rnk FROM ("
            "SELECT event_id, user_id, row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS rnk FROM events) "
            "WHERE (rnk - 1) % 3 = 0"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "count(*)::BIGINT AS count_order "
            "FROM lineitem WHERE l_shipdate <= '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "revenue_by_nation": (
            "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) "
            "AS revenue FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name"
        ),
    }
