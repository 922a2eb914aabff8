"""Physical-plan quality assertions (SURVEY.md §4.2): predicate pushdown
reaches the parquet scan, column pruning holds, small dims broadcast,
aggregates have map-side partials, and the Python path is Arrow-eval."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    p = plan(q)
    assert "PushedFilters" in p and "lang" in p.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", "text")
    p = plan(q)
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_extract_pipeline_prunes_columns(spark):
    """The extraction stage must not drag extra columns through Python."""
    import __spark_entry__ as entry
    from sparkhtml.spark.pipeline import extract_spans_df

    docs = entry._interleaved(spark, SF)
    p = plan(extract_spans_df(docs))
    # RecordBatch-native crossing (round-5: no pandas materialization of
    # the nested spans struct in either direction)
    assert "MapInArrow" in p
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_fan_out_guards(spark):
    """fan_out adds one exchange only to an underpartitioned batch input of
    at least FAN_OUT_MIN_BYTES: an input already at default parallelism
    keeps its plan (the 100 TB no-op) and a streaming frame is untouched."""
    from sparkhtml.spark.partitioning import FAN_OUT_MIN_BYTES, fan_out

    target = spark.sparkContext.defaultParallelism
    assert target > 2  # so a single partition is under half of it
    wide = spark.range(0, FAN_OUT_MIN_BYTES, numPartitions=target)
    size = wide._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) >= FAN_OUT_MIN_BYTES
    assert fan_out(wide) is wide
    assert "Exchange" not in plan(wide)

    narrow = wide.coalesce(1)
    assert plan(fan_out(narrow)).count("Exchange") == \
        plan(narrow).count("Exchange") + 1

    stream = spark.readStream.format("rate").load()
    assert fan_out(stream) is stream


def test_fan_out_runs_no_job(spark):
    """fan_out reads a shuffled frame's partition count from the plan: under
    AQE, ``df.rdd`` would run the shuffle below it as a job."""
    from sparkhtml.spark.partitioning import FAN_OUT_MIN_BYTES, fan_out

    sc = spark.sparkContext
    df = spark.range(0, FAN_OUT_MIN_BYTES, numPartitions=1).repartition(8, "id")
    sc.setJobGroup("fan-out-plan", "fan-out-plan")
    try:
        assert fan_out(df) is df
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fan-out-plan") == []


def test_broadcast_join_for_small_dims(spark):
    import __spark_entry__ as entry

    q = entry._q_revenue_by_nation(spark, SF)
    p = plan(q)
    assert "BroadcastHashJoin" in p


def test_partial_aggregation(spark):
    import __spark_entry__ as entry

    q = entry._q_pricing_summary(spark, SF)
    p = plan(q)
    # two HashAggregate levels = map-side partial + final
    assert p.count("HashAggregate") >= 2


def test_udfs_are_arrow_not_batch_python(spark):
    from sparkhtml.spark.pipeline import html_escape

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(html_escape("text"))
    p = plan(q)
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p  # row-at-a-time python would be this


def test_selector_plan_uses_hash_join_not_nested_loop(spark):
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    df = spark.createDataFrame(
        [(str(i), "<div><p>a</p></div>") for i in range(4)], ["doc_id", "html"]
    )
    nodes = parse_nodes_df(df)
    p = plan(css_select_df(nodes, "div > p"))
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_minhash_shingles_not_reevaluated(spark):
    """Regression guard for the higher-order-function inlining trap: the
    optimized plan must contain exactly one shingle-split per row source
    (the lambda binding), not one per hash seed."""
    from sparkhtml.spark.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = optimized(minhash_signatures(docs, n_hashes=8))
    # normalized_text's regexp_replace appears once in the bound words
    # expression; >2 occurrences means per-branch re-evaluation is back
    assert opt.count("regexp_replace") <= 2, opt.count("regexp_replace")


def test_exact_dedup_single_shuffle(spark):
    from sparkhtml.spark.dedup import exact_dup_groups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(exact_dup_groups(docs))
    # one exchange for the groupBy — no extra repartitions
    assert p.count("Exchange") <= 2


def test_css_select_parses_corpus_once(spark):
    """A multi-compound selector over a LIVE parse must not re-parse the
    corpus once per compound: css_select_df auto-persists the nodes input,
    so the physical plan shows ONE MapInArrow (inside the InMemoryRelation)
    and the join sides read the cache (regression: two parses per join)."""
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    df = spark.createDataFrame(
        [(str(i), "<div><p>a</p><span>b</span></div>") for i in range(4)],
        ["doc_id", "html"],
    )
    nodes = parse_nodes_df(df)
    out = css_select_df(nodes, "div > p")
    p = plan(out)
    # every parse crossing (MapInArrow since round 5) in the printed plan
    # must sit under a cached InMemoryRelation (the cache manager dedupes
    # them to ONE execution); a bare crossing on a join side means a
    # second live parse
    assert "InMemoryTableScan" in p
    assert p.count("MapInArrow") == p.count("InMemoryRelation"), p
    assert out.count() == 4
    # default ordering is partition-local: no global Sort exchange on top
    assert "rangepartitioning" not in p.lower().replace(" ", "")


def test_css_select_no_persist_for_materialized_input(spark, tmp_path):
    """A parquet-backed nodes table must NOT be force-cached (that would
    defeat predicate pushdown and spend memory for a cheap re-scan)."""
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    df = spark.createDataFrame(
        [("1", "<div><p>a</p></div>")], ["doc_id", "html"]
    )
    path = str(tmp_path / "nodes.parquet")
    parse_nodes_df(df).write.mode("overwrite").parquet(path)
    nodes = spark.read.parquet(path)
    out = css_select_df(nodes, "div > p")
    assert "InMemoryTableScan" not in plan(out)
    assert out.count() == 1


def test_textstats_single_tokenization(spark):
    """lang_id / quality_features bind the word array once: exactly one
    split(...) in the optimized plan (regression: one re-tokenize per
    language / per feature via HOF-lambda inlining)."""
    from sparkhtml.spark.textstats import lang_id, quality_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert optimized(lang_id(docs)).count("split(") == 1
    assert optimized(quality_features(docs)).count("split(") == 1


def test_extraction_pipeline_has_no_shuffle(spark):
    """The north-rule pipeline is embarrassingly parallel: scan → project →
    one MapInArrow, ZERO exchanges — the property that makes it scan-local
    at 1000 executors."""
    import __spark_entry__ as entry
    from sparkhtml.spark.pipeline import extract_spans_df

    p = plan(extract_spans_df(entry._interleaved(spark, SF)))
    assert "Exchange" not in p, p


def test_repetition_features_has_no_shuffle(spark):
    """repetition_features signals are document-local, so the plan must be
    scan-local per-row expressions: ZERO exchanges and zero Python (the
    round-3 explode + two-level aggregate shuffled ~corpus-sized word rows
    at 100 TB for nothing)."""
    from sparkhtml.spark.textstats import repetition_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(repetition_features(docs))
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_sampling_has_no_shuffle(spark):
    """Split/sample are per-row hash expressions: scan-local, zero
    Exchange, zero Python."""
    from sparkhtml.spark.sampling import stratified_sample, train_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for q in (train_split(docs), stratified_sample(docs, fractions={"en": 0.5})):
        p = plan(q)
        assert "Exchange" not in p, p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_text_cleanup_has_no_shuffle(spark):
    """text_cleanup is per-row regexp work: scan-local, zero Exchange,
    zero Python."""
    from sparkhtml.spark.textstats import text_cleanup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(text_cleanup(docs))
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_drop_repeated_spans_broadcast_plan(spark):
    """The default (broadcast) path must not shuffle the wide table: the
    only exchanges belong to the small blocklist branch (exploded-key
    aggregate + single-row collect), and the wide side is re-filtered in
    place via a 1-row BroadcastNestedLoopJoin — no posexplode/collect_list
    reassembly of the corpus."""
    import __spark_entry__ as entry
    from sparkhtml.spark.dedup import drop_repeated_spans

    inp = entry._interleaved(spark, SF)
    p = plan(drop_repeated_spans(inp, min_df=2))
    assert "BroadcastNestedLoopJoin" in p, p
    assert p.count("Exchange") <= 3, p  # blocklist branch only
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    # the reassembly pattern of the shuffle fallback must be absent
    assert "posexplode" not in p.lower(), p


def test_lsh_pairs_stream_from_bucket_members(spark):
    """minhash and simhash pairs come from a posexplode of each bucket's
    sorted member list followed by an explode of the members after each
    one: no ``flatten(transform(...))`` array holds a bucket's whole pair
    list in one row."""
    import re

    from sparkhtml.spark.dedup import minhash_lsh_pairs, simhash_near_dups

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    for q in (minhash_lsh_pairs(docs), simhash_near_dups(docs)):
        p = plan(q)
        assert "flatten(" not in p, p
        # the tree string lists a consumer before its input: the pair
        # explode sits directly over the member posexplode
        gens = re.findall(r"Generate (posexplode|explode)\((\w+)", p)
        assert gens[:2] == [("explode", "slice"), ("posexplode", "_m")], p


def test_cosine_neardup_norms_precomputed(spark):
    """cosine_near_dup_pairs must evaluate the O(dim) norm aggregate once
    per ROW (projected before the bucket self-join), not once per candidate
    PAIR in the join output (VERDICT r2 finding). The post-join projection
    may therefore contain exactly one aggregate lambda — the dot product."""
    from sparkhtml.spark.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = cosine_near_dup_pairs(emb, threshold=0.9, dim=64)
    opt = optimized(q)
    # the optimized plan prints top-down: everything before the Join line
    # is the post-join side of the tree
    lines = opt.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "Join" in ln)
    above = "\n".join(lines[:join_at])
    assert above.count("aggregate(") == 1, above


def test_media_real_decode_plan_zero_shuffle(spark):
    """media_features_real is scan → generate-payloads (mapInPandas) →
    decode (mapInArrow): two Python crossings, no shuffle — the shape
    that stays scan-local on 1000 executors."""
    import __spark_entry__ as entry

    p = plan(entry._q_media_features_real(spark, SF))
    assert p.lower().count("mapinpandas") + p.lower().count("mapinarrow") >= 2
    assert "Exchange" not in p


def test_contamination_broadcasts_bench_side(spark):
    """Decontamination joins the training shingles against a BROADCAST of
    the benchmark shingle set — no shuffle of the big side for the probe."""
    import __spark_entry__ as entry

    p = plan(entry._q_contamination(spark, SF))
    assert "BroadcastHashJoin" in p


def test_knn_join_broadcasts_queries(spark):
    """Batch k-NN joins the corpus against BROADCAST queries — one corpus
    scan for N queries, never a shuffle of the big side for scoring."""
    import __spark_entry__ as entry

    p = plan(entry._q_knn_join(spark, SF))
    assert "Broadcast" in p  # BroadcastNestedLoopJoin


def test_knn_join_ivf_is_equi_join(spark):
    """The IVF variant must join corpus rows to queries by CLUSTER ID —
    a BroadcastHashJoin on the equi-key, not the exact join's nested
    loop — so at partial probe each corpus row scores only against the
    queries probing its cluster."""
    from sparkhtml.spark.similarity import IVFIndex, knn_join_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = IVFIndex(k=4).fit(emb)
    p = plan(knn_join_ivf(emb, queries, idx, k=5, n_probe=2))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the corpus-side cluster-assign UDF must run ONCE per row — a
    # nullable join key makes Catalyst generate an isnotnull pre-filter
    # with its own ArrowEvalPython, doubling the Python crossing
    assert p.count("ArrowEvalPython [_assign") == 1, p


# --------------------------------------------------- selector plan coverage

_WEBKIT_PLIST = "/root/reference/Utilities/Fixtures/query-selector.plist"
_WEBKIT_HTML = "/root/reference/Utilities/Fixtures/query-selector.html"

# one probe per matcher feature class (Q1-Q20) — the compile-coverage
# contract: EVERYTHING the in-UDF matcher supports must also compile to a
# DataFrame plan (zero UnsupportedSelector fallbacks; COVERAGE.md §2.4)
_FEATURE_PROBES = [
    "*", "div", "#i", ".c", "[a]", "[a=b]", "[a~=b]", "[a^=b]", "[a$=b]",
    "[a*=b]", "[a|=b]", "div p", "div > p", "div + p", "div ~ p",
    "p:first-child", "p:last-child", "p:only-child", "p:first-of-type",
    "p:last-of-type", "p:only-of-type", "p:nth-child(2n+1)",
    "p:nth-last-child(2)", "p:nth-of-type(odd)", "p:nth-last-of-type(even)",
    "p:empty", ":root", "a:link", "input:enabled", "input:disabled",
    "input:checked", "a:visited", "a:active", "a:hover", "a:focus",
    "p:not(.c)", "p:not(#i):not(.c)", "p:not(div p)", "p:not(div > p)",
    "div p:empty", "div > p:enabled", "a, p", "div p + a ~ b",
    "p:not(*)", "p:not([a=b])", ":not(p)",
]


def _webkit_selectors():
    import plistlib

    with open(_WEBKIT_PLIST, "rb") as f:
        suites = plistlib.load(f)
    return [s for su in suites for s in su["selectors"]]


def test_selector_plan_compiles_entire_feature_space(spark):
    """Every selector the in-UDF matcher supports — all 53 WebKit-suite
    selectors plus one probe per feature class — compiles to a DataFrame
    plan; the UDF fallback path is never required (HTMLSelector.m:806-852
    compiles everything; so do we)."""
    import os

    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    df = spark.createDataFrame([("d", "<div><p>a</p></div>")],
                               ["doc_id", "html"])
    nodes = parse_nodes_df(df)
    sels = list(_FEATURE_PROBES)
    if os.path.exists(_WEBKIT_PLIST):
        sels += _webkit_selectors()
    for s in sels:
        css_select_df(nodes, s, sort="none")  # raises UnsupportedSelector


def test_selector_plan_parity_webkit_subset(spark):
    """Execution parity plan-vs-matcher on the real WebKit fixture doc for
    a subset covering each structural class (the full 53 ran green as a
    one-off — 0 mismatches; this pins a fast representative sample)."""
    import os

    if not os.path.exists(_WEBKIT_HTML):
        pytest.skip("reference WebKit fixture not present")
    from sparkhtml.dom import FlatDOM
    from sparkhtml.selector import CompiledSelector
    from sparkhtml.spark.pipeline import parse_nodes_df
    from sparkhtml.spark.queries import css_select_df

    html = open(_WEBKIT_HTML, encoding="utf-8", errors="replace").read()
    dom = FlatDOM.from_html(html)
    df = spark.createDataFrame([("d0", html)], ["doc_id", "html"])
    nodes = parse_nodes_df(df).cache()
    nodes.count()
    # (selector, truth match count on the fixture) — the WebKit suite is
    # built so each complex chain hits exactly its one marked element;
    # these counts pin TRUTH, not just plan-vs-matcher agreement (which
    # held even under the shared pre-round-5 chain bug)
    subset = [
        ("html body div>#complex-multi-rules1 .some-class "
         "li[data-bar].some-class", 1),
        ("#complex-multi-rules4 #complex-multi-rules4-sub1 "
         "#complex-multi-rules4-sub2 #complex-multi-rules4-sub3", 1),
        ("div#complex-multi-rules5>div div#complex-multi-rules5-left ul "
         ".other-class p img#complex-multi-rules5-image", 1),
        ("form[name='complex-multi-rules6-form']>div>div>"
         "input[name='complex-multi-rules6-file-input']", 1),
        ("div div.some-class a.other-class div.another-class div "
         "p.result-class", 1),
        ("[title='WebKit Template Framework']", 1),
        ("[data-foo=bar]", 1),
        ("#duplicate-id", 3),
        (".result-class", 1),
        ("summary", 1),
    ]
    try:
        for s, want in subset:
            plan_ids = sorted(
                r["node_id"]
                for r in css_select_df(nodes, s, sort="none")
                .select("node_id").collect()
            )
            udf_ids = sorted(CompiledSelector(s).match_ids(dom))
            assert plan_ids == udf_ids, s
            assert len(udf_ids) == want, (s, len(udf_ids), want)
    finally:
        nodes.unpersist()
