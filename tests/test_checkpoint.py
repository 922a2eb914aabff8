"""ChunkedRun waves and run_extract resume: job counts, on-disk layout,
the wave's one exchange and its spread, crash atomicity of a multi-chunk
wave, empty chunks, one pass that reads the input once and commits the
giants in their chunks, the refusal of a two-pass output, the metrics
output as a projection of the files, null rows, and the job over a PDF
corpus."""

import importlib.util
import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.readwriter import DataFrameWriter

from datagen.interleaved import make_corpus
from sparkhtml.spark import checkpoint, schemas
from sparkhtml.spark.checkpoint import ChunkedRun
from sparkhtml.spark.partitioning import plan_size_bytes, straggler_split
from sparkhtml.spark.pdf import build_pdf, pdf_extract_spans
from sparkhtml.spark.pipeline import extract_spans_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(
        list(make_corpus(60)), schema=schemas.DOCUMENTS_INTERLEAVED
    )
    df.cache().count()
    yield df
    df.unpersist()


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; returns (result, jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(out):
    recs = {}
    for name in os.listdir(os.path.join(out, "_manifest")):
        if name.startswith("chunk-"):
            with open(os.path.join(out, "_manifest", name)) as f:
                rec = json.load(f)
            recs[rec["chunk"]] = rec
    return recs


def _doc_ids(out):
    """How often each doc_id appears across the chunk=<c>/ outputs."""
    return Counter(
        i for d in os.listdir(out) if d.startswith("chunk=")
        for i in pq.read_table(os.path.join(out, d), columns=["doc_id"])
        .column("doc_id").to_pylist())


def _written_plans(monkeypatch):
    """Physical plans of every DataFrame written through parquet()."""
    plans = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **k):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    return plans


def test_one_wave_few_jobs_and_chunk_layout(spark, docs, tmp_path):
    """A small input is one wave: at most 3 jobs for 16 chunks, and the
    files sit under chunk=<c>/ without a chunk column, one file per chunk
    (each chunk has one writer)."""
    out = str(tmp_path / "out")
    summary, n_jobs = _jobs(spark, "one-wave", lambda: ChunkedRun(
        spark, out, n_chunks=16).run(docs, extract_spans_df))
    assert n_jobs <= 3
    assert summary == {"resumed": 0, "processed": 16, "rows": 60}
    recs = _manifest(out)
    assert sorted(recs) == list(range(16))
    assert sum(r["n_rows"] for r in recs.values()) == 60
    for c, rec in recs.items():
        d = os.path.join(out, f"chunk={c}")
        if rec["n_rows"]:
            files = [n for n in os.listdir(d) if n.endswith(".parquet")]
            assert len(files) == 1, (c, files)
            table = pq.read_table(d)
            assert "chunk" not in table.column_names
            assert table.num_rows == rec["n_rows"]
    assert sorted(_doc_ids(out).values()) == [1] * 60


def _files_per_chunk(out):
    return {d: sum(n.endswith(".parquet") for n in os.listdir(
        os.path.join(out, d))) for d in os.listdir(out)
        if d.startswith("chunk=")}


def test_every_wave_writes_through_one_exchange(spark, docs, tmp_path,
                                                monkeypatch):
    """Each wave's written plan has one exchange, the deal below the
    worker, and no regroup above it: one-chunk waves, a 2-chunk wave
    (k < P: each chunk from up to P/k tasks) and a 16-chunk wave (k ≥ P:
    one file per chunk)."""
    plans = _written_plans(monkeypatch)
    monkeypatch.setattr(checkpoint, "WAVE_MIN_BYTES", 0)
    ChunkedRun(spark, str(tmp_path / "per-chunk"), n_chunks=2,
               partitions=8).run(docs, extract_spans_df)
    monkeypatch.setattr(checkpoint, "WAVE_MIN_BYTES", plan_size_bytes(docs))
    two = str(tmp_path / "two")
    ChunkedRun(spark, two, n_chunks=2, partitions=8).run(
        docs, extract_spans_df)
    sixteen = str(tmp_path / "sixteen")
    ChunkedRun(spark, sixteen, n_chunks=16, partitions=8).run(
        docs, extract_spans_df)
    assert len(plans) == 4
    for plan in plans:
        exchanges = re.findall(r"\bExchange (\w+)", plan)
        assert exchanges == ["shufflepartitionidpassthrough"], plan
        assert plan.index("MapInArrow") < plan.index("Exchange"), plan
    assert 1 <= max(_files_per_chunk(two).values()) <= 4
    per_chunk = _files_per_chunk(sixteen)
    assert per_chunk and set(per_chunk.values()) == {1}, per_chunk


def test_deal_spreads_a_wave_over_every_task(spark, tmp_path):
    """On 2,000 docs at P = 8: a 16-chunk wave gives no task over 1.2×
    the mean docs, and a one-chunk wave of 4 chunks fills all 8 tasks
    (a spread by the chunk hash itself would fill 2)."""
    docs = spark.range(2000).select(F.col("id").cast("string")
                                    .alias("doc_id"))

    def per_task(run, wave):
        rows = run.deal(docs, wave).groupBy(
            F.spark_partition_id().alias("p")).count().collect()
        return [r["count"] for r in rows]

    counts = per_task(ChunkedRun(spark, str(tmp_path / "a"), n_chunks=16,
                                 partitions=8), list(range(16)))
    assert len(counts) == 8 and sum(counts) == 2000
    assert max(counts) <= 1.2 * 2000 / 8, counts
    one = ChunkedRun(spark, str(tmp_path / "b"), n_chunks=4, partitions=8)
    for chunk in range(4):
        assert len(per_task(one, [chunk])) == 8, chunk


def test_crashed_wave_leaves_no_manifest_entry(spark, docs, tmp_path,
                                               monkeypatch):
    """Two 2-chunk waves; the second fails inside its Spark job. None of
    its chunks reach the manifest or the output, and the re-run writes
    every doc exactly once."""
    size = plan_size_bytes(docs)
    monkeypatch.setattr(checkpoint, "WAVE_MIN_BYTES", size // 2)
    out = str(tmp_path / "out")
    run = ChunkedRun(spark, out, n_chunks=4)
    assert run.chunks_per_wave(docs) == 2
    calls = {"n": 0}

    def boom(batches):
        raise RuntimeError("boom")
        yield  # pragma: no cover - makes this a generator

    def failing(d):
        calls["n"] += 1
        spans = extract_spans_df(d)
        return spans.mapInArrow(boom, spans.schema) if calls["n"] == 2 \
            else spans

    with pytest.raises(Exception):
        run.run(docs, failing)
    assert calls["n"] == 2
    assert run.completed_chunks() == {0, 1}
    assert not any(os.path.exists(os.path.join(out, f"chunk={c}"))
                   for c in (2, 3))
    summary = ChunkedRun(spark, out, n_chunks=4).run(docs, extract_spans_df)
    assert summary["resumed"] == 2 and summary["processed"] == 2
    assert sorted(_doc_ids(out).values()) == [1] * 60


def test_empty_chunk_recorded_ok(spark, docs, tmp_path):
    """Chunks no document hashes into are recorded ok with n_rows 0; an
    output with no files reads as empty under a given schema."""
    out = str(tmp_path / "out")
    summary = ChunkedRun(spark, out, n_chunks=128).run(docs, extract_spans_df)
    recs = _manifest(out)
    assert sorted(recs) == list(range(128))
    assert all(r["status"] == "ok" for r in recs.values())
    empty = [c for c, r in recs.items() if r["n_rows"] == 0]
    assert len(empty) >= 128 - 60
    assert not any(os.path.exists(os.path.join(out, f"chunk={c}"))
                   for c in empty)
    assert summary["rows"] == 60
    no_files = ChunkedRun(spark, str(tmp_path / "no-files"), n_chunks=2)
    assert no_files.output_df(schemas.EXTRACT_METRICS).count() == 0


def _run_extract():
    path = os.path.join(REPO, "scripts", "run_extract.py")
    spec = importlib.util.spec_from_file_location("run_extract", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_job_metrics_are_a_projection_of_the_output(spark, tmp_path,
                                                    monkeypatch, capsys):
    """The chunk files carry the metric columns, output_df reads every
    doc, giants included, and --metrics-output holds one row per input
    doc. A resumed run rewrites the metrics from the files, running no
    Python worker."""
    inp = str(tmp_path / "in")
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    spark.createDataFrame(corpus, schema=schemas.DOCUMENTS_INTERLEAVED) \
        .write.parquet(inp)
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    argv = ["--input", inp, "--output", out, "--chunks", "4",
            "--straggler-chars", "12000", "--metrics-output", metrics]
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    main = _run_extract().main
    ids = sorted(d["doc_id"] for d in corpus)
    assert _has_giants(corpus)

    assert main(argv) == 0
    first = _summary(capsys)
    assert first["rows"] == len(corpus) and first["n_stragglers"] == 0
    for c in range(4):
        assert pq.read_table(os.path.join(out, f"chunk={c}")).schema.names \
            == schemas.EXTRACTED.fieldNames()
    rows = ChunkedRun(spark, out, n_chunks=4).output_df().collect()
    assert sorted(r["doc_id"] for r in rows) == ids
    assert all(r["n_spans_out"] == len(r["spans"]) for r in rows)
    table = pq.read_table(metrics)
    assert table.schema.names == schemas.EXTRACT_METRICS.fieldNames()
    assert sorted(table.column("doc_id").to_pylist()) == ids

    plans = _written_plans(monkeypatch)
    assert main(argv) == 0
    assert len(plans) == 1 and "MapInArrow" not in plans[0], plans
    assert sorted(pq.read_table(metrics).column("doc_id").to_pylist()) == ids


def _corpus_input(spark, tmp_path, rows, schema):
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=schema).write.parquet(inp)
    return inp


def _summary(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _has_giants(corpus):
    """Whether a doc holds more than 12,000 text chars, the
    --straggler-chars these tests pass."""
    return any(sum(len(s["text"] or "") for s in d["spans"] or []) > 12000
               for d in corpus)


def _describe_writes(monkeypatch, sc):
    """Each parquet write's jobs are described by its destination's
    basename."""
    parquet = DataFrameWriter.parquet

    def described(self, path, *a, **k):
        sc.setJobDescription(os.path.basename(path.rstrip("/")))
        try:
            return parquet(self, path, *a, **k)
        finally:
            sc.setJobDescription(None)

    monkeypatch.setattr(DataFrameWriter, "parquet", described)


def _group_jobs(sc, group):
    """{description: [job id]} of a job group's jobs, read once the
    listener bus has recorded every event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs: dict = {}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = sc._jsc.sc().statusStore().job(jid)
        desc = job.description().get() if job.description().isDefined() \
            else None
        jobs.setdefault(desc, []).append(jid)
    return jobs


def _scanned_rows(sc, job_ids):
    """Rows the stages of these jobs read from their data sources."""
    store = sc._jsc.sc().statusStore()
    stages = {s for j in job_ids
              for s in sc.statusTracker().getJobInfo(j).stageIds}
    return sum(store.lastStageAttempt(s).inputRecords() for s in stages)


def test_one_pass_reads_each_input_row_once(spark, tmp_path, monkeypatch,
                                             capsys):
    """A one-wave main over an input with giants over --straggler-chars:
    the scans emit each input row once, and every job belongs to the
    wave's write or the metrics projection, beside at most one schema job
    for the input."""
    sc = spark.sparkContext
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    assert _has_giants(corpus)
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    _describe_writes(monkeypatch, sc)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sc.setJobGroup("one-pass", "one-pass")
    sc.setJobDescription(None)  # jobs outside a write stay undescribed
    try:
        assert _run_extract().main([
            "--input", inp, "--output", str(tmp_path / "out"),
            "--chunks", "4", "--straggler-chars", "12000",
            "--metrics-output", str(tmp_path / "metrics")]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _summary(capsys)["processed"] == 4
    jobs = _group_jobs(sc, "one-pass")
    assert set(jobs) - {None} == {"out", "metrics"}, jobs
    assert len(jobs.get(None, [])) <= 1, jobs
    reads = jobs["out"] + jobs.get(None, [])
    assert _scanned_rows(sc, reads) == len(corpus)


def test_giants_commit_in_their_chunks(spark, tmp_path, monkeypatch,
                                       capsys):
    """Docs over --straggler-chars are committed in their chunk=<c>/
    directories like every other doc: rows == docs, n_stragglers 0, and
    the output reads as one table holding every doc once."""
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    assert _has_giants(corpus)
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    out = str(tmp_path / "out")
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    assert _run_extract().main(["--input", inp, "--output", out,
                                "--chunks", "4",
                                "--straggler-chars", "12000"]) == 0
    summary = _summary(capsys)
    assert summary["rows"] == len(corpus) and summary["n_stragglers"] == 0
    ids = Counter(r.doc_id for r in spark.read.parquet(out)
                  .select("doc_id").collect())
    assert sorted(ids) == sorted(d["doc_id"] for d in corpus)
    assert set(ids.values()) == {1}


def _tree(root):
    """{relative path: file bytes, or None for a directory}."""
    found = {}
    for d, dirs, files in os.walk(root):
        for name in dirs:
            found[os.path.relpath(os.path.join(d, name), root)] = None
        for name in files:
            with open(os.path.join(d, name), "rb") as f:
                found[os.path.relpath(os.path.join(d, name), root)] = f.read()
    return found


@pytest.mark.parametrize(
    "old", ["stragglers", os.path.join("_manifest", "stragglers.json")],
    ids=["dir", "manifest"])
def test_two_pass_output_is_refused_untouched(spark, tmp_path, monkeypatch,
                                              capsys, old):
    """An output written by the two-pass job (``stragglers/`` or its
    manifest entry) is refused before any Spark job, with a message
    naming the path, and is left as it was: a resume would skip its
    committed chunks and never read its giants again."""
    sc = spark.sparkContext
    corpus = list(make_corpus(20, seed=3))
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    out = tmp_path / "out"
    (out / "_manifest").mkdir(parents=True)
    (out / "_manifest" / "chunk-00000.json").write_text(
        '{"chunk": 0, "status": "ok", "n_rows": 0, "wall_ms": 1}')
    if old == "stragglers":
        (out / "stragglers").mkdir()
    else:
        (out / old).write_text('{"status": "ok", "n_stragglers": 0}')
    before = _tree(out)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sc.setJobGroup("two-pass", "two-pass")
    try:
        with pytest.raises(SystemExit):
            _run_extract().main(["--input", inp, "--output", str(out),
                                 "--chunks", "2"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert str(out / old) in capsys.readouterr().err
    assert _tree(out) == before
    assert _group_jobs(sc, "two-pass") == {}


def test_null_size_rows_come_out_once(spark, tmp_path, monkeypatch, capsys):
    """A null-spans row (and a null payload) has size 0: straggler_split
    keeps it with the normal rows. The job writes every row once, with
    empty spans and metrics for the null one, whatever --straggler-chars
    says."""
    from pyspark.sql import functions as F

    rows = [("a", [{"kind": "text", "text": "<p>alpha beta gamma delta "
                    "epsilon</p>", "media_ref": None, "offset": 0}]),
            ("b", None), ("c", [])]
    df = spark.createDataFrame(rows, schema=schemas.DOCUMENTS_INTERLEAVED)
    normal, strag = straggler_split(df, 0)
    assert sorted(r.doc_id for r in normal.collect()) == ["b", "c"]
    assert [r.doc_id for r in strag.collect()] == ["a"]
    blobs = spark.createDataFrame([("x", None)], "doc_id string, payload binary")
    normal, _ = straggler_split(blobs, 10, F.length("payload"))
    assert [r.doc_id for r in normal.collect()] == ["x"]

    inp = _corpus_input(spark, tmp_path, rows, schemas.DOCUMENTS_INTERLEAVED)
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    assert _run_extract().main(["--input", inp, "--output", out, "--chunks",
                                "2", "--straggler-chars", "0",
                                "--metrics-output", metrics]) == 0
    summary = _summary(capsys)
    assert summary["rows"] == 3 and summary["n_stragglers"] == 0
    got = ChunkedRun(spark, out, n_chunks=2).output_df().collect()
    assert sorted(r.doc_id for r in got) == ["a", "b", "c"]
    assert {r.doc_id: r.spans for r in got}["b"] == []
    assert sorted(pq.read_table(metrics).column("doc_id").to_pylist()) == \
        ["a", "b", "c"]


def _span_key(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]


def test_pdf_job_commits_the_parsed_spans(spark, tmp_path, monkeypatch,
                                          capsys):
    """A (doc_id, payload) corpus runs the PDF worker in the wave, the
    blob over --straggler-chars included: every doc's spans are
    pdf_extract_spans' (short runs, literal "&amp;" and "<" kept as they
    are), bad blobs are rows with err set, and the error and metrics
    tables are projections of the files, so a resumed run executes no
    Python worker."""
    blobs = {}
    for i in range(20):
        blobs[f"p{i:02d}"] = build_pdf([[
            ("text", f"Short {i}."),
            ("image",),
            ("text", f"Fish &amp; chips for {i} < {i + 1} guests."),
        ]] * (1 + i % 3))
    blobs["big"] = build_pdf([[("text", " ".join(
        f"word{j}" for j in range(400))), ("image",)]] * 6)
    bad = {"junk": b"%PDF-1.4 not really", "null": None}
    rows = [(k, bytearray(v) if v is not None else None)
            for k, v in {**blobs, **bad}.items()]
    inp = _corpus_input(spark, tmp_path, rows, "doc_id string, payload binary")
    out, metrics = str(tmp_path / "out"), str(tmp_path / "metrics")
    size = max(len(v) for k, v in blobs.items() if k != "big")
    assert len(blobs["big"]) > size
    argv = ["--input", inp, "--output", out, "--chunks", "4",
            "--straggler-chars", str(size), "--metrics-output", metrics]
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    main = _run_extract().main

    assert main(argv) == 0
    summary = _summary(capsys)
    assert summary["rows"] == len(rows) and summary["n_stragglers"] == 0
    assert "big" in _doc_ids(out)
    got = ChunkedRun(spark, out, n_chunks=4).output_df().collect()
    assert sorted(r.doc_id for r in got) == sorted(k for k, _ in rows)
    by_id = {r.doc_id: r for r in got}
    for doc_id, blob in blobs.items():
        assert _span_key(by_id[doc_id].spans) == \
            _span_key(pdf_extract_spans(blob)), doc_id
    assert all(by_id[k].spans == [] and by_id[k].err for k in bad)
    errors = pq.read_table(out + "_pdf_errors")
    assert errors.schema.names == ["doc_id", "err"]
    assert sorted(errors.column("doc_id").to_pylist()) == sorted(bad)
    table = pq.read_table(metrics)
    assert table.schema.names == ["doc_id", "n_pages", "err"]
    assert sorted(table.column("doc_id").to_pylist()) == \
        sorted(k for k, _ in rows)

    plans = _written_plans(monkeypatch)
    assert main(argv) == 0
    assert _summary(capsys)["resumed"] == 4
    assert len(plans) == 2, plans
    assert not any("MapInArrow" in p for p in plans), plans
