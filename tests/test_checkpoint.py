"""ChunkedRun waves and run_extract resume: job counts, on-disk layout,
crash atomicity of a multi-chunk wave, empty chunks, the straggler
manifest entry, the metrics output as a projection of the files, null
rows, and the job over a PDF corpus."""

import importlib.util
import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
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


def test_one_chunk_wave_adds_no_chunk_exchange(spark, docs, tmp_path,
                                              monkeypatch):
    """Waves of one chunk (the cluster-scale regime) write from their
    upstream tasks: no exchange on chunk. A several-chunk wave has one."""
    plans = _written_plans(monkeypatch)
    monkeypatch.setattr(checkpoint, "WAVE_MIN_BYTES", 0)
    ChunkedRun(spark, str(tmp_path / "per-chunk"), n_chunks=2).run(
        docs, extract_spans_df)
    assert len(plans) == 2
    assert not any("hashpartitioning(chunk" in p for p in plans), plans
    monkeypatch.setattr(checkpoint, "WAVE_MIN_BYTES", plan_size_bytes(docs))
    ChunkedRun(spark, str(tmp_path / "one-wave"), n_chunks=2).run(
        docs, extract_spans_df)
    assert len(plans) == 3
    assert "hashpartitioning(chunk" in plans[2], plans[2]


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


def test_resumed_job_skips_straggler_write(spark, tmp_path, monkeypatch,
                                           capsys):
    """A second main() on the same output does no straggler write and
    reports the same straggler count from the manifest entry."""
    inp = str(tmp_path / "in")
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    spark.createDataFrame(corpus, schema=schemas.DOCUMENTS_INTERLEAVED) \
        .write.parquet(inp)
    out = str(tmp_path / "out")
    argv = ["--input", inp, "--output", out, "--checkpoint", out,
            "--chunks", "4", "--straggler-chars", "12000"]
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    main = _run_extract().main

    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["n_stragglers"] > 0
    with open(os.path.join(out, "_manifest", "stragglers.json")) as f:
        assert json.load(f)["n_stragglers"] == first["n_stragglers"]
    written = _written_plans(monkeypatch)
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert written == []
    assert second["n_stragglers"] == first["n_stragglers"]
    assert {k: second[k] for k in ("resumed", "processed", "rows")} == \
        {"resumed": 4, "processed": 0, "rows": 0}


def test_job_metrics_are_a_projection_of_the_output(spark, tmp_path,
                                                    monkeypatch, capsys):
    """Chunk and straggler files carry the metric columns, output_df
    reads both, and --metrics-output holds one row per input doc. A
    resumed run rewrites the metrics from the files, running no Python
    worker."""
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

    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["n_stragglers"] > 0
    strag = pq.read_table(os.path.join(out, "stragglers"))
    assert strag.schema.names == schemas.EXTRACTED.fieldNames()
    assert strag.num_rows == first["n_stragglers"]
    assert pq.read_table(os.path.join(out, "chunk=0")).schema.names == \
        schemas.EXTRACTED.fieldNames()
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


def test_straggler_pass_is_one_write(spark, tmp_path, monkeypatch, capsys):
    """The straggler pass runs no count(): it is one round-robin write
    (a shuffle-map job plus the write job), its row count read from the
    footers. With no stragglers it still writes one schema-only file."""
    sc = spark.sparkContext
    chunked_run = ChunkedRun.run

    def run_then_tag(self, *a, **k):
        out = chunked_run(self, *a, **k)
        sc.setJobGroup("straggler-pass", "straggler-pass")
        return out

    monkeypatch.setattr(ChunkedRun, "run", run_then_tag)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    main = _run_extract().main
    for chars in ("12000", "100000000"):
        out = str(tmp_path / chars)
        try:
            assert main(["--input", inp, "--output", out, "--chunks", "4",
                         "--straggler-chars", chars]) == 0
            jobs = sc.statusTracker().getJobIdsForGroup("straggler-pass")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        summary = _summary(capsys)
        if chars == "12000":
            assert summary["n_stragglers"] > 0
            assert len(jobs) <= 2
        strag = pq.read_table(os.path.join(out, "stragglers"))
        assert strag.num_rows == summary["n_stragglers"]
        assert summary["rows"] + summary["n_stragglers"] == len(corpus)
    assert summary["n_stragglers"] == 0
    assert strag.schema.names == schemas.EXTRACTED.fieldNames()


def test_null_size_rows_come_out_once(spark, tmp_path, monkeypatch, capsys):
    """A null-spans row (and a null payload) has size 0: straggler_split
    keeps it, and the job writes it once with empty spans and metrics."""
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
                                "2", "--metrics-output", metrics]) == 0
    assert _summary(capsys)["rows"] == 3
    got = ChunkedRun(spark, out, n_chunks=2).output_df().collect()
    assert sorted(r.doc_id for r in got) == ["a", "b", "c"]
    assert {r.doc_id: r.spans for r in got}["b"] == []
    assert sorted(pq.read_table(metrics).column("doc_id").to_pylist()) == \
        ["a", "b", "c"]


def _span_key(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]


def test_pdf_job_commits_the_parsed_spans(spark, tmp_path, monkeypatch,
                                          capsys):
    """A (doc_id, payload) corpus runs the PDF worker in the wave and the
    straggler pass: every doc's spans are pdf_extract_spans' (short runs,
    literal "&amp;" and "<" kept as they are), bad blobs are rows with err
    set, and the error and metrics tables are projections of the files,
    so a resumed run executes no Python worker."""
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
    assert summary["n_stragglers"] >= 1
    assert summary["rows"] + summary["n_stragglers"] == len(rows)
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
