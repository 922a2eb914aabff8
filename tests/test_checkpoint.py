"""ChunkedRun waves and run_extract resume: job counts, on-disk layout,
crash atomicity of a multi-chunk wave, empty chunks, and the straggler
manifest entry."""

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
from sparkhtml.spark.partitioning import plan_size_bytes
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


def test_one_wave_few_jobs_and_chunk_layout(spark, docs, tmp_path):
    """A small input is one wave: at most 3 jobs for 16 chunks, and the
    files sit under chunk=<c>/ without a chunk column."""
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
            table = pq.read_table(d)
            assert "chunk" not in table.column_names
            assert table.num_rows == rec["n_rows"]
    assert sorted(_doc_ids(out).values()) == [1] * 60


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
    """Chunks no document hashes into are recorded ok with n_rows 0."""
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
    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **k):
        written.append(path)
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert written == []
    assert second["n_stragglers"] == first["n_stragglers"]
    assert {k: second[k] for k in ("resumed", "processed", "rows")} == \
        {"resumed": 4, "processed": 0, "rows": 0}
