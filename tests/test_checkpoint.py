"""ChunkedRun waves and run_extract resume: job counts, on-disk layout,
the wave's one exchange and its spread, crash atomicity of a multi-chunk
wave, empty chunks, the straggler pass beside the waves and its manifest
entry, a failure on either side, the metrics output as a projection of
the files, null rows, and the job over a PDF corpus."""

import importlib.util
import json
import os
import re
import threading
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark import InheritableThread
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.readwriter import DataFrameWriter

from datagen.interleaved import make_corpus
from sparkhtml.spark import checkpoint, pipeline, schemas
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


def _group_jobs(sc, group):
    """{description: [(submitted, completed or None) ms]} of a job
    group's jobs, read once the listener bus has recorded every event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs: dict = {}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = sc._jsc.sc().statusStore().job(jid)
        desc = job.description().get() if job.description().isDefined() \
            else None
        done = job.completionTime()
        jobs.setdefault(desc, []).append(
            (job.submissionTime().get().getTime(),
             done.get().getTime() if done.isDefined() else None))
    return jobs


def test_straggler_pass_is_one_write(spark, tmp_path, monkeypatch, capsys):
    """The straggler pass runs beside the wave, on a thread that keeps
    the caller's job group: at most 2 jobs (a shuffle-map job plus the
    write job, no count(): its row count is read from the footers), and
    they start before the wave's last job ends. With no stragglers it
    still writes one schema-only file."""
    sc = spark.sparkContext
    parquet, chunked_run = DataFrameWriter.parquet, ChunkedRun.run
    group = [None]

    def described(self, path, *a, **k):
        # tags the jobs of each write, in the thread that writes
        sc.setJobDescription(
            "stragglers" if path.endswith("stragglers") else "wave")
        try:
            return parquet(self, path, *a, **k)
        finally:
            sc.setJobDescription(None)

    def run_once_stragglers_start(self, *a, **k):
        # the pass's first job must be submitted, in the caller's group,
        # before the wave is planned: a pass that ran after the waves, or
        # outside the group, would time out here
        deadline = time.time() + 60
        while "stragglers" not in _group_jobs(sc, group[0]):
            assert time.time() < deadline, "no straggler job in the group"
            time.sleep(0.05)
        return chunked_run(self, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", described)
    monkeypatch.setattr(ChunkedRun, "run", run_once_stragglers_start)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    main = _run_extract().main
    for chars in ("12000", "100000000"):
        out, group[0] = str(tmp_path / chars), f"job-{chars}"
        sc.setJobGroup(group[0], group[0])
        try:
            assert main(["--input", inp, "--output", out, "--chunks", "4",
                         "--straggler-chars", chars]) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = _group_jobs(sc, group[0])
        summary = _summary(capsys)
        assert 1 <= len(jobs.get("stragglers", [])) <= 2, jobs
        assert min(t0 for t0, _ in jobs["stragglers"]) < \
            max(t1 for _, t1 in jobs["wave"]), jobs
        if chars == "12000":
            assert summary["n_stragglers"] > 0
        strag = pq.read_table(os.path.join(out, "stragglers"))
        assert strag.num_rows == summary["n_stragglers"]
        assert summary["rows"] + summary["n_stragglers"] == len(corpus)
    assert summary["n_stragglers"] == 0
    assert strag.schema.names == schemas.EXTRACTED.fieldNames()


@pytest.mark.parametrize("poisoned", ["stragglers", "wave"])
def test_a_failed_side_commits_nothing_and_reruns_alone(
        spark, tmp_path, monkeypatch, capsys, poisoned):
    """The worker fails inside its Spark job on one side: the straggler
    thread or the wave on the main thread. main waits for the other side,
    then raises; no job is left running, the failed side has no manifest
    entry, the other side committed, and a re-run writes only the failed
    side's output."""
    sc = spark.sparkContext
    real = pipeline.extract_with_metrics_df

    def boom(batches):
        raise RuntimeError("poisoned")
        yield  # pragma: no cover - makes this a generator

    def worker(df):
        out = real(df)
        in_thread = threading.current_thread() is not threading.main_thread()
        if in_thread == (poisoned == "stragglers"):
            return out.mapInArrow(boom, out.schema)
        return out

    monkeypatch.setattr(pipeline, "extract_with_metrics_df", worker)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    if poisoned == "wave":
        # the straggler pass ends 2 s after the wave has failed, so its
        # thread is gone and its entry written only if main waited for it
        chunked_run, footers = ChunkedRun.run, checkpoint.footer_rows
        wave_over = threading.Event()

        def run_then_signal(self, *a, **k):
            try:
                return chunked_run(self, *a, **k)
            finally:
                wave_over.set()

        def footers_after_the_wave(directory):
            assert wave_over.wait(60)
            time.sleep(2)
            return footers(directory)

        monkeypatch.setattr(ChunkedRun, "run", run_then_signal)
        monkeypatch.setattr(checkpoint, "footer_rows", footers_after_the_wave)
    corpus = list(make_corpus(40, seed=3, pathological_rate=0.1))
    inp = _corpus_input(spark, tmp_path, corpus,
                        schemas.DOCUMENTS_INTERLEAVED)
    out = str(tmp_path / "out")
    argv = ["--input", inp, "--output", out, "--chunks", "4",
            "--straggler-chars", "12000"]
    main = _run_extract().main

    with pytest.raises(Exception, match="poisoned"):
        main(argv)
    assert not any(isinstance(t, InheritableThread)
                   for t in threading.enumerate())
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    run = ChunkedRun(spark, out, n_chunks=4)
    if poisoned == "stragglers":
        assert run.entry("stragglers") is None
        assert run.completed_chunks() == {0, 1, 2, 3}
    else:
        assert run.entry("stragglers")["n_stragglers"] > 0
        assert run.completed_chunks() == set()

    monkeypatch.setattr(pipeline, "extract_with_metrics_df", real)
    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **k):
        written.append(os.path.basename(path.rstrip("/")))
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    capsys.readouterr()
    assert main(argv) == 0
    summary = _summary(capsys)
    assert written == (["stragglers"] if poisoned == "stragglers"
                       else ["out"])
    assert summary["processed"] == (0 if poisoned == "stragglers" else 4)
    assert summary["n_stragglers"] == \
        run.entry("stragglers")["n_stragglers"] > 0
    ids = [r.doc_id for r in run.output_df().select("doc_id").collect()]
    assert sorted(ids) == sorted(d["doc_id"] for d in corpus)


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
