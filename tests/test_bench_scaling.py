"""BENCH/run_scaling.py without Spark: its control leg runs the job's
Arrow worker for each input format, and its efficiency arithmetic."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCH"))

import run_scaling  # noqa: E402
from perfbench.inputs import prepare  # noqa: E402


@pytest.mark.parametrize("kind", ["html", "pdf"])
def test_control_leg_runs_the_job_worker(tmp_path, kind):
    import pyarrow.parquet as pq

    from sparkhtml.extract import extract_spans
    from sparkhtml.spark.pdf import pdf_extract_spans

    inp = prepare(str(tmp_path), kind, 3, 20, 2)
    stats, out = run_scaling.control_leg(inp, 1)
    assert stats["docs"] == out.num_rows == inp.n_docs == 20
    assert stats["docs_per_s"] > 0
    got = {r["doc_id"]: r["spans"] for r in out.to_pylist()}
    for row in pq.read_table(inp.path).to_pylist():
        want = (extract_spans(row["spans"]) if kind == "html"
                else pdf_extract_spans(row["payload"]))
        assert got[row["doc_id"]] == want, row["doc_id"]


def test_efficiency_arithmetic():
    assert run_scaling.efficiency(100.0, 320.0) == pytest.approx(0.8)
    assert run_scaling.efficiency(50.0, 200.0) == pytest.approx(1.0)
    raw = run_scaling.efficiency(100.0, 240.0)
    ctl = run_scaling.efficiency(100.0, 320.0)
    assert raw / ctl == pytest.approx(0.75)
    assert run_scaling.spread([0.5, 0.9, 0.7]) == {
        "median": 0.7, "min": 0.5, "max": 0.9}


def test_waves_ms_sums_each_wave_once(tmp_path):
    import json

    # chunks 0-2 ran in one wave, 3-4 in a second
    for chunk, ms in enumerate([900, 900, 900, 400, 400]):
        with open(tmp_path / f"chunk-{chunk:05d}.json", "w") as f:
            json.dump({"chunk": chunk, "status": "ok", "wall_ms": ms}, f)
    assert run_scaling.waves_ms(str(tmp_path)) == 1300
