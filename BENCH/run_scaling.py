"""N→4N scaling of the production job (BASELINE.json north_rule: ≥0.8).

Times ``spark-submit --master local[K] --py-files dist/sparkhtml.zip
scripts/run_extract.py`` at K = N and K = 4N, N = nproc // 4 (at least
1), over two seeded perfbench inputs: HTML spans with the pathological
stratum routed to the straggler pass (as in perfbench's ``html_job``),
and PDF blobs. The job's own column switch picks the worker.

Beside each Spark leg runs a control: a spawn ``multiprocessing`` pool of
K processes applying the job's Arrow worker (``pipeline._extract_arrow``
or ``pdf._parse_arrow``) to the same parquet record batches, with no JVM.
The control's efficiency is what the silicon allows; Spark's raw
efficiency divided by it is what the framework keeps.

Every leg runs in fresh processes; per round the four legs of a format
(Spark N, Spark 4N, control N, control 4N) run back to back, in reversed
order on odd rounds. A Spark leg's throughput is input docs ÷ the job's
``wall_s``; its serial part is ``wall_s`` minus the waves' ``wall_ms``
from ``_manifest/chunk-*.json`` (projections and planning; the straggler
pass runs beside the waves and adds only where it outlasts them).
A leg whose ``rows + n_stragglers`` is not the input's doc count stops
the run.

Overwrites BENCH/SCALING.json.

Usage: python BENCH/run_scaling.py [--rounds 5]
"""

from __future__ import annotations

import argparse
import itertools
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.inputs import (  # noqa: E402
    FILES_PER_CORE, LONG_DOC_CHARS, prepare)

BUILD = os.path.join(REPO, ".bench_build", "scaling")
OUT = os.path.join(REPO, "BENCH", "SCALING.json")
SEED = 1
CHUNKS = 16
# Docs per control task: small enough that a pool of 4N balances the
# pathological docs dynamically, as the job's straggler split does.
CONTROL_BATCH = 64
# (docs, pathological rate, extra job args) per input kind. A pass
# carries fixed costs that more cores do not shrink (cold-JVM planning,
# Python worker start, the straggler pass); on one core these sizes make
# the pass ~1 min, so they are a minority of it.
FORMATS = {
    "html": (24000, 0.005, ["--straggler-chars", str(LONG_DOC_CHARS)]),
    "pdf": (4000, 0.0, []),
}


def efficiency(lo: float, hi: float) -> float:
    """Throughput scaling efficiency from N to 4N: ``hi / (4 × lo)``."""
    return hi / (4 * lo)


def spread(values: list[float]) -> dict:
    return {"median": round(statistics.median(values), 3),
            "min": round(min(values), 3), "max": round(max(values), 3)}


def _apply_worker(batch: pa.RecordBatch) -> pa.RecordBatch:
    """One input batch through the job's worker for its columns."""
    if "payload" in batch.schema.names and "spans" not in batch.schema.names:
        from sparkhtml.spark import pdf, schemas

        out = pdf._parse_arrow([batch], schemas.to_arrow(schemas.PDF_PARSED))
    else:
        from sparkhtml.spark import pipeline

        out = pipeline._extract_arrow([batch])
    return next(out)


def _ready(barrier) -> None:
    # imported here, before the barrier, so the clock excludes it
    from sparkhtml.spark import pdf, pipeline  # noqa: F401

    barrier.wait()


def control_leg(inp, procs: int) -> tuple[dict, pa.Table]:
    """The input's batches through ``procs`` spawned workers; the clock
    starts once every worker has imported the package."""
    batches = pq.read_table(inp.path).to_batches(max_chunksize=CONTROL_BATCH)
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(procs + 1)
    with ctx.Pool(procs, initializer=_ready, initargs=(barrier,)) as pool:
        barrier.wait()
        t0 = time.perf_counter()
        out = list(pool.imap_unordered(_apply_worker, batches))
        secs = time.perf_counter() - t0
    table = pa.Table.from_batches(out)
    return {"docs": table.num_rows, "secs": round(secs, 3),
            "docs_per_s": round(table.num_rows / secs, 1)}, table


def waves_ms(manifest: str) -> int:
    """Summed wall time of a fresh run's waves: chunks of one wave are
    consecutive and share the wave's ``wall_ms``."""
    entries = []
    for name in sorted(os.listdir(manifest)):
        if name.startswith("chunk-") and name.endswith(".json"):
            with open(os.path.join(manifest, name)) as f:
                entries.append(json.load(f)["wall_ms"])
    return sum(ms for ms, _ in itertools.groupby(entries))


def spark_leg(name: str, inp, cores: int, job_args: list[str],
              pyfiles: str) -> dict:
    """One fresh ``spark-submit`` of the job; checks it wrote every doc."""
    work = os.path.join(BUILD, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out")
    cmd = ["spark-submit", "--master", f"local[{cores}]",
           "--py-files", pyfiles,
           os.path.join(REPO, "scripts", "run_extract.py"),
           "--input", inp.path, "--output", out, "--chunks", str(CHUNKS),
           "--metrics-output", os.path.join(work, "metrics"), *job_args]
    proc = subprocess.run(cmd, cwd=work, capture_output=True, text=True,
                          timeout=3600)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{name}: job failed (rc {proc.returncode}): "
                           f"{proc.stderr[-2000:]}")
    summary = json.loads(lines[-1])
    written = summary["rows"] + summary["n_stragglers"]
    if written != inp.n_docs:
        raise RuntimeError(f"{name}: wrote {written} docs of {inp.n_docs} "
                           f"({summary})")
    wall = summary["wall_s"]
    serial = wall - waves_ms(os.path.join(out, "_manifest")) / 1000
    return {"docs_per_s": round(inp.n_docs / wall, 1), "wall_s": wall,
            "serial_s": round(serial, 2)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args()
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")

    nproc = len(os.sched_getaffinity(0))
    n = max(1, nproc // 4)
    sizes = {"n": n, "4n": 4 * n}
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import main as make_pyfiles

    pyfiles = make_pyfiles()
    inputs = {
        fmt: prepare(os.path.join(REPO, ".bench_build", "inputs"), fmt,
                     SEED, docs, FILES_PER_CORE * nproc, rate)
        for fmt, (docs, rate, _) in FORMATS.items()
    }
    legs = [(f"{side}_{k}", side, cores)
            for side in ("spark", "control") for k, cores in sizes.items()]
    rounds: dict[str, list] = {fmt: [] for fmt in FORMATS}
    for r in range(args.rounds):
        for fmt, inp in inputs.items():
            rec = {}
            for name, side, cores in legs[::-1] if r % 2 else legs:
                if side == "spark":
                    rec[name] = spark_leg(f"{fmt}-{name}", inp, cores,
                                          FORMATS[fmt][2], pyfiles)
                else:
                    rec[name] = control_leg(inp, cores)[0]
                print(fmt, r, name, rec[name], flush=True)
            raw = efficiency(rec["spark_n"]["docs_per_s"],
                             rec["spark_4n"]["docs_per_s"])
            ctl = efficiency(rec["control_n"]["docs_per_s"],
                             rec["control_4n"]["docs_per_s"])
            rec.update(raw_efficiency=round(raw, 3),
                       control_efficiency=round(ctl, 3),
                       relative_efficiency=round(raw / ctl, 3))
            rounds[fmt].append(rec)

    result = {
        "command": "python BENCH/run_scaling.py"
                   + (f" --rounds {args.rounds}" if args.rounds != 5 else ""),
        "nproc": nproc, "cores": sizes, "chunks": CHUNKS,
        "formats": {},
    }
    for fmt, recs in rounds.items():
        inp = inputs[fmt]
        result["formats"][fmt] = {
            "input": {"kind": inp.kind, "seed": inp.seed, "docs": inp.n_docs,
                      "mb": round(inp.mb, 1),
                      "long_share": round(inp.long_share, 4),
                      "job_args": FORMATS[fmt][2]},
            **{key: spread([rec[key] for rec in recs])
               for key in ("raw_efficiency", "control_efficiency",
                           "relative_efficiency")},
            "serial_share": {
                k: spread([rec[f"spark_{k}"]["serial_s"]
                           / rec[f"spark_{k}"]["wall_s"] for rec in recs])
                for k in sizes},
            "rounds": recs,
        }
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({fmt: {k: v for k, v in res.items()
                            if k.endswith("efficiency")}
                      for fmt, res in result["formats"].items()}))


if __name__ == "__main__":
    main()
