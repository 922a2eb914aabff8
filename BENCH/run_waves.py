"""Per-wave fixed cost of ChunkedRun — the measurement behind
``checkpoint.WAVE_MIN_BYTES``.

Writes the same seeded corpus through ``ChunkedRun`` with the
``run_extract`` worker, ``extract_with_metrics_df`` (each wave: one
exchange, ``ChunkedRun.deal``, then the worker and the write),
alternating one chunk per wave (``WAVE_MIN_BYTES = 0``) with one wave
for all chunks.
The difference, divided by the extra waves, is the fixed cost of a wave;
the one-wave pass gives the throughput in plan-estimate bytes per second.
Prints one JSON line with both and the share of a ``WAVE_MIN_BYTES`` wave
spent on that fixed cost.

Usage: python BENCH/run_waves.py [--docs 3000] [--chunks 16] [--reps 3]
                                 [--cpus 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=3000)
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()

    from datagen.interleaved import make_corpus
    from sparkhtml.spark import checkpoint, schemas
    from sparkhtml.spark.partitioning import plan_size_bytes
    from sparkhtml.spark.pipeline import extract_with_metrics_df
    from sparkhtml.spark.session import get_spark

    spark = get_spark(app_name="run-waves", cpus=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="run-waves-")
    try:
        src = os.path.join(work, "in")
        spark.createDataFrame(list(make_corpus(args.docs, seed=1)),
                              schema=schemas.DOCUMENTS_INTERLEAVED) \
            .repartition(2 * args.cpus).write.parquet(src)
        docs = spark.read.parquet(src)
        size = plan_size_bytes(docs)
        default = checkpoint.WAVE_MIN_BYTES
        times: dict[str, list[float]] = {"per_chunk": [], "one_wave": []}
        for rep in range(args.reps + 1):  # rep 0 warms up, untimed
            for mode, wave_min in (("per_chunk", 0), ("one_wave", size)):
                checkpoint.WAVE_MIN_BYTES = wave_min
                out = os.path.join(work, f"out-{mode}-{rep}")
                t0 = time.perf_counter()
                checkpoint.ChunkedRun(spark, out, args.chunks).run(
                    docs, extract_with_metrics_df)
                if rep:
                    times[mode].append(time.perf_counter() - t0)
                shutil.rmtree(out)
        checkpoint.WAVE_MIN_BYTES = default
        per_chunk = statistics.median(times["per_chunk"])
        one_wave = statistics.median(times["one_wave"])
        wave_cost = (per_chunk - one_wave) / (args.chunks - 1)
        rate = size / one_wave
        print(json.dumps({
            "cpus": args.cpus, "docs": args.docs, "chunks": args.chunks,
            "plan_mb": round(size / 2**20, 3),
            "per_chunk_s": [round(t, 2) for t in times["per_chunk"]],
            "one_wave_s": [round(t, 2) for t in times["one_wave"]],
            "wave_cost_s": round(wave_cost, 3),
            "plan_mb_per_s": round(rate / 2**20, 3),
            "wave_min_mb": round(default / 2**20, 1),
            "fixed_share_at_wave_min": round(
                wave_cost / (wave_cost + default / rate), 4),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
