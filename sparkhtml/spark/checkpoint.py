"""Checkpoint/resume + lineage for the batch pipeline (SURVEY.md §4.3).

The reference has no cross-document layer; this is pure Spark design per
the north rule: partition-level idempotent writes + a completed-partitions
manifest. The corpus is split into deterministic ``chunk`` ranges by
doc_id hash; each chunk lands in its own ``chunk=<c>/`` output directory
and gets a manifest entry on success. Resume = anti-join the chunk list
against the manifest and process only the remainder. ``output_df`` is
the one reader of the committed rows: the chunks plus the separate
straggler pass's ``stragglers/`` (``scripts/run_extract.py``).

Chunks are written in **waves**. A wave is one Spark action: one scan of
the input filtered to the wave's chunks (no filter when the wave holds
every chunk), one exchange that deals the documents to the tasks, one
transform, one ``partitionBy("chunk")`` write with dynamic partition
overwrite. The exchange (``repartitionById``) sends every document of a
chunk to tasks that hold only whole chunks: a wave of k ≥ P chunks (P
the run's ``partitions``) gives each chunk one task and so one file, and
a wave of k < P chunks spreads each chunk over ⌊P/k⌋ tasks by a second
doc_id hash, so a one-chunk wave still fills every task. The transform's
output is written from the task that computed it, with no second
exchange. A wave's chunks commit together, and only then get their
manifest entries; a crash re-runs the whole wave, and the dynamic
overwrite makes the re-run idempotent. Per-chunk row counts come from
the committed files' parquet footers, not from reading them back.
A wave holds at least ``WAVE_MIN_BYTES`` of input by Catalyst's size
estimate (see its note): small inputs run as one wave, while at cluster
scale every chunk exceeds it and each wave is a single chunk.

Sink format: Iceberg when a catalog is configured (``iceberg_table``:
``chunk``-partitioned table, one ``overwritePartitions`` snapshot commit
per wave), else partitioned parquet with an identical layout — the
manifest logic is format-agnostic. (The tests run without Iceberg jars:
the parquet path runs live and the Iceberg path is exercised through a
mock writer, test_spark.)
"""

from __future__ import annotations

import json
import math
import os
import time
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from sparkhtml.spark.partitioning import plan_size_bytes

# Smallest input (Catalyst's plan size estimate) worth its own Spark job.
# Each job pays a fixed cost — job and stage scheduling, an input scan,
# the deal() shuffle, a commit, and the Python workers idling between the
# jobs of a serial chain (which Spark books as "time to initialize Python
# workers", SCALE.md §6). Measured with `python BENCH/run_waves.py`
# (3,000 generator docs, 16 chunks, the job's worker, local[4] on a
# 4-core VM): a wave costs 0.89 s on top of its share of a one-wave
# pass, and the job streams 0.82 MB/s of estimated input, so a 32 MB
# wave spends ~2% on that fixed cost and a crash loses under a minute of
# work.
# Change it only with a rerun of that script.
WAVE_MIN_BYTES = 32 << 20


def footer_rows(directory: str) -> int:
    """Rows in a parquet directory by its files' footers (0 if absent)."""
    if not os.path.isdir(directory):
        return 0
    return sum(pq.read_metadata(os.path.join(directory, name)).num_rows
               for name in os.listdir(directory)
               if name.endswith(".parquet") and name[0] not in "._")


class ChunkedRun:
    """Drives a chunked, resumable pass over a documents table."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_chunks: int = 16,
        iceberg_table: str | None = None,
        partitions: int | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        # Tasks per wave. Default one per core: deal() already balances
        # whole chunks, and each extra task costs a Python task start
        # (perfbench html_job input run in one session on a 4-core VM:
        # 2.06 s a pass at twice the cores, 1.76 s at the cores).
        self.partitions = partitions or spark.sparkContext.defaultParallelism
        self.iceberg_table = iceberg_table
        self.manifest_path = os.path.join(out_dir, "_manifest")
        # scripts/run_extract.py's straggler pass (manifest entry too)
        self.stragglers_dir = os.path.join(out_dir, "stragglers")
        os.makedirs(self.manifest_path, exist_ok=True)

    # ------------------------------------------------------------ manifest

    def completed_chunks(self) -> set[int]:
        done = set()
        for name in os.listdir(self.manifest_path):
            if name.startswith("chunk-") and name.endswith(".json"):
                rec = self.entry(name[:-len(".json")])
                if rec.get("status") == "ok":
                    done.add(rec["chunk"])
        return done

    def entry(self, name: str) -> dict | None:
        """The manifest entry ``<name>.json``, or None if not recorded."""
        path = os.path.join(self.manifest_path, f"{name}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def record(self, name: str, **fields) -> None:
        """Write the manifest entry ``<name>.json``."""
        path = os.path.join(self.manifest_path, f"{name}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(fields, f)
        os.replace(tmp, path)  # atomic → a crash never leaves a half manifest

    # ----------------------------------------------------------------- run

    def chunks_per_wave(self, documents: DataFrame) -> int:
        """``ceil(WAVE_MIN_BYTES × n_chunks ÷ plan size)``, at least 1; an
        unknown (huge sentinel) size estimate gives one chunk per wave."""
        size = max(plan_size_bytes(documents), 1)
        return max(1, math.ceil(WAVE_MIN_BYTES * self.n_chunks / size))

    def run(
        self,
        documents: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        id_col: str = "doc_id",
    ) -> dict:
        """Process all incomplete chunks, a wave at a time; returns a
        summary dict.

        Chunking key is ``pmod(xxhash64(doc_id), n_chunks)`` — deterministic
        across runs, independent of input order, so resume is exact.
        ``transform`` gets the wave's documents already dealt to their
        tasks (:meth:`deal`) and must keep ``id_col`` and add no exchange:
        the write recomputes each output row's chunk from it.
        """
        done = self.completed_chunks()
        todo = [c for c in range(self.n_chunks) if c not in done]
        summary = {"resumed": len(done), "processed": 0, "rows": 0}
        per_wave = self.chunks_per_wave(documents)
        for i in range(0, len(todo), per_wave):
            wave = todo[i:i + per_wave]
            t0 = time.time()
            counts = self._write_chunk(
                transform(self.deal(documents, wave, id_col)), wave, id_col)
            wall_ms = int((time.time() - t0) * 1000)
            for chunk in wave:
                self.record(f"chunk-{chunk:05d}", chunk=chunk, status="ok",
                            n_rows=counts[chunk], wall_ms=wall_ms)
            summary["processed"] += len(wave)
            summary["rows"] += sum(counts.values())
        return summary

    def _chunk_col(self, id_col: str):
        chunk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.n_chunks))
        return chunk.cast("int")

    def deal(self, documents: DataFrame, wave: list[int],
             id_col: str = "doc_id") -> DataFrame:
        """The wave's documents, filtered to its chunks and dealt by
        ``repartitionById`` to ``partitions`` tasks that each hold only
        whole chunks.

        With k chunks in the wave and P partitions, a document of the
        chunk at index i of ``wave`` goes to task ``i mod P`` when k ≥ P
        (so each task holds ⌊k/P⌋ or ⌈k/P⌉ chunks), else to task
        ``i + k × (spread hash mod ⌊P/k⌋)``. The spread hash is xxhash64
        over a constant then the doc_id, i.e. another seed: the chunk
        hash itself would fix its residue mod ⌊P/k⌋ within a chunk (one
        chunk of 256 at P = 2048 would fill 8 of the 2048 tasks).
        """
        k = len(wave)
        chunk = self._chunk_col(id_col)
        if k < self.n_chunks:
            documents = documents.filter(chunk.isin(wave))
        # a k-step lookup per row, over a wave of ~WAVE_MIN_BYTES
        index = F.array_position(F.array(*map(F.lit, wave)), chunk) - 1
        spread = F.pmod(F.xxhash64(F.lit("spread"), F.col(id_col)),
                        F.lit(max(1, self.partitions // k)))
        return documents.repartitionById(
            self.partitions, (index + k * spread).cast("int"))

    def _write_chunk(self, out: DataFrame, chunks: list[int],
                     id_col: str) -> dict[int, int]:
        """Idempotent overwrite of one wave's chunks; returns the row count
        written per chunk (0 for a chunk with no rows).

        Iceberg path: ``chunk`` is the table's partition column, so
        ``overwritePartitions`` replaces exactly these chunks' prior attempt
        (crash-safe retry) in one atomic snapshot commit. The parquet path
        is the identical layout via dynamic partition overwrite.
        """
        # Each task writes its rows where deal() put them: chunk=<c>/
        # gets one file per task that holds chunk c (one when the wave has
        # at least ``partitions`` chunks).
        tagged = out.withColumn("chunk", self._chunk_col(id_col))
        if self.iceberg_table is not None:
            tagged.writeTo(self.iceberg_table).overwritePartitions()
            rows = (
                self.spark.table(self.iceberg_table)
                .filter(F.col("chunk").isin(chunks))
                .groupBy("chunk").count().collect()
            )
            counts = {r["chunk"]: r["count"] for r in rows}
        else:
            tagged.write.partitionBy("chunk") \
                .option("partitionOverwriteMode", "dynamic") \
                .mode("overwrite").parquet(self.out_dir)
            counts = {c: footer_rows(f"{self.out_dir}/chunk={c}")
                      for c in chunks}
        return {c: counts.get(c, 0) for c in chunks}

    def output_df(self, schema: StructType | None = None) -> DataFrame:
        """Every committed row: ``chunk=<c>/`` plus a straggler pass's
        ``stragglers/`` (reading the output directory as one table fails
        once both exist). A ``schema`` — all or some of the written
        columns — skips footer inference, and reads no files as empty."""
        paths = [os.path.join(self.out_dir, name)
                 for name in sorted(os.listdir(self.out_dir))
                 if name.startswith("chunk=")]
        if os.path.isdir(self.stragglers_dir):
            paths.append(self.stragglers_dir)
        reader = self.spark.read if schema is None else \
            self.spark.read.schema(schema)
        return reader.parquet(*paths)
