"""SparkSession factory with the engine's tuned defaults.

Scale posture (SURVEY.md §4.3): Arrow everywhere, AQE on (runtime skew
re-planning), modest Arrow batch sizes because HTML documents are large
rows — a 10k-row Arrow batch of 100 KB documents is a 1 GB allocation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkhtml",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2 waves per core keeps AQE coalescing useful without tiny tasks
        shuffle_partitions = max(cpus * 2, 8)
    # Python workers are forked with the JVM's environment: make sure the
    # repo root is importable on executors regardless of the driver's cwd
    # (cluster equivalent: spark-submit --py-files sparkhtml.zip).
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML rows are fat: bound Arrow batch ROW count so batch BYTES stay
        # ~tens of MB. Bigger batches amortize the JVM⇄Python pump (measured
        # +20% extraction throughput going 1024→4096 on ~500 B rows); size by
        # rows×bytes: 2048 default suits ≤~25 KB docs, export
        # SPARK_GRAFT_ARROW_BATCH to retune for a heavier corpus.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"),
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Shuffle-file churn (guide §2.1/§6, measured round 7): the
        # bypass-merge shuffle writer creates one file per (map task ×
        # reduce partition); at 32 maps × 64 reducers that is 2048 file
        # creates per exchange, and this box's root FS has ~ms file-create
        # latency — event-log showed 5.5 s of Shuffle Write Time for a
        # 568 KB exchange. Threshold 8 selects the serialized-sort writer
        # (one data+index file per map task) for anything wider; at
        # cluster scale (reducers > 200) the sort writer is used anyway,
        # so this only changes the small-shuffle regime the bypass path
        # pessimizes here.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        # Joins (guide §3.1/§9): allow shuffled-hash when its size
        # conditions are met instead of always sort-merge — skips both
        # sides' sorts. AQE additionally rewrites SMJ->SHJ at runtime
        # when every post-shuffle partition is under the threshold.
        # Interleaved A/B at sf1.0 local[32]: selector semi-join ladder
        # 0.67->0.51 s, link-extraction range join 0.54->0.28 s, with
        # visibly tighter spread. The planner still picks SMJ when the
        # build side may not fit a partition's memory.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
    )
    # Shuffle scratch dir, opt-in: shuffle blocks land on spark.local.dir,
    # and a RAM-backed dir (e.g. /dev/shm) removes a slow root FS's
    # file-create latency (same measurement). Not a default: tmpfs scratch
    # spends memory the executors need at scale, and a real cluster
    # provisions NVMe scratch. SPARK_LOCAL_DIRS, when set, outranks it.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # High-core single-JVM regime (local[16+]): ParallelGC beat the Java 17
    # default G1 on 8→32 scaling efficiency pairwise in every interleaved
    # round of the GC experiment (~5-8%; BENCH/run_gc_experiment.py at
    # commit 97d7ad8). The Arrow pump allocates on all threads at once and
    # G1's concurrent phases compete for them.
    # A real cluster at SCALE.md's 4-8 cores/executor should keep G1 —
    # this only triggers for the sandbox-shaped fat JVM.
    if cpus >= 16 and not (extra_conf or {}).get("spark.driver.extraJavaOptions"):
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_PYFILES_SENT: set[int] = set()


def pyfiles_zip(repo_root: str) -> str:
    """A zip of ``<repo_root>/sparkhtml``'s ``.py`` sources in the temp
    dir, named by a digest of their paths and contents and built on
    first use. Two checkouts on one machine each ship their own code,
    whatever their file times."""
    import hashlib
    import tempfile
    import zipfile

    sources = []
    for dirpath, _dirs, names in os.walk(os.path.join(repo_root, "sparkhtml")):
        for name in names:
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                with open(full, "rb") as f:
                    sources.append((os.path.relpath(full, repo_root), f.read()))
    sources.sort()
    digest = hashlib.sha256()
    for rel, body in sources:
        digest.update(b"%s\0%d\0" % (rel.encode(), len(body)))
        digest.update(body)
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"sparkhtml_pyfiles-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel, body in sources:
                z.writestr(rel, body)
        os.replace(tmp, zip_path)
    return zip_path


def ensure_executor_imports(spark: SparkSession) -> None:
    """Make ``sparkhtml`` importable on executors of an EXTERNALLY created
    session (one that didn't go through :func:`get_spark`, so the
    PYTHONPATH env plumbing never ran — e.g. the driver harness builds its
    own SparkSession and only then calls into us). ``addPyFile`` works
    after JVM start; this is the programmatic twin of
    ``spark-submit --py-files dist/sparkhtml.zip``.

    Idempotent per SparkContext; ships :func:`pyfiles_zip` of this
    checkout.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _PYFILES_SENT:
        return
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    zip_path = pyfiles_zip(repo_root)
    sc.addPyFile(zip_path)
    _PYFILES_SENT.add(key)
