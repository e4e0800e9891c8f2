"""SparkSession factory with the engine's default physical-plan settings."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fuzzylink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults are sized for the sandbox (single JVM, local[N]) but every
    setting is the one you'd also want on a real multi-executor cluster:
    AQE on (runtime re-plan + skew-join splitting), Arrow on (pandas-UDF
    batches), shuffle partitions matched to parallelism rather than the
    legacy 200.
    """
    # Make this package importable by Python workers (pandas UDFs pickle
    # module functions by reference). Local mode: workers inherit the
    # driver env, so extend PYTHONPATH before the JVM starts. On a real
    # cluster, ship the package with ``spark-submit --py-files`` instead
    # (the north-rule launch mode); this is the local-mode equivalent.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    # One BLAS thread per Python worker: every task slot already runs its
    # own worker process, so BLAS-internal threading only oversubscribes
    # the executor's cores (measured 26% tile-kernel throughput loss at 32
    # workers with OpenBLAS's 2-thread default). Local mode inherits the
    # env; the executorEnv conf below carries it to real clusters.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the melt emits up to pair_budget (250k-1M) fixed-width rows per
        # tile: 512k-row Arrow batches (~15 MB at 29 B/pair) cut the
        # per-batch JVM hand-off count ~50x vs the 10k default; the r5
        # melt probe measured 512k as the best decode width at local[32]
        # (BENCH/BASELINE.md, round 5: 12.7s vs 13.5s for 128k on 96M rows)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "524288")
        # free pandas-side Arrow buffers eagerly inside cogroup kernels
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # columnar-cache batches: the pair IR is 29 B/row fixed-width, so
        # 64k-row batches cut per-batch build overhead vs the 10k default
        # (measured: persist+count of the 1.5M-row IR 1.70s -> 1.23s; the
        # intermediate 32k setting keeps almost none of the win) at
        # ~2 MB/batch/column for the IR. CAVEAT: this is session-global —
        # persisting a table with multi-KB text cells builds ~6.5x larger
        # batch buffers than the default; override via extra_conf when
        # caching wide rows through this factory
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
        # allow shuffled-hash join where the per-partition build side fits
        # (guide §3.1); strategy choice never changes results, AQE still
        # re-plans at runtime
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # production writes (checkpoints, sinks): zstd over snappy
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
