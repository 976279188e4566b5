"""SparkSession factory with the engine's standard configuration.

Mirrors the reference's single fixed pipeline configuration
([ref?: scheduler.py] — process/pipe sizing) with Spark-native knobs:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all our UDFs are
Arrow-vectorized per BASELINE.json:15), shuffle partitions sized to cores
(not the 200 default), UTC timezone pinned for DuckDB oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size is the analogue of the reference's GPU chunk size
# ([ref?: gpuCalc.py block sizing]): how many image/tile rows flow through a
# Python worker per batch. Pixel payloads are large; keep batches modest.
ARROW_BATCH_ROWS = 64


def default_driver_memory() -> str:
    """Half of physical memory, capped at 64g, as a JVM size string. A
    fixed 64g maximum on a 15 GB host let G1 grow the heap until the JVM
    could not map more memory and died mid-run."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(phys_mb // 2, 64 << 10)}m"


def get_spark(
    app_name: str = "pycuda_raster_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cores`` accepts an int (→ local[n]) or a full master string. Defaults
    to ``$SPARK_GRAFT_CPUS`` (driver convention) or ``local[*]``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        try:
            n = int(str(cores))
        except (TypeError, ValueError):
            pass
        shuffle_partitions = max(8, n)

    # one BLAS/OMP thread per Python worker: Spark supplies the process-
    # level parallelism; nested BLAS pools (OpenBLAS defaults to ncpu
    # threads PER process) oversubscribe N_workers x N_cores threads and
    # collapse scaling (measured: 32-proc matmul 658/s -> 983/s pinned)
    _blas_env = {"OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
                 "MKL_NUM_THREADS": "1", "NUMEXPR_NUM_THREADS": "1"}
    os.environ.update(_blas_env)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan parallelism (guide §6 / §2.2): verified r6 — Spark's split
        # sizing already floors at defaultParallelism (files.minPartitionNum
        # falls back to leafNodeDefaultParallelism -> defaultParallelism),
        # so a 131 MB lineitem scans as 32 splits here with NO extra conf;
        # setting minPartitionNum = cores was measured a no-op (identical
        # partition counts) and is deliberately NOT set.
        # join strategy (guide §3.1): allow the planner to pick shuffled-
        # hash over sort-merge when one side is provably small per
        # partition (skips two full sorts); AQE additionally rewrites
        # SMJ->SHJ at runtime when every post-shuffle partition is under
        # the local-map threshold. Both are size-gated, so at cluster
        # scale oversized builds still fall back to sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # local mode = one JVM doing scan+shuffle+N concurrent parquet
        # writers; an undersized heap GC-thrashes exactly when parallelism
        # rises (measured: 32-way write 34.5s @ 24g -> 8.4s @ 64g on a
        # 32-core host), so the default is as large as the machine allows
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks state-store
        # commits under applyInPandasWithState in local mode (observed:
        # commit blocked forever in createWithChecksum awaitResult);
        # checksums off restores the classic checkpoint write path
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # shuffle/spill to tmpfs: the sandbox disk burst-throttles under
        # sustained writes (555 -> ~30 MB/s measured), which turns shuffle
        # I/O into noise; a real cluster's shuffle dirs are local SSDs
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                                                  "/dev/shm/spark-local"))
    )
    for k, v in _blas_env.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
