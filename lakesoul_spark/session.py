"""SparkSession factory tuned for the engine.

Defaults follow the scale guidance in the public Spark docs: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the cluster rather than the 200 default,
Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def lakesoul_session(
    app_name: str = "lakesoul_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-appropriate defaults.

    On a real cluster ``master``/``shuffle_partitions`` come from the
    environment; locally we default to ``local[$SPARK_GRAFT_CPUS]``, or
    one slot per CPU of this machine when the variable is unset.
    """
    ncpu = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(ncpu))
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions
                  or max(int(cpus) if cpus.isdigit() else ncpu, 8))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions toward the advisory byte
        # size instead of preserving parallelism (guide §2.2 "fewer,
        # larger reduce partitions"): with the default
        # parallelismFirst=true AQE targets max(bytes/cores, 1 MB) and
        # a small-shuffle stage still schedules dozens of near-empty
        # tasks — measured 0.54-0.87× per-query medians across joins,
        # LSH dedup and BM25 batch at sf0.1 with this off, and at
        # scale it is the documented recommendation (partitions sized
        # by bytes, not core count). Operators whose per-row cost is
        # quadratic in group size (ngram_jaccard's inverted-index
        # self-join) pin their exchange with an explicit keyed
        # repartition, which coalescing already exempts.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches for the mapInPandas batch kernels
        # (guide §4.2: raise for narrow numeric data): the ANN/
        # embedding/multimodal kernels are numpy-vectorized, so fewer,
        # larger batches cut Python-worker round-trips — measured
        # 0.81-0.90× on estimator/audio/blocked-GEMM/PCA, ~1.0× on the
        # rest (in-session A/B, 3 cycles). Memory-safe at any row
        # width because Spark 4's arrow.maxBytesPerBatch (64 MB
        # default) still caps each batch by BYTES — wide blob rows hit
        # the byte cap long before this row cap.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) has no footer stats: timestamp
        # columns would never stats-prune or row-group-skip
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # driver fixtures carry timestamp[ns] parquet columns, which the
        # vectorized reader rejects; read them as bigint nanos (exact —
        # ordering and interval arithmetic stay nanosecond-precise)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (format("lakesoul") pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Spark 4's PySpark DataFrame error context wraps EVERY Column/
        # functions call in a hook that, when enabled (the default),
        # pays a conf read + a JVM origin set/clear (py4j round-trips)
        # plus a Python stack walk PER CALL — measured 15-20 ms/op vs
        # 8-12 ms/op disabled on this box (interleaved in-process A/B,
        # 3 cycles). The engine builds thousands of Column expressions
        # per lifecycle query, all driver-side; this is pure per-call
        # overhead on any cluster size (it buys richer error call-site
        # attribution, which the oracle/test suites don't need).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The engine always hands Spark EXPLICIT leaf-file lists from
        # the commit-log manifest (never directories), so "listing"
        # only stats known files for their sizes. Above this path
        # count Spark launches a distributed listing JOB (~0.2 s of
        # scheduler latency per scan, measured on the 64-file ANN
        # index) — pure overhead for manifest-backed scans of modest
        # file counts. 4096 keeps those driver-side; genuinely huge
        # snapshots (100 TB scans with >4096 files) still parallelize.
        # Env-overridable: slow per-object stat stores (S3 without
        # batched HEAD) may want it lower.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("LAKESOUL_LIST_JOB_THRESHOLD", "4096"),
        )
        .config("spark.ui.enabled", "false")
        # local[N] runs every task thread in the driver JVM — size the
        # heap for N concurrent tasks, not for a thin cluster driver
        .config("spark.driver.memory", os.environ.get("LAKESOUL_DRIVER_MEM", "16g"))
    )
    # Python-worker shim (pyspark_lakesoul_worker.py next to the
    # package): skips the per-task re-read of every zip finder's
    # central directory that pyspark's setup_spark_files triggers via
    # importlib.invalidate_caches() — measured ~0.35-0.6 s of pure
    # worker CPU per Python task on CPython 3.11 (the dominant cost of
    # every streaming stateful micro-batch and small kernel stage; see
    # the module docstring). Uses Spark's standard
    # spark.python.worker.module hook and delegates everything to
    # pyspark.worker.main. Enabled when the module file is present
    # (worker processes import it via executorEnv PYTHONPATH — on a
    # real cluster ship it with --py-files instead);
    # LAKESOUL_WORKER_SHIM=0 disables.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim_path = os.path.join(repo_root, "pyspark_lakesoul_worker.py")
    if (os.path.exists(shim_path)
            and os.environ.get("LAKESOUL_WORKER_SHIM", "1") != "0"
            and "spark.python.worker.module" not in (extra_conf or {})):
        worker_pp = repo_root
        inherited = os.environ.get("PYTHONPATH", "")
        if inherited:
            worker_pp = worker_pp + os.pathsep + inherited
        b = (b.config("spark.python.worker.module", "pyspark_lakesoul_worker")
              .config("spark.executorEnv.PYTHONPATH", worker_pp))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
