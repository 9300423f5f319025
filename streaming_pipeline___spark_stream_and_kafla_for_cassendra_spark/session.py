"""SparkSession factory.

Mirrors the reference's session configuration
(``spark-streaming/multi_source_streaming_processor.py:28-47``): AQE
enabled with partition coalescing and a 128 MB advisory partition
size, Kryo serialization — minus the Hudi/HDFS/Kafka package wiring,
which this engine replaces with stock parquet + an upsert lake sink
(see streaming/lake.py).

Parallelism comes from the host when this host runs the executors:

* cores (:func:`host_cores`) — ``SPARK_GRAFT_CPUS`` when set (the one
  statement of usable cores), else the process's CPU affinity set. The
  default master is ``local[cores]``.
* ``spark.sql.shuffle.partitions`` = cores on a ``local`` master. A
  stateful streaming aggregation opens, commits and writes a delta
  file for one state store per shuffle partition per micro-batch, a
  fixed cost whatever the batch size, so partitions beyond the core
  count add that cost without adding parallelism. Batch shuffles
  start from the same count and AQE coalesces them further.
* On any other master the driver's cores say nothing about the
  executors, so the partition count is left to spark-submit /
  ``spark-defaults.conf`` unless the caller passes one.

Structured Streaming freezes the partition count into each query's
checkpoint at first start, so a changed default only applies to new
checkpoints; a restarted query keeps the count it was started with.

Scale notes (the configs that matter at 100 TB / 1000 executors):

* ``spark.sql.adaptive.enabled`` + coalescing — runtime re-plan fixes
  over-partitioned shuffles and skewed joins without hand-tuning.
* ``spark.sql.adaptive.skewJoin.enabled`` — splits skewed shuffle
  partitions on big fact-fact joins.
* session timezone pinned to UTC so event-time semantics are
  deterministic across clusters (and match the DuckDB oracle).
* Arrow enabled so any pandas-UDF path is columnar-batched, never
  row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[*] runs driver and executors in ONE JVM, whose default 1g heap
# starves concurrent tasks under checkpoint/broadcast pressure. -Xmx is
# a ceiling: the JVM commits heap as it grows, so 24g may exceed a small
# host's RAM. The heap is not derived from the host yet: a 40%-of-RAM
# heap helped the CDC workloads, but its sf0.1 catalog sweeps on a
# 4-core, 15.7 GiB host read slower, and the fraction needs its own
# A/B (ROADMAP item 1). Only effective when set before the JVM launches.
DEFAULT_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "24g")


def host_cores() -> int:
    """Usable cores: ``SPARK_GRAFT_CPUS``, else the CPU affinity set."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_session(
    app_name: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[cores]`` of :func:`host_cores`.
    """
    # Pin per-process BLAS/OpenMP pools to ONE thread for every Python
    # worker: a Spark task is already the unit of parallelism, so an
    # unpinned OpenBLAS spawns ncpu threads PER worker — ncpu workers
    # × ncpu BLAS threads = ncpu² runnable threads thrashing one box.
    # Measured on the sf1 sweep: every numpy/Arrow-UDF-backed query
    # ran 4-11× slower unpinned (embedding_near_dup_pairs 26 s →
    # 301 s; pure-JVM queries unaffected). Set BEFORE the JVM
    # launches so pyspark.daemon and its forked workers inherit it;
    # executorEnv carries the same pin to real cluster executors.
    # (Driver-side numpy — 64×64 eigensolves, trainer replays — is
    # unaffected: those run before/outside workers and their
    # matrices are too small for BLAS threading to matter.)
    _blas_vars = (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    )
    for var in _blas_vars:
        os.environ.setdefault(var, "1")

    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if master:
        builder = builder.master(master)
    elif active is None:
        master = f"local[{host_cores()}]"
        builder = builder.master(master)
    else:
        master = active.sparkContext.master
    if shuffle_partitions is None and master.startswith("local"):
        shuffle_partitions = host_cores()

    conf = {
        "spark.driver.memory": DEFAULT_DRIVER_MEMORY,
        # reference parity: MSP:36-40
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128MB",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # scale: AQE skew-join split for fact-fact joins
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale: runtime bloom-filter semi-join pruning — a selective
        # dim filter reaches the fact scan as a row-level bloom probe
        # even when static partition pruning can't apply
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # deterministic event-time + oracle parity
        "spark.sql.session.timeZone": "UTC",
        # Arrow for every pandas-UDF / toPandas path
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # let custom Python data sources receive pushed filters
        # (sources/cdc_source.py clamps its generated range with them)
        "spark.sql.python.filterPushdown.enabled": "true",
        # keep local runs quiet and snappy
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for var in _blas_vars:
        conf[f"spark.executorEnv.{var}"] = os.environ[var]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
