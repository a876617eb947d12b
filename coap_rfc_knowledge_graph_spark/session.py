"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every setting below is
what we would ship in spark-defaults on a 1000-executor cluster reading
100 TB, with the two knobs that must scale with cluster size
(shuffle.partitions, maxRecordsPerBatch) parameterized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "kg-construct",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting for the head-entity link join (SURVEY §2.4 N4).
    - Arrow on: every model stage is an Arrow-batched pandas UDF; batch
      size 2048 keeps per-batch model latency amortized without blowing
      executor memory at 512-token sequences.
    - ``cpus`` (the ``local[N]`` thread count) defaults to the CPUs this
      process may run on.
    - shuffle.partitions defaults to 2x cores locally; on a real cluster
      set it to 2-4x total executor cores (AQE coalesces the excess).
    - Python workers fork from ``coap_rfc_knowledge_graph_spark._daemon``,
      which stops each task re-reading the zips on the worker's path.
      ``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``
      restores the stock daemon.
    - The workers' ``PYTHONPATH`` starts with the directory holding this
      package, so they import it whatever the driver's cwd; a
      ``spark.executorEnv.PYTHONPATH`` in ``extra_conf`` follows it.
    """
    cpus = cpus or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    # Pin BLAS to one thread per Python worker: with N workers on N cores,
    # an unpinned OpenBLAS spawns N threads EACH (N^2 runnable threads) and
    # the numpy matmuls in the linking/ANN stages thrash. Spark-level
    # parallelism owns the cores; per-task math stays single-threaded.
    # (Set in the driver env BEFORE workers fork; local-mode workers
    # inherit it. On a real cluster ship via spark.executorEnv.*.)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    extra_conf = dict(extra_conf or {})
    worker_path = [_PACKAGE_PARENT, extra_conf.pop("spark.executorEnv.PYTHONPATH", "")]
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "coap_rfc_knowledge_graph_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(p for p in worker_path if p))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, n_tasks: int | None = None,
                        touch_mb: int = 64) -> None:
    """Pre-fork and pre-fault the Python worker pool.

    One barrier stage of ``n_tasks`` tasks, each importing numpy/pandas
    and first-touching ``touch_mb`` MB. On a long-lived cluster workers
    are warm anyway; in benchmarks this separates one-time
    worker-spawn/page-fault cost (which some virtualized hosts make very
    expensive) from the steady-state numbers the harness reports.
    """
    import pandas as _pd  # noqa: F401 - imported for the closure

    n = n_tasks or spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy as _np
        import pandas as _pd
        import time as _time

        buf = _np.empty((touch_mb, 1024, 1024 // 8), dtype=_np.float64)
        buf.fill(1.0)
        s = float(buf[:, 0, 0].sum())
        _time.sleep(0.5)  # hold the slot so every task gets its own worker
        for pdf in batches:
            yield _pd.DataFrame({"x": [s]})

    spark.range(n).repartition(n).mapInPandas(touch, "x double").count()
