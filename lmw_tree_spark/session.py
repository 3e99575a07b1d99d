"""SparkSession construction tuned for the dedup+cluster workload.

Local-mode defaults mirror what we would set on a 1000-executor cluster: AQE on
(runtime skew-join splitting + partition coalescing), Arrow transfer on with bounded
batch sizes (the reference bounds in-flight work to 1024 chunks x 1000 vectors,
/root/reference/src/lmw/StreamingEMTree.h:452-455 — Arrow ``maxRecordsPerBatch`` is the
same backpressure knob), and a shuffle-partition count sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lmw-tree-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the cores
    this process may run on).
    ``shuffle_partitions`` defaults to the core count — on a real cluster this is
    set to ~2-3x total executor cores instead.
    """
    # one BLAS thread per python worker: Spark supplies the across-row parallelism;
    # letting OpenBLAS ALSO spawn nproc threads per worker oversubscribes N² ways
    # (python workers inherit this env from the local-mode JVM)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # keep glibc from munmapping large numpy buffers between tasks: virtualized
    # hosts fault fresh pages at ~100 MB/s while reused heap runs at GB/s, and the
    # vectorized kernels reallocate same-sized chunk buffers every Arrow batch
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # deployment knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" mirrors spark-submit
    # --conf for entry points that build their own session (bench, scale
    # probes) — explicit extra_conf still wins on conflicts
    for item in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
