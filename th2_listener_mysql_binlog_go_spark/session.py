"""SparkSession builder tuned for the CDC apply workload.

Defaults are chosen for the 100 TB target, not the local test scale:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
by the caller, Arrow enabled for the vectorized pandas-UDF decode path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """~25% of physical RAM, clamped to [4g, 32g].

    Local mode hosts every executor thread AND the SQL cache in one JVM:
    a static 8g default OOMed a 16M-row cached stream (4x the standard
    bench scale) and 24g an equivalent 40M-row one, while a static 32g
    would refuse to start on small dev hosts — so the default derives
    from the machine (scale-adaptive, not a constant tuned to one box).
    ``SPARK_DRIVER_MEMORY`` overrides; clusters set it via spark-submit.
    """
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        gb = max(4, min(32, kb // (1024 * 1024) // 4))
    except (OSError, StopIteration, ValueError):
        gb = 8
    return f"{gb}g"


def build_session(
    app_name: str = "cdc-ingest",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with CDC-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``getOrCreate`` sets every builder option on the ``SparkConf``, so
    these defaults override ``spark-submit --conf`` for the same keys;
    ``extra_conf`` is the override path (applied last, it wins over every
    default here).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — the scale story for hot-repo skew (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (vectorized decode; no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Spark 4 captures the Python call site on every Column and
        # DataFrame call (a stack walk plus py4j round trips each) for its
        # error messages: ~0.3 s of a point lookup's plan build. Off,
        # DataFrame errors lose their Python call site; turn it back on
        # through ``extra_conf`` when debugging. PySpark reads the flag once
        # per process, from the first active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Local mode hosts every executor thread inside the driver JVM, so
        # the heap must be sized for cores * per-task state + the SQL
        # cache; 8g at 32 cores spent 5-7s of GC per merge write stage and
        # ~26s in a compaction (event-log task metrics,
        # OPTIMIZATION_r06.md §headline), and OOMed outright once the
        # cached bench stream grew 4x. Default derives from machine RAM
        # (_default_driver_memory); spark-submit overrides on clusters.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # The lake's manifest reads pass explicit LEAF-FILE paths (no
        # recursive discovery needed), but above this many paths Spark
        # launches a distributed listing JOB — one tiny task per path
        # (512-task stages worth ~1.3s per compaction, pure scheduling).
        # A driver-side stat of a few thousand posix/object paths is
        # milliseconds; raise the bar so the job form kicks in only at
        # genuinely huge file counts (env-tunable for object stores with
        # slow per-path metadata).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                os.environ.get("SPARK_LIST_JOB_THRESHOLD", "4096"))
        # Delta/base file codec: lz4 decompresses fastest and this engine's
        # files are write-once/read-once-into-compaction, so compression
        # CPU sits on the merge critical path (measured: lz4 beat snappy by
        # ~1s/roll and uncompressed by more at 4M events). On
        # bandwidth-constrained clusters set CDC_PARQUET_CODEC=zstd for the
        # smaller files (guide §6) — a deployment choice, not a semantic.
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("CDC_PARQUET_CODEC", "lz4"))
    )
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
