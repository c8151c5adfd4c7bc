"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so every entry point (tests,
bench, driver contract, streaming) runs with the same, deliberately
chosen configuration. The defaults are tuned for correctness at small
scale factors *and* for surviving a 100 TB / 1000-executor deployment:

* AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  at large scale the static ``spark.sql.shuffle.partitions`` is only an
  upper bound; AQE right-sizes post-shuffle partitions from actual map
  output statistics.
* ``maxPartitionBytes`` kept at 128m so a 100 TB scan fans out to
  ~800k input splits instead of a handful of giant ones.
* Broadcast threshold left at Spark's default (10 MB) — dimension
  tables (region/nation/supplier) are *also* explicitly broadcast at
  call sites, so plans do not silently degrade to sort-merge joins when
  statistics are missing.
* Arrow enabled for the pandas-UDF extension points (similarity /
  multimodal operators).
* Driver heap sized to the host (``default_driver_memory``): half the
  smaller of the cgroup memory limit and physical RAM, capped at 32g,
  unless ``SPARK_GRAFT_DRIVER_MEM`` names a size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 32 * 1024
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _host_memory_bytes() -> int | None:
    """The smaller of the cgroup memory limit and ``/proc/meminfo``
    MemTotal; None when neither can be read. An unlimited cgroup
    reads as ``max`` (v2) or a near-2^63 sentinel (v1), both of which
    lose to MemTotal."""
    sizes = []
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            sizes.append(int(raw))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    sizes.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    return min(sizes) if sizes else None


def default_driver_memory() -> str:
    """``spark.driver.memory`` for this host: ``$SPARK_GRAFT_DRIVER_MEM``
    if set, else half of ``_host_memory_bytes()`` capped at 32g (32g
    when the host size is unknown). In local mode the driver heap IS
    the executor heap; the other half is left for JVM off-heap memory,
    the Python workers and the OS, so a 16 GiB host gets ~8g instead
    of a 32g heap the kernel kills once it fills."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    host = _host_memory_bytes()
    if host is None:
        return "32g"
    mb = min(host // 2 // (1024 * 1024), _MAX_DRIVER_MEM_MB)
    return "32g" if mb == _MAX_DRIVER_MEM_MB else f"{mb}m"


def get_spark(
    app_name: str = "gcp-food-delivery-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in this container; on a real cluster the caller passes nothing and
    spark-submit supplies the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # A single large splittable file (one 116 MB CSV in the
        # throughput bench) otherwise arrives as ONE split and
        # serializes the whole clean chain onto one core. Splitting to
        # cluster parallelism at the SCAN costs no shuffle; harmless at
        # real scale where file counts dwarf parallelism.
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as LONG nanos, converted in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata stores timestamp[us] with NO timezone — by
        # default Spark reads that as TIMESTAMP_NTZ, which rejects
        # cast(long)/unix_micros/watermarks. Read as plain TIMESTAMP
        # (session tz UTC makes the mapping deterministic).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Single-JVM local mode: the "driver" heap IS the executor heap.
        # 8g showed monotonic GC degradation across a 28-query bench
        # session (43s for a 2s query by the tail); the 32g cap, reached
        # on the 128 GiB bench container, keeps full GCs out of the
        # measurement.
        .config("spark.driver.memory", default_driver_memory())
        # Reclaim GC'd broadcasts/shuffles promptly in long sessions —
        # the default 30min periodic GC lets them pile up.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # InferFiltersFromConstraints mis-binds attributes when BOTH
        # sides of an equi-join derive the key from large deterministic
        # expressions over the same source table (the ANN cell-probe
        # join): the inferred cross-side filter lands above a projection
        # that pruned the referenced column and the plan dies at runtime
        # with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — nondeterministically
        # (rule-set iteration order shifts with session history; repro:
        # r15, an Arrow-warmup then v_ivfpq_topk as the first query).
        # Every predicate in this engine's plans is written explicitly
        # (isnotnull reaches the scans via pushdown — pinned by
        # tests/test_plans.py), so excluding the rule costs nothing
        # measurable here and removes the whole failure class. Also set
        # at runtime by load_table for sessions built without these
        # defaults (the driver's own session).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromConstraints",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
