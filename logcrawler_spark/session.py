"""SparkSession factory.

Single place where every entry point (tests, bench, driver contract) builds
its session, so scale-relevant configs are uniform:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4 R12),
- Arrow on with bounded batch size (the reference tuned its REST batch sizes
  per table, ``07_input_cognition_data_rust.py:99,146``; here one knob:
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — SURVEY.md §4 R4),
- UTC session timezone (oracle comparison against DuckDB),
- shuffle partitions sized to cores for local mode; on a real cluster this
  is set to ~2-3x total cores by the submitter, and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: default heap ceiling: GC logs show ~6GB live at the sf1.0 bench, so 24g
#: keeps 4x headroom and stays under the 32GB compressed-oops limit
_MAX_DEFAULT_HEAP_MB = 24 * 1024


def mem_total_mb() -> int:
    """Physical memory (MemTotal of /proc/meminfo) in MiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def default_driver_mem(total_mb: int | None = None) -> str:
    """Heap for a session without ``SPARK_GRAFT_DRIVER_MEM``: 60% of
    physical memory, capped at 24g, as a JVM size string."""
    if total_mb is None:
        total_mb = mem_total_mb()
    return f"{min(_MAX_DEFAULT_HEAP_MB, total_mb * 6 // 10)}m"


def _size_mb(size: str) -> float:
    """MiB of a JVM size string ("12g", "4096m", "512k", bytes)."""
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    s = size.strip().lower()
    if s and s[-1] in units:
        return float(s[:-1]) * units[s[-1]]
    return float(s) / (1 << 20)


def get_spark(
    cores: int | str | None = None,
    app_name: str = "logcrawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores``: int N -> ``local[N]``; None -> ``$SPARK_GRAFT_CPUS`` or ``*``.
    Heap: ``$SPARK_GRAFT_DRIVER_MEM``, else :func:`default_driver_mem`.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cores) if str(cores).isdigit() else n

    driver_mem = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    )
    # Pre-size and pre-touch the driver/executor heap (local mode: one JVM).
    # Measured on a 32-thread host: a cold 48g heap grows lazily under
    # allocation pressure, and the page-fault/commit cost lands INSIDE the
    # first minutes of query time (crawl runs [198s, 102s, 30s] without
    # vs [25s, 16s, 12s] with — 6x on the bench median). -Xms=-Xmx plus
    # AlwaysPreTouch moves that cost to session startup, exactly what
    # production executors do (guide §5: size memory to the workload).
    # A heap larger than physical memory cannot be committed up front
    # (the JVM fails with errno=12), so such an explicit size is left to
    # grow lazily. Override knob: SPARK_GRAFT_PRETOUCH=0 disables.
    java_opts = ""
    if _size_mb(driver_mem) <= mem_total_mb():
        java_opts = f"-Xms{driver_mem}"
        if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
            java_opts += " -XX:+AlwaysPreTouch"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # ad-hoc conf injection for profiling runs (e.g. eventLog) without
    # touching call sites: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
