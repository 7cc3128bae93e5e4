"""SparkSession factory with the engine's standard tuning block.

Config choices (SURVEY.md §3.2/§4):
- AQE on (runtime re-plan, partition coalescing, skew-join split).
- Arrow on (vectorized pandas/Arrow UDF transfer — the only sanctioned
  Python execution path, BASELINE.json input_hint).
- shuffle partitions sized ~2x cores pre-AQE; AQE coalesces down.
- session timezone pinned UTC so DuckDB-oracle timestamp comparison is
  byte-stable.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


MIN_SHM_FREE_BYTES = 16 * 1024**3


def _scratch_dir() -> str:
    """/dev/shm/spark-local only when the tmpfs has ≥16 GiB free AND
    ≥25% of its capacity unused; /tmp otherwise."""
    try:
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        total = st.f_blocks * st.f_frsize
        if free >= MIN_SHM_FREE_BYTES and total > 0 and free / total >= 0.25:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return "/tmp"


def _default_shuffle_partitions(master: str | None) -> int | None:
    """2× the local core count for ``local[...]`` masters; None (leave
    unset) otherwise. The driver's cpu count says NOTHING about a real
    cluster's width — deriving a default from it for an explicit
    ``spark://``/``yarn``/``k8s`` master would pin every wide stage on
    a 400-core cluster to ~16 tasks (AQE coalesces down, never up), so
    cluster masters get no default here (round-3 ADVICE: the guard must
    cover the explicit-master path, not just spark-submit)."""
    if master is None or not master.startswith("local"):
        return None
    n = os.cpu_count() or 8
    if master.startswith("local[") and master.endswith("]") and master[6:-1].isdigit():
        n = int(master[6:-1])
    return max(8, 2 * n)


def _driver_memory_from_meminfo(meminfo: str, share: float = 0.4) -> str | None:
    """``share`` of MemTotal from a ``/proc/meminfo`` text, floored to
    whole GiB (at least 1g); None when MemTotal is missing. In local
    mode the driver heap is the heap of the whole engine, and G1 grows
    it toward the cap long before it collects: a fixed 48g cap let the
    test JVM grow past the RAM of a 16 GB host and get OOM-killed."""
    m = re.search(r"^MemTotal:\s+(\d+)\s*kB", meminfo, re.MULTILINE)
    if m is None:
        return None
    gib = int(int(m.group(1)) * share) // (1024 * 1024)
    return f"{max(1, gib)}g"


def _default_driver_memory(master: str | None) -> str | None:
    """Host-sized heap for ``local`` masters; None (leave unset) for
    launcher-owned and cluster masters, the same rule as
    ``_default_shuffle_partitions``: the driver host's RAM says nothing
    about what a cluster launcher has provisioned."""
    if master is None or not master.startswith("local"):
        return None
    try:
        with open("/proc/meminfo") as fh:
            return _driver_memory_from_meminfo(fh.read())
    except OSError:
        return None


def get_spark(
    app_name: str = "reddit_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to 2x the local core
    count — AQE coalesces smaller stages at runtime.
    """
    # Make the engine importable by Python WORKER processes regardless of
    # the driver's cwd/sys.path (workers get PYTHONPATH, not driver
    # sys.path). On a real cluster the same is achieved with
    # ``spark-submit --py-files dist/engine.zip``; see jobs/.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    # Under spark-submit the launcher already owns the master (--master
    # yarn/k8s/standalone): PythonRunner execs this script with
    # PYSPARK_GATEWAY_PORT set, and calling .master() here would
    # OVERRIDE the cluster manager with local[*]. Only pick a local
    # default when running as a plain python process (tests, bench) or
    # when the caller/env asks for one explicitly.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local masters only — launcher-owned (spark-submit) AND
        # explicit cluster masters both leave it unset; see
        # _default_shuffle_partitions.
        shuffle_partitions = _default_shuffle_partitions(master)
    driver_memory = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(master)

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # shuffle/spill scratch on RAM-backed tmpfs when available —
        # the sandbox analog of the NVMe/ramdisk local dirs every real
        # cluster uses; keeps benchmark walls from measuring virtio
        # writeback stalls instead of the engine. Checkpoints still go
        # to the caller-chosen (durable) path. GATED on free tmpfs
        # space (round-1 ADVICE): /dev/shm is capped (~50% of RAM) and
        # shared with executor memory, so large shuffles there fail
        # with no-space errors and crashed runs pin spill files in RAM
        # — fall back to disk unless tmpfs has comfortable headroom.
        # Escape hatch: set SPARK_LOCAL_DIRS explicitly (also the knob
        # on real clusters, where the cluster manager overrides
        # spark.local.dir anyway).
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", _scratch_dir()))
        # deterministic float behavior across runs is helped by a fixed
        # partitioning story; nothing here uses sampling or rand().
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
