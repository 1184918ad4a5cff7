"""SparkSession factory with the engine's default tuning."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver heap bounds when SPARK_GRAFT_DRIVER_MEM is unset; the ceiling is
# the former fixed default.
MAX_DRIVER_HEAP_MB = 24 << 10
MIN_DRIVER_HEAP_MB = 1 << 10
JVM_LOCALE_OPTS = "-Duser.language=en -Duser.country=US"


def local_cpus() -> str:
    """Cores for a self-owned local master: ``SPARK_GRAFT_CPUS``, else the
    cores this process may run on (``nproc``)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _memory_limit_bytes() -> int | None:
    """Memory this process may use: the smaller of the cgroup limit (v2
    ``memory.max`` or v1 ``memory.limit_in_bytes``; "max" or the v1
    no-limit sentinel count as none) and ``MemAvailable``. None when
    neither can be read."""
    limits: list[int] = []
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < (1 << 60):
            limits.append(int(raw))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except (OSError, ValueError, IndexError):
        pass
    return min(limits) if limits else None


def driver_heap(limit_bytes: int | None) -> tuple[str, bool]:
    """(heap size, pin -Xms and pre-touch?) for the driver JVM.

    ``SPARK_GRAFT_DRIVER_MEM`` wins and is always pinned and pre-touched.
    Otherwise the heap is a quarter of ``limit_bytes`` (the rest is for
    the Python workers, off-heap Arrow buffers and the page cache), within
    [1 GiB, 24 GiB]; it is pinned and pre-touched only when it fits in
    half the limit. An unknown limit keeps the 24 GiB default."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit, True
    if limit_bytes is None:
        return f"{MAX_DRIVER_HEAP_MB // 1024}g", True
    mb = min(max((limit_bytes >> 20) // 4, MIN_DRIVER_HEAP_MB), MAX_DRIVER_HEAP_MB)
    return f"{mb}m", 2 * (mb << 20) <= limit_bytes


def _local_shuffle_partitions(master: str | None) -> int | None:
    """Core count implied by a plain-local master string, else None.

    Handles ``local``, ``local[N]``, ``local[N,maxFailures]``, ``local[*]``.
    ``local-cluster[...]`` and anything unparseable return None — those
    sessions keep Spark's default + AQE coalescing rather than crashing
    session construction on a valid master string."""
    if master is None or not master.startswith("local") or master.startswith("local-cluster"):
        return None
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n = n.split(",", 1)[0].strip()
    if n == "*":
        return os.cpu_count() or 32
    return int(n) if n.isdigit() else None


def get_spark(
    app_name: str = "admarus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Tame glibc mmap/munmap churn in the Arrow UDF workers: large numpy
    # buffers otherwise mmap+munmap on every batch, and at 32 concurrent
    # workers the kernel page-zeroing/mmap path dominates (observed 95%
    # system time). Arena reuse keeps those buffers pooled. Python workers
    # inherit this environment from the JVM, which inherits it from here.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    # the pre-warm daemon module must be importable by the worker daemon
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    # A spark-submit/pyspark-launched driver connects to the launcher's
    # already-running JVM gateway (PYSPARK_GATEWAY_PORT is set ONLY on that
    # path) whose spark.master came from --master/spark-defaults — setting
    # a master here would silently pin cluster deployments to a one-box
    # local master. Plain-python launches (tests, bench, notebooks) own the
    # JVM and default to a local master sized by SPARK_GRAFT_CPUS.
    # (PYSPARK_GATEWAY_PORT, not SPARK_ENV_LOADED: the latter leaks into
    # any shell that sourced load-spark-env.sh — e.g. docker entrypoints —
    # where no gateway exists and a master must still be synthesized.)
    launcher_owned = bool(os.environ.get("PYSPARK_GATEWAY_PORT"))
    if master is None and not launcher_owned:
        master = f"local[{local_cpus()}]"
    # local[N] → match shuffle partitions to cores (guide: not 200). ONLY
    # for local masters: on a real cluster the right number depends on
    # executors that may not have registered yet (early defaultParallelism
    # on YARN is ~2), so non-local sessions keep Spark's default + AQE
    # coalescing unless the caller/submit conf pins one. A launcher-owned
    # LOCAL master is sized after the session exists (runtime-settable).
    if shuffle_partitions is None:
        shuffle_partitions = _local_shuffle_partitions(master)
    heap, pin_heap = driver_heap(_memory_limit_bytes())
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # local corpora arrive as few large parquet files; small input splits
        # keep scan parallelism at the core count (harmless on many-file
        # tables — split merging still coalesces tiny files)
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "4m"))
        # JVM<->Python-worker channels over unix domain sockets: sandboxed /
        # filtered localhost TCP can stall worker setup for seconds per task
        .config("spark.python.unix.domain.socket.enabled", "true")
        # Reused workers with a pool sized to the core count (the default
        # pool cap throws warm workers away under bursts).
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "64")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        .config("spark.driver.maxResultSize", "4g")
    )
    # Pin -Xms to -Xmx and pre-touch at startup: Spark only sets -Xmx, so
    # the heap grows mid-run and every G1 expansion commits+zeroes GBs
    # inside stop-the-world pauses (observed as 20s+ stalls at 95% system
    # time). One-time startup pretouch instead — only for a heap the host
    # can hold (a 24g pre-touch on a 15 GB host killed the JVM at launch).
    # Every JVM runs in the en_US locale: Spark's lower() (tokenize_expr)
    # folds non-ASCII case by the JVM default locale, and a tr/az default
    # would split tokens from the Python/DuckDB tokenizers.
    pinned = f"-Xms{heap} -XX:+AlwaysPreTouch " if pin_heap else ""
    b = b.config(
        "spark.driver.extraJavaOptions", pinned + JVM_LOCALE_OPTS
    ).config("spark.executor.extraJavaOptions", JVM_LOCALE_OPTS)
    # Worker daemon that pre-imports the heavy stack (daemon_prewarm.py) so
    # cold forks skip the ~1s pandas/numpy/pyarrow import. The daemon
    # process starts BEFORE any task, so it can only import admarus_spark
    # from the PYTHONPATH its executor inherits: true when the executor
    # lives in a JVM forked from THIS process (plain-python local master —
    # the prepend above lands before the fork), false for remote executors
    # (driver env never reaches them) and under spark-submit --py-files
    # (py-files land on worker sys.path at task deserialization, after
    # daemon start). Default: on only for plain-python LOCAL sessions;
    # SPARK_GRAFT_PREWARM_DAEMON=1/0 forces it (set 1 on clusters with the
    # package pip-installed on every worker).
    prewarm = os.environ.get("SPARK_GRAFT_PREWARM_DAEMON")
    local_owned_jvm = (
        not launcher_owned and master is not None and master.startswith("local")
    )
    if prewarm == "1" or (prewarm != "0" and local_owned_jvm):
        b = b.config("spark.python.daemon.module", "admarus_spark.daemon_prewarm")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if (
        shuffle_partitions is None
        and spark.sparkContext.master.startswith("local")
        and not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions")
    ):
        # launcher-owned local master with no --conf override: size to the
        # core count (defaultParallelism is exact for local[N]). Non-local
        # masters are left to Spark's default + AQE coalescing — early
        # defaultParallelism on a cluster undercounts executors that have
        # not registered yet.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_shuffle_write_bytes(spark: SparkSession) -> int | None:
    """Total shuffle-write bytes across every stage the app has run so far,
    read from the JVM AppStatusStore (the UI's data source — works with
    ``spark.ui.enabled=false``). A before/after snapshot around a job
    brackets that job's exchange volume; the build runs its jobs
    sequentially from one driver thread, so the delta is attributable.
    Returns None when the py4j surface is unavailable (API drift) — callers
    treat the metric as best-effort evidence, never control flow."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        # Spark 4 signature: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus) — Scala default args don't exist at
        # the bytecode level, so every parameter is passed explicitly
        quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        total = 0
        it = store.stageList(None, False, False, quantiles, None).iterator()
        while it.hasNext():
            total += it.next().shuffleWriteBytes()
        return int(total)
    except Exception:
        return None
