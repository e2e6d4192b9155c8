"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; the configs below
are the ones that matter at 100 TB too: AQE (runtime re-plan + skew-join
splitting), Arrow for the pandas-UDF boundary, shuffle partitions sized to
parallelism instead of the 200 default.

Python workers start from this package's ``pydaemon``: it drops Spark's
pyspark/py4j/jar archives from the workers' ``sys.path`` when the same
pyspark release is installed as a directory, so the ``importlib``
cache invalidation pyspark runs at every task start re-reads no zip archive.
That per-task wait (130-300 ms on a 4-vCPU VM) came from this session's
worker setup, not from the Python install.

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled``).
With it on, PySpark wraps every DataFrame, Column and ``functions`` call to
capture its Python call site: an active-session lookup, a conf read, a stack
walk, and setting then clearing the JVM's ``PySparkCurrentOrigin``, each a
py4j round trip. ``F.col("x")`` costs 13 round trips and 0.83-1.07 ms with
it, 3 and 0.21-0.37 ms without; a perfbench ``extract`` pass makes 459-673
round trips with it and 181-378 without, a ``dedup`` pass 3751-3956 and
1879-2078 (4-vCPU VM).
The trade: an analysis error keeps its error class, message and SQL context
and loses only the Python ``file:line`` fragment of its DataFrame context.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_local_dir() -> str:
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "autoextraction-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    On a real cluster these settings ship unchanged via spark-submit;
    only ``master`` differs. ``rocksdb_state=True`` backs streaming state
    with RocksDB — at web-crawl scale the stateful-dedup digest set exceeds
    executor heap, and the HDFS-backed default store keeps state in memory;
    it is also a runtime SQL conf, so an existing session can flip it with
    ``spark.conf.set`` before starting a query.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # jemalloc (pyarrow's default pool) triggers kernel THP-compaction storms
    # under 32 concurrent Arrow workers in this VM; the system allocator is
    # uniformly faster here. Must be set before JVM/worker launch.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    builder = (
        # local[N,4]: allow 4 task attempts like a real cluster — local mode
        # defaults to maxFailures=1, so one flaky python-worker death (this
        # VM's stall pathology occasionally resets worker sockets on
        # long runs) kills the whole job instead of retrying the task
        SparkSession.builder.master(f"local[{cpus},4]")
        .appName(app_name)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1m) sizes partitions by SHUFFLED
        # bytes, but this engine's pair stages shuffle id pairs and attach
        # wide payloads (embedding vectors, shingle arrays) AFTER the
        # exchange — a 26 MB id-pair shuffle was coalesced to 4-10 tasks
        # that then each did 100k+ interpreted vector ops (r6, event-log
        # measured: dedup_recall_eval 5.5 s -> 2.6 s with the finer floor).
        # At production scale these exchanges exceed every floor and the
        # setting is inert; it only stops small-byte/high-compute stages
        # from losing their parallelism.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # RDD-path serialization (localCheckpoint barriers) defaults to slow
        # JavaSerializer; Kryo roughly halves barrier cost
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # no per-call Python call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # python workers must import this package (cluster: spark-submit --py-files)
        .config("spark.executorEnv.PYTHONPATH", REPO_DIR)
        .config("spark.python.daemon.module", "autoextraction_spark.pydaemon")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", os.environ["ARROW_DEFAULT_MEMORY_POOL"])
        # Shuffle/spill I/O path: this sandbox's rootfs (virtio) serializes
        # concurrent shuffle-file writes (threads pile up in
        # BypassMergeSortShuffleWriter -> FileChannelImpl.transferTo at 32
        # task threads). tmpfs removes that; on a real cluster this is the
        # NVMe/SSD local-dir setting.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", _default_local_dir()))
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
