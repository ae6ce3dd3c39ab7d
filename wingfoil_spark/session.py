"""SparkSession construction and per-session configuration.

Scale posture: these defaults are written for a real cluster (AQE on, skew
join handling, partition-size-targeted shuffles); locally they run the same
code on ``local[N]``.

Python workers: sessions built by :func:`get_spark` start their Python
workers from :mod:`wingfoil_spark.pydaemon` instead of ``pyspark.daemon``.
Every Python task calls ``importlib.invalidate_caches()``, and on CPython
below 3.13 that re-reads the whole directory of ``pyspark.zip`` once per
zip importer, ~90 ms of worker CPU per task (the micro-batch stateful
bindings pay it on every batch). The daemon re-reads an archive only when
its mtime or size changed; CPython fixed this upstream only in 3.13, where
zipimport invalidation became lazy. Sessions built elsewhere (a
driver-provided session passed to :func:`configure_session`) keep the stock
daemon: the module is a launch-time setting. The workers get this
package's parent directory on their ``PYTHONPATH``, so the daemon (like the
operators' closures) imports from any working directory; a
``spark.executorEnv.PYTHONPATH`` set elsewhere is kept after it.

Streaming checkpoints: sessions built by :func:`get_spark` write
checkpoint and state-store files through Hadoop's ``FileSystem``
(``FileSystemBasedCheckpointFileManager``) instead of the default
``FileContext`` manager. Without the native Hadoop library, the local
``FileContext`` spawns ``readlink`` twice per rename (the file and its
``.crc``) and ``chmod`` once per created file, about 85 processes per
micro-batch of a keyed stateful query; that, not the state's size, was
the state-store commit cost. ``FileSystem`` renames stay atomic on the
local file system these ``local[N]`` sessions write to. A
driver-provided session keeps its own manager: on HDFS the default
relies on ``FileContext``'s atomic rename, so the setting is not one of
the runtime confs :func:`configure_session` applies.

Generated code: Catalyst's whole-stage codegen stands in for a compiled
graph, and like one it should be compiled once and run many times. Spark
keeps the compiled classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default, and one
pass of the three ``llm_batch`` queries alone compiles ~140 classes, so at
the default every repeated query missed the cache and paid Janino
compiles, class loading and JIT warm-up again. A first pass over all 50
graded queries at sf0.01 compiles 1,039 distinct classes (``decon_stream``
299, ``curation`` 125, ``ann`` 67); :func:`get_spark` sessions keep 2,000,
room for that working set with headroom for larger query sets. With
stage ids also kept out of class names (a runtime conf below), a steady
pass over the 50 compiles no class, where the defaults compiled 1,701.
The cache size is a static conf, read when the JVM's code generator first
runs, so it cannot be one of the runtime confs: a driver-provided session
keeps Spark's default, and its owner should set it in
``spark-defaults.conf`` (or ``--conf``) at launch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``wingfoil_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the streaming checkpoint writer of :func:`get_spark` sessions (see the
#: module docstring)
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: generated classes the JVM keeps compiled in :func:`get_spark` sessions
#: (see the module docstring)
_CODEGEN_CACHE_ENTRIES = 2000

#: SQL confs we need regardless of who built the session. All of these are
#: runtime-settable, so they can be applied to a driver-provided session.
_RUNTIME_CONFS = {
    # The synthetic events table stores ts as parquet TIMESTAMP(NANOS), which
    # Spark has no timestamp type for. Reading nanos as LongType matches the
    # engine's NanoTime model (int64 ns since epoch,
    # reference crates/wingfoil/src/runtime/time.rs:38-68) exactly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep coalescing from SERIALIZING compute-heavy small shuffles: the
    # default 1 MiB floor merged a 100k-row keyed window stage onto 2 of
    # 32 cores (measured r9: stats_tw 2.41s→0.83s, dynamic_membership
    # 1.57s→0.65s, analysis_scores 1.22s→0.56s at sf0.1 with a 64 KiB
    # floor). Coalescing can only MERGE the shuffle.partitions map
    # outputs — it never splits — so at data scale (partitions ≫ 64 KiB)
    # this floor is inert and the advisory-size/parallelismFirst logic
    # is unchanged; it only stops tiny-but-expensive stages from losing
    # the machine.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Arrow transfer for every pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep the codegen stage id out of generated class names, so one stage
    # body is one cache entry under any id: AQE numbers a query's stages
    # in the order it plans them, which varies from run to run, and each
    # new numbering recompiled the same code (17-22 classes a pass in
    # ann and curation, 4-9 in llm_batch's first timed passes).
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.sql.session.timeZone": "UTC",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned or
    ours). Safe to call repeatedly."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; proceed with the default.
            pass
    return spark


def get_spark(app_name: str = "wingfoil_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    follow the parallelism (on a real cluster you would size these to
    ~128-256 MiB of shuffle data per partition; AQE coalescing makes the
    exact number forgiving).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "wingfoil_spark.pydaemon")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Workers read PYTHONPATH from the context's environment, which already
    # holds any spark.executorEnv.PYTHONPATH (spark-defaults, submit args):
    # put this package's parent in front of it rather than replace it.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return configure_session(spark)


def overlap(*thunks):
    """Run independent driver-side job chains concurrently; return their
    results in argument order. A chain's error is raised once every
    chain has finished.

    Spark runs jobs only as sequentially as the driver submits them: a
    chain of small eager jobs (fits, checkpoints, store writes) leaves
    most cores idle, and submitting independent chains from driver
    threads lets the scheduler back-fill them. Each call sizes its own
    pool to one thread per thunk, so every chain starts at once and a
    thunk may itself call ``overlap`` for a sub-chain it needs first;
    never wait inside one thunk on another thunk's result."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
