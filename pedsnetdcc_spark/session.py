"""SparkSession construction tuned for the engine.

The reference parallelizes work with a pool of 25 database connections
(reference: pedsnetdcc/db.py:314-320); in Spark the scheduler plays that
role, so the session here concentrates on the knobs that matter at scale:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partition count, broadcast threshold, and Arrow for the few
Pandas-UDF code paths.

Python workers: before CPython 3.13 every Python task (Arrow/pandas UDFs,
the ``applyInPandasWithState`` runner) re-parsed the whole central
directory of ``pyspark.zip`` 12-16 times, once per cached ``zipimporter``,
because PySpark's worker calls ``importlib.invalidate_caches()`` per task:
~0.2 CPU-s per task even with reused workers (Python-worker CPU of a
trivial pandas UDF over 32 partitions on ``local[4]``, 4-core x86 VM,
CPython 3.11.7: 9.4 s before, 2.5 s after).  For ``local[...]`` masters
the session runs its workers under :mod:`pedsnetdcc_spark.pyworker`,
whose stat-guarded ``invalidate_caches`` re-reads an archive only when it
changed.  The same daemon imports pandas, pyarrow and PySpark's worker
modules once and calls ``gc.freeze()`` before it forks, so the full
``gc.collect()`` a reused worker runs after every task skips those ~73k
objects instead of walking them each time (Python-worker CPU of a warm
32-task pandas UDF job on ``local[4]``, same VM: 0.36-0.40 s before,
0.01-0.05 s after).  Other masters keep Spark's default daemon, without
the zip guard or the frozen heap, since their executors may not have
this package on their path.

Streams: every master polls an idle streaming source every 100 ms
(``spark.sql.streaming.pollingDelay``) instead of Spark's 10 ms.  Each
idle poll of a file source lists it through a fresh ``InMemoryFileIndex``,
which clones the whole Hadoop ``Configuration``; the two idle streams of
the ``incremental_ingest`` benchmark burned 0.22-0.35 cores at 10 ms and
0.08-0.13 at 100 ms on the same VM.  The trade: a file that lands in an
idle source waits up to 100 ms longer for its batch.  ``extra_conf``
overrides both the daemon and the polling delay.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the dev harness (single JVM, local[N]); on a real
# cluster the same builder is used with master/memory supplied by the
# submitter and shuffle partitions sized to ~2-3x total executor cores.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def session_conf(
    master: str,
    shuffle_partitions: int,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark config :func:`build_session` applies; ``extra_conf``
    wins over every engine default.  Idle streams poll every 100 ms on
    every master.  On a ``local[...]`` master the Python workers run
    under :mod:`pedsnetdcc_spark.pyworker`, with this package's parent
    directory merged into ``spark.executorEnv.PYTHONPATH`` so the
    workers can import it."""
    extra_conf = dict(extra_conf or {})
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE can only COALESCE shuffle partitions, never split them, so
        # the initial partition count is the hard parallelism ceiling of
        # every shuffle.  Start each shuffle 4x over-partitioned and let
        # coalescing shrink small stages back down: a volume-heavy
        # shuffle (e.g. the per-doc top-k over a ~250M-row scored token
        # stream at the x1000 probe point) keeps enough partitions to
        # sort in memory instead of spilling (measured: 98.6 s at 32
        # partitions -> 74.7 s at 128, SCALE.md round-9), while
        # small-stage runs coalesce to ~core-count partitions as before.
        # On a real cluster the submitter raises shuffle_partitions and
        # this multiplier scales with it.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(shuffle_partitions * 4),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound Arrow batch size: multimodal pipelines carry MB-scale
        # binary payloads per row, and the default 10k-row batches would
        # put gigabytes in a single python-worker transfer at 100 TB
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.parquet.compression.codec": "zstd",
        # the harness's events table carries TIMESTAMP(NANOS) parquet
        # columns; read them as long and convert in sources.io.read_table
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # an idle stream re-plans a batch per poll; see the module note
        "spark.sql.streaming.pollingDelay": "100ms",
    }
    if master == "local" or master.startswith("local["):
        conf["spark.python.daemon.module"] = "pedsnetdcc_spark.pyworker"
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        key = "spark.executorEnv.PYTHONPATH"
        paths = [p for p in extra_conf.get(key, "").split(os.pathsep) if p]
        if pkg_parent not in paths:
            paths.append(pkg_parent)
        extra_conf[key] = os.pathsep.join(paths)
    conf.update(extra_conf)
    return conf


def build_session(
    app_name: str = "pedsnetdcc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config
    (:func:`session_conf`).

    Scale posture: AQE enabled so runtime statistics re-plan joins
    (broadcast conversion, skew split) after each shuffle; partition
    coalescing keeps small-SF test runs from drowning in empty tasks
    while leaving large runs at the configured parallelism.  Python
    workers of a ``local[...]`` master run under the engine's daemon
    (:mod:`pedsnetdcc_spark.pyworker`); any other master keeps Spark's
    default daemon, because its executors may not have this package on
    their path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
