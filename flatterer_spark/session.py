"""SparkSession factory tuned for the engine.

Local test profile is ``local[$SPARK_GRAFT_CPUS]``; the same settings are the
ones we would ship as cluster defaults: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), 32 shuffle partitions at test scale (raise to
~2-3x total cores on a real cluster), Arrow enabled so any Pandas-UDF path is
vectorized, UTC session timezone so timestamp semantics are portable.

Python workers start through :mod:`flatterer_spark.worker_daemon`
(``spark.python.daemon.module``) instead of ``pyspark.daemon``.  It is
``pyspark.daemon`` plus one patch: on interpreters whose zipimporter re-reads
an archive's whole directory on every ``invalidate_caches()`` (Python 3.11
and older), the re-read is made lazy.  pyspark invalidates the import caches
at the start of every task, so without the patch each task in a reused
worker re-read ``pyspark.zip`` and the ``spark-core`` jar 14 times: about
0.2 s of CPU before the user function ran, 0.03 s with the patch (Spark 4.1,
Python 3.11, 4-core VM).
The package's parent directory is appended to
``spark.executorEnv.PYTHONPATH`` (Spark puts it after its own zips) so the
workers import the daemon whatever the JVM's working directory is; the
master is always ``local[...]``, so that directory is on the workers'
filesystem.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flatterer-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # ~90 registered queries x whole-stage-codegen classes overflow the
        # JVM's default 240m code cache mid-bench; once it fills, the JIT
        # disables and every later query runs interpreted (measured 2-3x on
        # the HOF-heavy dedup verifies).  512m keeps the JIT alive for the
        # whole suite.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # Hadoop's default file:// filesystem is ChecksumFileSystem: every
        # local write CRCs its bytes and shadows a .crc file next to each
        # part (then every read re-verifies).  Real clusters read object
        # stores / HDFS (which checksum at the storage layer); for local
        # file:// the raw filesystem removes a per-byte CPU pass and halves
        # small-file metadata ops on the exact-CSV part writes.
        # NOTE this is session-global: it disables CRC sidecars for ALL
        # file:// I/O in the session (parquet reads, checkpoints, user
        # workloads sharing it), not just the CSV part writes.  Acceptable
        # here because local file:// data is transient test/staging bytes;
        # a consumer that relies on checksummed local-FS behavior can
        # restore the default via
        # ``extra_conf={"spark.hadoop.fs.file.impl":
        # "org.apache.hadoop.fs.LocalFileSystem"}``.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    conf = dict(extra_conf or {})
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), pkg_parent) if p
    )
    conf.setdefault("spark.python.daemon.module", "flatterer_spark.worker_daemon")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
