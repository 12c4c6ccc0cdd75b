"""SparkSession factory tuned for the local[N] sandbox but configured the
way a 1000-executor cluster run would be (AQE, Arrow, UTC, skew join)."""

from __future__ import annotations

import os
import sys
import zipimport
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.fs as pafs
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docling_nlp_api_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A local[cores] session with this package's defaults; `extra_conf`
    entries are applied last and override them. The streaming state
    store keeps Spark's default provider: a deployment whose per-key
    state must spill to disk picks RocksDB here or with `spark-submit
    --conf`, as `spark.sql.streaming.stateStore.providerClass=
    org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    (tests/test_streaming_rocksdb.py pins that results do not change)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: 256 docs/batch. Interleaved A/B at 32 cores
        # (sf0.5, same window): 256 -> 34.9k/43.9k docs/s vs 1024 ->
        # 30.6k/25.4k. Memory is bounded in spans, not docs:
        # extract_arrow._bounded_slices re-cuts any batch over
        # BATCH_SPAN_BUDGET
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # sandbox inputs are hundreds of MB: 16 MB splits keep all local[N]
        # cores busy (128 MB default would pack a 357 MB table into ~3
        # partitions). At real 100 TB scale splits are plentiful; a cluster
        # deployment overrides this back up via extra_conf/spark-submit
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.python.worker.reuse", "true")
        # surface native crashes in Python workers as task errors with a
        # traceback instead of a silently hung Arrow socket read
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def write_text_file(spark: SparkSession, path: str, content: str) -> None:
    """Write a small driver-side text file (job metrics, manifests)
    THROUGH the JVM Hadoop FileSystem, so `path` may live on any scheme
    the cluster supports (file:, hdfs:, s3a:, ...). Builtin open() only
    resolves local paths — with an object-store --output root it would
    raise AFTER the job's expensive work succeeded, failing the run on
    its very last (and cheapest) step.

    Content lands in a sibling temp file that is renamed over the
    destination, so a crash mid-write leaves either the old file or
    none — never an empty/truncated one. On HDFS and local filesystems
    the rename step is atomic; on object stores (S3A renames are
    copy+delete) the delete→rename window can briefly expose a missing
    file — never a torn one, because the content is fully durable
    before the swap.
    FileSystem.rename reports failure by RETURNING FALSE rather than
    raising, so the return value is checked and raised here — a silent
    false would otherwise finish a job without its file."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    dst = P(path)
    tmp = P(path + "._tmp")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"write_text_file: rename {path}._tmp -> {path} failed")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (any scheme) — the portable form of
    os.path.isdir for checkpoint/staging roots that may be hdfs://s3a://
    on a real cluster (os.path is always False there, which would
    silently disable exactly-once resume)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def qualified_uri(spark: SparkSession, path: str, conf=None) -> str:
    """`path` as Spark and Hadoop resolve it: a path without a scheme or
    authority is qualified against fs.defaultFS and the filesystem's
    working directory (the JVM's, for a local path), under the Hadoop
    Configuration `conf` (the session's by default). A path that names
    both is returned as given, without loading its filesystem."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    uri = jpath.toUri()
    if uri.getScheme() is None or uri.getAuthority() is None:
        conf = conf if conf is not None else spark._jsc.hadoopConfiguration()
        uri = jpath.getFileSystem(conf).makeQualified(jpath).toUri()
    return uri.toString()


def arrow_fs(spark: SparkSession, path: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem and path of `path` as the session writes it
    (qualified_uri), for reading in Python workers what Spark wrote. A
    scheme pyarrow does not handle, or cannot open here, raises a
    ValueError that names it (Hadoop's s3a:// is pyarrow's s3://;
    pyarrow's hdfs:// needs libhdfs and the Hadoop CLASSPATH)."""
    uri = qualified_uri(spark, path)
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError) as exc:
        scheme = urlsplit(uri).scheme
        raise ValueError(f"pyarrow cannot open '{scheme}://' paths such as {uri}: {exc}") from exc


def drop_zip_finders() -> None:
    """Delete the zipimporter entries of sys.path_importer_cache as a task
    body ends: PySpark's worker calls invalidate_caches() before each task,
    which re-reads each cached zip's directory (0.1-0.25 s a task). A later
    import rebuilds a finder from zipimport's directory cache, unread."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
