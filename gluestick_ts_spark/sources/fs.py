"""Cluster-filesystem helpers (Hadoop FileSystem API via py4j).

``os.path`` only sees the driver's local disk: an existence check on an
``s3a://`` / ``hdfs://`` / ``file:/`` data path is always False
locally, which silently turns "dedup against the store" into "dedup
against an empty store" while writes to the remote path keep
succeeding. These helpers resolve paths through the same Hadoop
FileSystem layer Spark's own readers and writers use, so every scheme
Spark can read behaves identically — the existence check and the scan
agree on what "the store" is.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = [
    "hadoop_path_exists",
    "join_uri",
    "write_text_file",
    "read_text_file",
    "rename_path",
    "delete_path",
    "make_dirs",
    "list_dir_names",
]


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its URI scheme names
    (scheme-less paths resolve against ``fs.defaultFS``, exactly as a
    ``spark.read`` of the same string would)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def join_uri(base: str, *parts: str) -> str:
    """URI-safe path join: ``os.path.join`` is the driver's OS
    convention, not the store's — URIs always join with '/'."""
    segs = [base.rstrip("/")]
    segs.extend(p.strip("/") for p in parts if p)
    return "/".join(segs)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename/move through the Hadoop FS. O(1) on HDFS/local; on object
    stores (S3) the connector emulates it with copy+delete — callers
    doing directory swaps must treat it as non-atomic there."""
    fs, hsrc = _fs_and_path(spark, src)
    return bool(fs.rename(hsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.delete(hpath, recursive))


def make_dirs(spark: SparkSession, path: str) -> bool:
    """``mkdir -p`` through the Hadoop FS (no-op when already present).
    Needed before a ``rename`` into a directory that may not exist yet —
    Hadoop's rename, unlike its create, does not make parents."""
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.mkdirs(hpath))


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES of a directory (empty when it doesn't exist) —
    driver-side store-maintenance listing through the Hadoop FS, so the
    same code walks local dirs and object-store prefixes."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(hpath))


def write_text_file(spark: SparkSession, path: str, content: str) -> None:
    """Write a small driver-side text file (e.g. store metadata) through
    the Hadoop FS — works on any scheme Spark can write, unlike open()."""
    fs, hpath = _fs_and_path(spark, path)
    out = fs.create(hpath, True)  # overwrite
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    """Read a small driver-side text file (store metadata, sidecars)
    from any Spark-readable filesystem without a Spark job.

    Streams the whole file through commons-io IOUtils (py4j passes the
    byte[] back by value — a Java-side ``InputStream.read(buf)`` would
    never fill a Python bytearray), so use it only for metadata-sized
    files. ``_``/``.``-prefixed sidecars, which Spark's listing hides,
    read like any other file. A missing file raises
    ``AnalysisException``, as a ``spark.read`` of it would."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    fs, hpath = _fs_and_path(spark, path)
    try:
        stream = fs.open(hpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        raise AnalysisException(
            message=f"[PATH_NOT_FOUND] Path does not exist: {path}."
        ) from None
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return data.decode("utf-8")
