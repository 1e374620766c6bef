"""Small whole-file reads and writes through the Hadoop FileSystem API.

They reach the same URI schemes (local, HDFS, S3) as the parquet
readers and writers, and run no Spark job: a one-row DataFrame write or
read costs a job's scheduling floor for a few bytes of metadata. Each
path resolves its own FileSystem, so a path on another scheme than the
default filesystem still works.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def stat(spark: SparkSession, path: str) -> tuple[int, int]:
    """(size in bytes, modification time in ms) of a file."""
    fs, jpath = _fs(spark, path)
    st = fs.getFileStatus(jpath)
    return int(st.getLen()), int(st.getModificationTime())


def read_bytes(spark: SparkSession, path: str) -> bytes | None:
    """The whole file, or None when it does not exist. The bytes come
    back as the call's return value: py4j copies a returned byte[] into
    Python, whereas a Python buffer passed in (``readFully(pos, buf)``)
    is copied to Java and never filled."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create or overwrite ``path`` with ``data``."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` recursively; a missing path is not an error."""
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)
