"""Existence checks and deletes through the Hadoop FileSystem API.

``os.path`` and ``shutil`` see only the local disk: ``os.path.exists``
is False for every ``file://``, ``hdfs://`` or ``s3a://`` path. These
helpers resolve the path's own FileSystem from the session's Hadoop
configuration, so plain local paths and URIs of any scheme behave alike.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _resolve(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` (a file or a directory) exists."""
    fs, p = _resolve(spark, path)
    return bool(fs.exists(p))


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is a no-op."""
    fs, p = _resolve(spark, path)
    fs.delete(p, True)
