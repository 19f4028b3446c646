"""Parquet the engine writes, read back without inferring its schema.

``spark.read.parquet(dir)`` without a schema runs a Spark job that
reads one footer to learn the schema. For a directory the engine wrote
itself the schema is known at write time, so the writer saves it next
to the data as ``_schema.json`` and the reader hands it to
``spark.read.schema``: no job. Spark's file listing skips names that
start with ``_``, so the file is never read as data. A directory
without the file (written by another tool, or copied in) is read with
inference, as before. Spark reads every parquet column as nullable
whichever schema it is given, so both reads return the same schema.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMA_FILE = "_schema.json"


def _schema_file(spark: SparkSession, directory: str):
    """(Hadoop FileSystem, Path) of ``directory``'s schema file, so the
    data can live on any supported filesystem."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{directory}/{SCHEMA_FILE}")
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def save_schema(df: DataFrame, directory: str) -> None:
    """Record the schema of ``df``, just written to ``directory``. Call
    it after the write: an overwrite clears the directory first."""
    fs, path = _schema_file(df.sparkSession, directory)
    out = fs.create(path, True)
    try:
        out.write(df.schema.json().encode())
    finally:
        out.close()


def read_parquet(spark: SparkSession, directory: str) -> DataFrame:
    """``spark.read.parquet(directory)``, with the saved schema if there
    is one."""
    fs, path = _schema_file(spark, directory)
    if not fs.exists(path):
        return spark.read.parquet(directory)
    stream = fs.open(path)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return spark.read.schema(T.StructType.fromJson(json.loads(text))).parquet(directory)
