"""File-based sources.

- CsvSource: reference S1 (CsvSourceDriver.php:39-72) — header row,
  streamed records; an empty or header-only file is an invalid source.
- ParquetSource: the native columnar path (what the 100 TB deployment
  actually reads); predicate/column pushdown are free via Catalyst, and
  the schema comes from a footer read on the driver, not a Spark job.
- JsonSource: line-delimited JSON, beyond-reference convenience.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class InvalidSourceError(ValueError):
    pass


class CsvSource:
    def __init__(self, path: str, schema=None, **options):
        self.path = path
        self.schema = schema
        self.options = {"header": "true", **options}

    def load(self, spark: SparkSession) -> DataFrame:
        # Reference rejects missing/empty files (CsvSourceDriver.php:50-54).
        if os.path.isfile(self.path) and os.path.getsize(self.path) == 0:
            raise InvalidSourceError(f"empty CSV source: {self.path}")
        reader = spark.read.options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        df = reader.csv(self.path)
        if not df.columns:
            raise InvalidSourceError(f"CSV source has no header: {self.path}")
        # header-only is invalid too (CsvSourceDriver.php:50-54): a
        # truncated export must fail loudly, not migrate zero rows (and
        # with orphan_policy='prune', mark every destination row an
        # orphan). One head(1) probe — loads happen once per migration.
        if not df.head(1):
            raise InvalidSourceError(f"header-only CSV source: {self.path}")
        return df


def _footer_schema(spark: SparkSession, path: str):
    """The data schema Spark infers for ``path`` (a file, directory or
    glob), read from the first data file's footer on the driver with
    Spark's own converter: a bare ``spark.read.parquet`` launches one
    schema-inference job to read that footer. Directory scans skip
    Spark's hidden names; partition columns are the reader's to add.
    None where Spark reads more than that one footer: schema merging
    on, or a ``_common_metadata``/``_metadata`` summary file, which it
    prefers."""
    import json

    from pyspark.sql.types import StructType

    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    pending = list(fs.globStatus(hpath) or [])
    while pending:
        status = pending.pop(0)
        if status.isDirectory():
            names = {c.getPath().getName(): c for c in fs.listStatus(status.getPath())}
            if names.keys() & {"_common_metadata", "_metadata"}:
                return None
            pending[:0] = [
                names[n] for n in sorted(names)
                if not (n.startswith(".") or (n.startswith("_") and "=" not in n))
            ]
            continue
        footer = jvm.org.apache.parquet.hadoop.Footer(
            status.getPath(),
            jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, status.getPath()),
        )
        spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(
            footer,
            spark_parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf()),
        )
        return StructType.fromJson(json.loads(schema.json()))
    raise InvalidSourceError(f"no parquet data file at {path}")


class ParquetSource:
    def __init__(self, path: str):
        self.path = path

    def load(self, spark: SparkSession) -> DataFrame:
        schema = _footer_schema(spark, self.path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path)


class JsonSource:
    def __init__(self, path: str, schema=None, **options):
        self.path = path
        self.schema = schema
        self.options = options

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.json(self.path)


class OrcSource:
    """Columnar alternative to ParquetSource (Spark-native ORC reader;
    predicate/column pushdown via Catalyst, same as parquet)."""

    def __init__(self, path: str):
        self.path = path

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.orc(self.path)
