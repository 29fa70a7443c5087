"""S9 — parquet dataset scan tolerant of the three layouts the
reference supports (`etl/er.py:253-291`): Hive-partitioned
(`root/city_slug=X/…`), per-city subdirectories of plain files
(`root/<slug>/data.parquet`), and flat files carrying `city_slug` as a
data column. Hive discovery is native; the per-city layout infers the
slug from the parent folder name via input_file_name()."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_places_dataset(spark: SparkSession, root: str) -> DataFrame:
    try:
        df = spark.read.parquet(root)
        if "city_slug" in df.columns:
            return df
    except Exception:
        pass
    # non-hive nested layout: recursive listing (disables partition
    # discovery), slug = parent directory name
    df = spark.read.option("recursiveFileLookup", "true").parquet(root)
    if "city_slug" in df.columns:
        return df
    return df.withColumn(
        "city_slug",
        F.regexp_extract(F.input_file_name(), r"([^/]+)/[^/]+$", 1),
    )

