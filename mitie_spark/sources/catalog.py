"""Iceberg-catalog-aware table materialization.

The north rule materializes pipeline stages into partitioned Iceberg graph
tables. In a real deployment an Iceberg catalog is configured at
spark-submit time::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.graph=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.graph.type=hive ...

When such a catalog exists, stage outputs go through ``df.writeTo``
(`partitionedBy` transforms, atomic `createOrReplace` snapshots — readers
never observe a half-written stage, and resume keys off table existence +
the lineage config hash exactly as with parquet). Without one (this
sandbox has no Iceberg runtime jar), outputs are partitioned parquet
directories with `_SUCCESS` markers — same layout, weaker atomicity.

The dispatch is pure and unit-tested; the Iceberg branch's plumbing is
exercised against a recording stub since the jar cannot be installed here.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _catalog_from_items(items) -> str | None:
    """First catalog name whose implementation class mentions iceberg."""
    for k, v in items:
        m = re.fullmatch(r"spark\.sql\.catalog\.([A-Za-z0-9_]+)", k)
        if m and "iceberg" in str(v).lower():
            return m.group(1)
    return None


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None (→ parquet fallback)."""
    try:
        items = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover - defensive (connect-only sessions)
        items = []
    return _catalog_from_items(items)


def write_table(
    df: DataFrame,
    out_path: str,
    stage: str,
    partition_by: list[str] | None = None,
    catalog: str | None = None,
    namespace: str = "kg",
) -> tuple[str, str]:
    """Materialize a stage → (kind, location).

    kind='iceberg': location is the table identifier; kind='parquet':
    location is the directory path.
    """
    if catalog:
        ident = f"{catalog}.{namespace}.{stage}"
        w = df.writeTo(ident).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*partition_by)
        w.createOrReplace()
        return ("iceberg", ident)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    return ("parquet", out_path)


def reopen_schema(df: DataFrame, partition_by: list[str] | None = None) -> dict:
    """``df``'s schema in the column order a parquet reopen of its write
    gives, as JSON: data columns first, then partition columns. Spark
    reads every field of it as nullable, as inference does; a partition
    column keeps its written type, where inference guesses one from the
    directory names."""
    parts = partition_by or []
    fields = [f for f in df.schema.fields if f.name not in parts]
    return StructType(fields + [df.schema[p] for p in parts]).jsonValue()


def read_table(
    spark: SparkSession, kind: str, location: str, schema: dict | None = None
) -> DataFrame:
    """Reopen a stage. ``schema`` (parquet only, from ``reopen_schema``)
    spares the Spark job that parquet schema inference runs."""
    if kind == "iceberg":
        return spark.table(location)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(location)


def parquet_files(location: str) -> list[str]:
    """The data files Spark reads at a parquet path: the file itself, or
    every file under the directory whose name and directories do not
    start with ``_`` or ``.`` (Spark's hidden-file rule), sorted."""
    location = os.path.normpath(location)
    if os.path.isfile(location):
        return [location]
    out = []
    for d, subdirs, names in os.walk(location):
        subdirs[:] = [s for s in subdirs if not s.startswith(("_", "."))]
        out += [os.path.join(d, n) for n in names if not n.startswith(("_", "."))]
    return sorted(out)


# the Spark schema a Spark-written file carries; inference prefers it
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def open_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Open a parquet input from its footers, read on the driver, with no
    Spark job: ``(frame, rows)``. The rows are the footers' sum. The
    schema is the one inference takes from the first file's footer (a
    tz-less timestamp reads as ``timestamp_ntz``). A partitioned directory,
    whose partition columns are named by directories, not footers, and a
    column type that has no Arrow→Spark conversion open by inference."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = parquet_files(path)
    metas = [pq.read_metadata(f) for f in files]
    rows = sum(m.num_rows for m in metas)
    top = os.path.normpath(path)
    if not metas or any(f != top and os.path.dirname(f) != top for f in files):
        return spark.read.parquet(path), rows
    kv = metas[0].metadata or {}
    if _SPARK_SCHEMA_KEY in kv:
        schema = StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    else:
        try:
            schema = from_arrow_schema(
                metas[0].schema.to_arrow_schema(), prefer_timestamp_ntz=True
            )
        except TypeError:  # e.g. an unsigned or half-float column
            return spark.read.parquet(path), rows
    return spark.read.schema(schema).parquet(path), rows
