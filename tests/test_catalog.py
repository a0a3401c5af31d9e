"""Iceberg-catalog seam tests. The sandbox has no Iceberg runtime jar, so
the Iceberg branch is exercised against a recording stub (same plumbing a
real catalog session would drive); the parquet fallback and the dispatch
logic run for real."""

import os

import pandas as pd

from mitie_spark.sources.catalog import (
    _catalog_from_items,
    iceberg_catalog,
    open_parquet,
    read_table,
    write_table,
)


def test_catalog_detection_from_conf_items():
    assert _catalog_from_items([]) is None
    assert (
        _catalog_from_items(
            [("spark.master", "local[4]"), ("spark.app.name", "x")]
        )
        is None
    )
    items = [
        ("spark.sql.catalog.graph", "org.apache.iceberg.spark.SparkCatalog"),
        ("spark.sql.catalog.graph.type", "hive"),
    ]
    assert _catalog_from_items(items) == "graph"
    # a non-iceberg custom catalog must not trigger the iceberg path
    assert (
        _catalog_from_items([("spark.sql.catalog.x", "com.example.Other")])
        is None
    )


def test_no_catalog_in_sandbox_session(spark):
    assert iceberg_catalog(spark) is None


def test_parquet_fallback_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        pd.DataFrame({"pred": ["a", "a", "b"], "n": [1, 2, 3]})
    )
    out = str(tmp_path / "stage1")
    kind, loc = write_table(df, out, "stage1", partition_by=["pred"])
    assert (kind, loc) == ("parquet", out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    # hive-style partition dirs
    assert os.path.exists(os.path.join(out, "pred=a"))
    back = read_table(spark, kind, loc)
    assert back.count() == 3 and set(back.columns) == {"pred", "n"}


def test_open_parquet_matches_inference_on_spark_written_inputs(spark, tmp_path):
    """A Spark-written input opens with the schema its footer carries
    (a session timestamp, which parquet stores as INT96, stays
    ``timestamp``); a partitioned one opens by inference, so its partition
    column is kept. Either way the rows are the footers' sum."""
    df = spark.sql(
        "SELECT id, id % 2 AS part, timestamp'2020-01-01 00:00:00' AS ts,"
        " array(named_struct('a', id)) AS nested FROM range(10)"
    ).repartition(3)
    for partition_by in (None, ["part"]):
        out = str(tmp_path / f"in{bool(partition_by)}")
        write_table(df, out, "in", partition_by=partition_by)
        opened, rows = open_parquet(spark, out)
        assert opened.schema == spark.read.parquet(out).schema
        assert rows == 10 == opened.count()


class _StubWriter:
    def __init__(self, calls):
        self.calls = calls

    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", cols))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))


class _StubDF:
    def __init__(self):
        self.calls = []

    def writeTo(self, ident):
        self.calls.append(("writeTo", ident))
        return _StubWriter(self.calls)


def test_iceberg_branch_plumbing():
    df = _StubDF()
    kind, loc = write_table(
        df, "/ignored", "triples", partition_by=["pred"], catalog="graph"
    )
    assert (kind, loc) == ("iceberg", "graph.kg.triples")
    assert df.calls == [
        ("writeTo", "graph.kg.triples"),
        ("using", "iceberg"),
        ("partitionedBy", ("pred",)),
        ("createOrReplace",),
    ]


def test_iceberg_file_histogram_reads_files_metadata(spark):
    """An Iceberg stage's per-file histogram comes from the table's
    ``files`` metadata table: path and record count of each data file."""
    from mitie_spark.plans.lineage import _file_rows

    files = spark.createDataFrame(pd.DataFrame({
        "content": [0, 0],
        "file_path": ["s3://wh/kg/triples/data/a.parquet",
                      "s3://wh/kg/triples/data/b.parquet"],
        "record_count": [5, 2],
    }))
    asked = []

    class _StubSession:
        def table(self, name):
            asked.append(name)
            return files

    assert _file_rows(_StubSession(), "iceberg", "graph.kg.triples") == [
        {"file": "s3://wh/kg/triples/data/a.parquet", "rows": 5},
        {"file": "s3://wh/kg/triples/data/b.parquet", "rows": 2},
    ]
    assert asked == ["graph.kg.triples.files"]
