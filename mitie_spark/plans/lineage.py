"""Per-stage lineage + resume bookkeeping.

North rule: "Every stage checkpoints per-partition lineage and counters so
runs resume idempotently." Each pipeline stage materializes through
sources/catalog.write_table (partitioned Iceberg table when a catalog is
configured, parquet directory otherwise); next to the stage path we write
`<stage>.lineage.json` carrying input/output row counts, a per-file
output histogram, the materialization kind+location, and the stage config
hash. A stage re-runs only if its output is missing, incomplete (no
_SUCCESS / no table), or its config hash changed — so a killed run resumes
from the last completed stage and re-runs are byte-stable.

The counts come from the write itself, not from a re-read of the output:
``output_rows`` is a ``DataFrame.observe`` count on the written frame.
``partition_histogram`` has one ``{"file", "rows"}`` entry per written
data file, heaviest first, and ``partitions`` is the number of those
files (before, both described the Spark partitions of a re-read). For
parquet a file is its path under out_path and its rows are read on the
driver from its footer; for Iceberg both come from the table's ``files``
metadata table. Files that hold other than the observed count fail the
stage before its record is written.

A parquet stage's record also carries ``schema``, the reopened table's
schema as inference would give it (``catalog.reopen_schema``: data
columns, then partition columns), so the pipeline reopens the stage
without the Spark job that parquet schema inference runs. A record
without it, written before it was recorded, reopens by inference; the
field is not part of the config hash, so such an output still resumes."""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mitie_spark.sources.catalog import (
    parquet_files,
    read_table,
    reopen_schema,
    write_table,
)


def config_hash(conf: dict) -> str:
    return hashlib.md5(
        json.dumps(conf, sort_keys=True, default=str).encode()
    ).hexdigest()[:12]


def _lineage_path(out_path: str) -> str:
    return out_path.rstrip("/") + ".lineage.json"


def stage_is_complete(out_path: str, conf_hash: str, spark=None) -> dict | None:
    """The stage's lineage record if its output is complete under
    ``conf_hash``, else None."""
    try:  # a missing record is an OSError too
        with open(_lineage_path(out_path)) as f:
            rec = json.load(f)
    except (json.JSONDecodeError, OSError):
        return None
    if rec.get("config_hash") != conf_hash:
        return None
    if rec.get("kind") == "iceberg":
        # completeness = the snapshot table exists (writes are atomic)
        done = spark is not None and spark.catalog.tableExists(rec["location"])
    else:
        done = os.path.exists(os.path.join(out_path, "_SUCCESS"))
    return rec if done else None


def write_stage(
    df: DataFrame,
    out_path: str,
    stage: str,
    conf: dict,
    started: float,
    partition_by: list[str] | None = None,
    input_rows: int | Callable[[], int] | None = None,
    catalog: str | None = None,
) -> dict:
    """Materialize a stage (Iceberg table if `catalog`, else parquet at
    out_path) + lineage record. Returns the record.

    ``started`` is the ``time.time()`` taken before the stage built `df`:
    an eager build (entity_rank's PageRank iterations) runs before this call,
    and the record's ``wall_sec`` must cover it. ``input_rows`` is an int,
    or a callable that gives it once the write has run (kg's is the page
    count its build read from the pages' footers)."""
    written = Observation(f"lineage_{stage}")
    kind, location = write_table(
        df.observe(written, F.count(F.lit(1)).alias("rows")), out_path, stage,
        partition_by=partition_by, catalog=catalog,
    )
    output_rows = written.get["rows"]
    part_hist = sorted(
        _file_rows(df.sparkSession, kind, location),
        key=lambda p: (-p["rows"], p["file"]),
    )
    in_files = sum(p["rows"] for p in part_hist)
    if in_files != output_rows:
        raise RuntimeError(
            f"stage {stage}: data files hold {in_files} rows,"
            f" the write observed {output_rows}"
        )
    rec = {
        "stage": stage,
        "output": out_path,
        "kind": kind,
        "location": location,
        "config_hash": config_hash(conf),
        "config": {k: str(v) for k, v in conf.items()},
        "input_rows": input_rows() if callable(input_rows) else input_rows,
        "output_rows": output_rows,
        "partitions": len(part_hist),
        "partition_histogram": part_hist,
        "wall_sec": round(time.time() - started, 3),
    }
    if kind == "parquet":
        rec["schema"] = reopen_schema(df, partition_by)
    with open(_lineage_path(out_path), "w") as f:
        json.dump(rec, f, indent=1)
    return rec


def _file_rows(spark, kind: str, location: str) -> list[dict]:
    """{"file", "rows"} of every data file a stage wrote."""
    if kind == "iceberg":
        files = read_table(spark, kind, f"{location}.files")
        return [
            {"file": r["file_path"], "rows": int(r["record_count"])}
            for r in files.select("file_path", "record_count").collect()
        ]
    import pyarrow.parquet as pq

    return [
        {"file": os.path.relpath(p, location), "rows": pq.read_metadata(p).num_rows}
        for p in parquet_files(location)
    ]
