"""Per-stage lineage + resume bookkeeping.

North rule: "Every stage checkpoints per-partition lineage and counters so
runs resume idempotently." Each pipeline stage materializes through
sources/catalog.write_table (partitioned Iceberg table when a catalog is
configured, parquet directory otherwise); next to the stage path we write
`<stage>.lineage.json` carrying input/output row counts, a per-partition
output histogram, the materialization kind+location, and the stage config
hash. A stage re-runs only if its output is missing, incomplete (no
_SUCCESS / no table), or its config hash changed — so a killed run resumes
from the last completed stage and re-runs are byte-stable."""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitie_spark.sources.catalog import read_table, write_table


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
    input_rows: int | None = None,
    catalog: str | None = None,
) -> dict:
    """Materialize a stage (Iceberg table if `catalog`, else parquet at
    out_path) + lineage record. Returns the record.

    ``started`` is the ``time.time()`` taken before the stage built `df`:
    an eager build (entity_rank's PageRank iterations) runs before this call,
    and the record's ``wall_sec`` must cover it."""
    kind, location = write_table(
        df, out_path, stage, partition_by=partition_by, catalog=catalog
    )

    spark = df.sparkSession
    back = read_table(spark, kind, location)
    part_hist = [
        {"partition": int(r["pid"]), "rows": int(r["rows"])}
        for r in back.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("rows"))
        .collect()
    ]
    rec = {
        "stage": stage,
        "output": out_path,
        "kind": kind,
        "location": location,
        "config_hash": config_hash(conf),
        "config": {k: str(v) for k, v in conf.items()},
        "input_rows": input_rows,
        "output_rows": int(sum(p["rows"] for p in part_hist)),
        "partitions": len(part_hist),
        "partition_histogram": sorted(part_hist, key=lambda p: -p["rows"])[:32],
        "wall_sec": round(time.time() - started, 3),
    }
    with open(_lineage_path(out_path), "w") as f:
        json.dump(rec, f, indent=1)
    return rec

