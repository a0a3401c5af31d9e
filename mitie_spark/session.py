"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (see SURVEY.md §4):
- AQE on (runtime coalescing + skew-join splitting absorbs domain/language
  skew in the web corpus without manual tuning);
- Arrow exec for all pandas UDFs (the model-apply operators are Arrow-batched);
- shuffle partitions sized to cores locally; on a real cluster this is set to
  2-3× total executor cores via spark-submit conf, AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Cap rows per Arrow batch so a pathological 100×-median-length document
    # cannot blow up a single python worker's memory (per-doc compute skew,
    # SURVEY.md §4(a)).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.shuffle.partitions": "32",
    # Broadcast up to 64 MB dimension tables (alias dict, vocab) — at cluster
    # scale the word-vector matrix goes through sc.broadcast, not a join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "mitie_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make this package importable in python workers regardless of the
    # caller's cwd. Local mode: workers inherit the env of the JVM we are
    # about to launch. Real cluster: ship the package with spark-submit
    # --py-files (see plans/pipeline.py docstring).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if master.startswith("local["):
        n = master[6:-1]
        if n.isdigit():
            conf["spark.sql.shuffle.partitions"] = n
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


# the canonical testdata table list — the DuckDB oracle harness
# (tests/oracle.py) registers views from this same list, so a new table
# appears on both engines or neither
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict:
    """Register the testdata parquet tables as temp views and return DFs."""
    names = names or TABLES
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out


_MEMO: dict[tuple, object] = {}


def session_memo(spark: SparkSession, name: str, path: str, build):
    """``build()`` once per (session, ``name``, resolved ``path``), then the
    stored value — the one cache for frames and values that several
    registry queries share. The key uses the applicationId, not
    ``id(spark)``: a stopped session's freed address can be reused by
    CPython, which would hand back a DataFrame bound to a dead
    SparkContext. ``path`` is resolved with ``realpath`` so spellings of
    one directory ('sf0.01', 'sf0.01/', a relative path) share one entry.
    Nothing is persisted or materialized here; a builder that wants its
    frame cached persists it itself."""
    key = (spark.sparkContext.applicationId, name, os.path.realpath(path))
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def by_compute(df, factor: int = 1):
    """Repartition a scan whose cost is compute-per-row, not bytes.

    Compressed web text under-partitions badly when split by
    ``files.maxPartitionBytes`` (a few MB of parquet can be minutes of
    tokenize/hash/model work), so CPU-heavy map stages size their tasks by
    cores instead. The round-robin exchange is one narrow shuffle of the
    input bytes, and it keeps its task count: AQE never coalesces a
    repartition to an explicit number of partitions, so a small input
    still runs ``factor`` tasks per core, each paying Python's per-task
    set-up (the pipeline's ``kg`` stage sizes by row count instead:
    ``extraction.extraction_tasks``)."""
    par = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(par)
