"""Pipeline lineage/resume tests (north rule: idempotent resume)."""

import json
import os
import shutil
import uuid

import pytest

from mitie_spark.corpus import generate


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plcorpus"))
    generate(d, n_pages=60, seed=11)
    return d


STAGES = ("kg", "triples_raw", "linked", "components", "triples", "entity_rank")

# Spark jobs per stage of a cold run on this 60-page corpus, and in total
# for a rerun that skips every stage. A stage's jobs are those from its
# resume check up to the next stage's check; "driver" is everything
# before the first check. Adding a job is meant to be a visible decision:
# raise a ceiling here on purpose, never to quiet a failure.
# A stage reopens from the schema in its lineage record, and the pages
# and the alias dictionary open from their parquet footers, so a skipped
# rerun runs no job.
COLD_JOB_CEILINGS = {
    "driver": 0, "kg": 2, "triples_raw": 1,
    "linked": 5, "components": 4, "triples": 6, "entity_rank": 3,
}
SKIPPED_RERUN_JOB_CEILING = 0


def _run(spark, corpus_dir, out_dir, force=False):
    from mitie_spark.plans.pipeline import run_pipeline

    return run_pipeline(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/alias_dict.parquet",
        out_dir,
        force=force,
    )


def _jobs_per_stage(spark, monkeypatch, run):
    """Run ``run()`` with one Spark job group per pipeline stage and return
    {stage or "driver": job count}."""
    from mitie_spark.plans import pipeline

    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    real = pipeline.stage_is_complete

    def tagged(out_path, *args, **kwargs):
        sc.setJobGroup(f"{tag}:{os.path.basename(out_path)}", "stage")
        return real(out_path, *args, **kwargs)

    sc.setJobGroup(f"{tag}:driver", "driver")
    try:
        with monkeypatch.context() as m:
            m.setattr(pipeline, "stage_is_complete", tagged)
            out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    counts = {
        g: len(tracker.getJobIdsForGroup(f"{tag}:{g}"))
        for g in ("driver",) + STAGES
    }
    return out, counts


def test_pipeline_runs_and_resumes(spark, corpus_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "out")
    rep1, cold_jobs = _jobs_per_stage(
        spark, monkeypatch, lambda: _run(spark, corpus_dir, out)
    )
    assert rep1["_summary"]["triples"] > 0
    assert not rep1["kg"]["skipped"]
    assert [n for n in rep1 if not n.startswith("_")] == list(STAGES)
    # the summary counts mentions as linked rows: one row per kg mention
    kg_mentions = (
        spark.read.parquet(os.path.join(out, "kg"))
        .selectExpr("explode(mentions)")
        .count()
    )
    assert rep1["_summary"]["mentions"] == kg_mentions > 0
    # entity_rank: every canonical entity in the triple graph gets a rank
    assert rep1["_summary"]["entities_ranked"] > 0
    over = {g: n for g, n in cold_jobs.items() if n > COLD_JOB_CEILINGS[g]}
    assert not over, f"stage job counts over their ceilings: {over}"

    # full re-run: everything skipped, summary identical
    rep2, rerun_jobs = _jobs_per_stage(
        spark, monkeypatch, lambda: _run(spark, corpus_dir, out)
    )
    assert all(
        rec["skipped"] for name, rec in rep2.items() if not name.startswith("_")
    )
    assert rep2["_summary"] == rep1["_summary"]
    assert sum(rerun_jobs.values()) <= SKIPPED_RERUN_JOB_CEILING, rerun_jobs

    # simulate a crash that lost a mid-pipeline stage: delete triples_raw
    shutil.rmtree(os.path.join(out, "triples_raw"))
    os.remove(os.path.join(out, "triples_raw.lineage.json"))
    rep3 = _run(spark, corpus_dir, out)
    assert rep3["kg"]["skipped"]  # upstream untouched
    assert not rep3["triples_raw"]["skipped"]  # lost stage re-ran
    assert rep3["_summary"] == rep1["_summary"]  # byte-stable result

    # a record without the reopen schema (as written before it was
    # recorded) still resumes: its stage reopens by schema inference
    for name in STAGES:
        path = os.path.join(out, f"{name}.lineage.json")
        with open(path) as f:
            rec = json.load(f)
        del rec["schema"]
        with open(path, "w") as f:
            json.dump(rec, f)
    rep4 = _run(spark, corpus_dir, out)
    assert all(rep4[n]["skipped"] for n in STAGES)
    assert {n: rep4[n]["config_hash"] for n in STAGES} == {
        n: rep3[n]["config_hash"] for n in STAGES
    }
    assert rep4["_summary"] == rep1["_summary"]


@pytest.fixture(scope="module")
def clean_run(spark, corpus_dir, tmp_path_factory):
    """(out dir, report) of one run on the clean corpus."""
    out = str(tmp_path_factory.mktemp("clean") / "out")
    return out, _run(spark, corpus_dir, out)


def test_lineage_records(clean_run):
    out, _ = clean_run
    with open(os.path.join(out, "kg.lineage.json")) as f:
        rec = json.load(f)
    assert rec["stage"] == "kg"
    assert rec["output_rows"] > 0
    assert rec["partitions"] >= 1
    assert rec["partition_histogram"][0]["rows"] >= 1
    assert rec["config_hash"]


@pytest.mark.parametrize("stage", STAGES)
def test_lineage_counts_match_reopened_table(spark, clean_run, stage):
    """write_stage takes output_rows from the write, not from a re-read:
    it must still equal the count of the reopened table, and the per-file
    histogram (one entry per data file on disk) must sum to it."""
    out, rep = clean_run
    with open(os.path.join(out, f"{stage}.lineage.json")) as f:
        rec = json.load(f)
    assert rec == {k: v for k, v in rep[stage].items() if k != "skipped"}
    assert rec["output_rows"] == spark.read.parquet(rec["location"]).count()
    hist = rec["partition_histogram"]
    assert sum(p["rows"] for p in hist) == rec["output_rows"]
    on_disk = sorted(
        os.path.relpath(os.path.join(d, n), rec["location"])
        for d, _, names in os.walk(rec["location"])
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )
    assert sorted(p["file"] for p in hist) == on_disk
    assert rec["partitions"] == len(on_disk)


def test_reopen_schema_matches_inference(spark, clean_run):
    """The schema a lineage record carries reopens its stage with the
    columns, order and types that parquet schema inference gives:
    data columns first, then the partition columns."""
    from mitie_spark.sources.catalog import read_table

    out, rep = clean_run
    for stage in STAGES:
        rec = rep[stage]
        reopened = read_table(spark, rec["kind"], rec["location"], rec["schema"])
        assert reopened.schema == spark.read.parquet(rec["location"]).schema, stage


def _jobs_of(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["pages.parquet", "alias_dict.parquet"])
@pytest.mark.parametrize("corpus", ["test60", "sf0.001"])
def test_inputs_open_from_their_footers(spark, corpus_dir, corpus, name):
    """The pipeline's inputs open with the schema parquet inference gives
    and their row count, and the open runs no Spark job. ``warc_ts`` is a
    tz-less parquet timestamp, which inference reads as timestamp_ntz."""
    from pyspark.sql.types import TimestampNTZType

    from mitie_spark.sources.catalog import open_parquet

    d = corpus_dir if corpus == "test60" else os.path.join(
        os.path.dirname(__file__), "..", "data", "kg_sf0.001"
    )
    path = os.path.join(d, name)
    (df, rows), jobs = _jobs_of(spark, lambda: open_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert rows == df.count()
    if name == "pages.parquet":
        assert df.schema["warc_ts"].dataType == TimestampNTZType()


@pytest.mark.parametrize("cores", [4, 32])
def test_extraction_task_count_rule(cores):
    """clamp(ceil(rows / ROWS_PER_TASK), cores, 4 * cores)."""
    from mitie_spark.operators.extraction import ROWS_PER_TASK, extraction_tasks

    low, high = cores * ROWS_PER_TASK, 4 * cores * ROWS_PER_TASK
    assert extraction_tasks(1, cores) == cores
    assert extraction_tasks(low, cores) == cores
    assert extraction_tasks(low + 1, cores) == cores + 1
    assert extraction_tasks(high, cores) == 4 * cores
    assert extraction_tasks(high + 1, cores) == 4 * cores
    # the 40k-page bench corpus: 4 per core on 4 cores; on 32 cores
    # ceil(40000 / 700) = 58 tasks is under the cap of 128
    assert extraction_tasks(40_000, cores) == {4: 16, 32: 58}[cores]


def test_kg_runs_one_task_per_core_on_a_small_corpus(spark, clean_run):
    """60 pages are far under ROWS_PER_TASK per core: kg writes one file
    per task, one task per core."""
    _, rep = clean_run
    assert rep["kg"]["input_rows"] == 60
    assert rep["kg"]["partitions"] == spark.sparkContext.defaultParallelism


def _sorted_row_md5(path):
    import hashlib

    import pandas as pd

    df = pd.read_parquet(path)
    cols = sorted(df.columns)
    rows = sorted(map(repr, df[cols].itertuples(index=False, name=None)))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def test_force_rebuild_of_entity_rank_is_byte_stable(
    spark, corpus_dir, clean_run, tmp_path
):
    """entity_rank's PageRank runs on the driver under the size gate, in a
    summation order fixed by sorted node ids, so a --force rebuild over a
    finished output writes the same rows, bit for bit."""
    out, _ = clean_run
    again = str(tmp_path / "out")
    shutil.copytree(out, again)
    rep = _run(spark, corpus_dir, again, force=True)
    assert not rep["entity_rank"]["skipped"]
    assert _sorted_row_md5(os.path.join(again, "entity_rank")) == (
        _sorted_row_md5(os.path.join(out, "entity_rank"))
    )


def test_write_stage_rejects_a_count_the_files_do_not_hold(
    spark, tmp_path, monkeypatch
):
    """A footer sum that disagrees with the observed count fails the stage
    before its lineage record is written, so the stage is not complete."""
    import time

    from mitie_spark.plans import lineage

    real = lineage._file_rows
    monkeypatch.setattr(
        lineage, "_file_rows", lambda *a: real(*a)[1:]  # one file unread
    )
    out = str(tmp_path / "st")
    with pytest.raises(RuntimeError, match="data files hold"):
        lineage.write_stage(
            spark.range(10).repartition(2), out, "st", {}, time.time()
        )
    assert lineage.stage_is_complete(out, lineage.config_hash({})) is None


@pytest.mark.parametrize("case", ["text_off_non_en", "html_null_en"])
def test_text_violation_fails_kg_and_fixed_input_resumes(
    spark, corpus_dir, clean_run, tmp_path, case
):
    """A page whose stored text is not html_to_text(html) fails the run
    before kg is recorded complete, lang-filtered pages included. The
    check is part of the kg stage, so once the page is fixed in place, a
    rerun without --force resumes and matches a clean run."""
    import pandas as pd

    clean = f"{corpus_dir}/pages.parquet"
    pages = pd.read_parquet(clean)
    if case == "text_off_non_en":
        i = pages.index[pages["lang"] != "en"][0]
        pages.loc[i, "text"] += " x"
    else:
        i = pages.index[pages["lang"] == "en"][0]
        pages.loc[i, "html"] = None
    bad_dir = tmp_path / "pages"
    bad_dir.mkdir()
    shutil.copy(f"{corpus_dir}/alias_dict.parquet", bad_dir)
    pages.to_parquet(bad_dir / "pages.parquet")
    out = str(tmp_path / "out")

    with pytest.raises(Exception, match="html→text invariant violated"):
        _run(spark, str(bad_dir), out)
    assert not os.path.exists(os.path.join(out, "kg.lineage.json"))

    shutil.copy(clean, bad_dir / "pages.parquet")
    rep = _run(spark, str(bad_dir), out)
    assert not rep["kg"]["skipped"]
    assert rep["_summary"] == clean_run[1]["_summary"]


def test_stage_wall_covers_eager_build(spark, corpus_dir, tmp_path, monkeypatch):
    """A stage's wall_sec starts before its build call: entity_rank builds its
    PageRank eagerly, before write_stage writes anything. The record
    write_stage returns is the one it writes, so it carries that wall."""
    import time

    from mitie_spark.operators import webgraph
    from mitie_spark.plans import pipeline

    pause = 3.0
    real = webgraph.pagerank

    def slow_pagerank(*args, **kwargs):
        time.sleep(pause)
        return real(*args, **kwargs)

    returned = {}
    real_write_stage = pipeline.write_stage

    def capture_write_stage(*args, **kwargs):
        rec = real_write_stage(*args, **kwargs)
        returned[rec["stage"]] = dict(rec)
        return rec

    monkeypatch.setattr(webgraph, "pagerank", slow_pagerank)
    monkeypatch.setattr(pipeline, "write_stage", capture_write_stage)
    out = str(tmp_path / "out3")
    _run(spark, corpus_dir, out)
    assert returned["entity_rank"]["wall_sec"] >= pause
    with open(os.path.join(out, "entity_rank.lineage.json")) as f:
        assert json.load(f)["wall_sec"] >= pause
    with open(os.path.join(out, "pipeline_report.json")) as f:
        assert json.load(f)["entity_rank"]["wall_sec"] >= pause
