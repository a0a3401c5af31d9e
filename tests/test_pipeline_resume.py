"""Pipeline lineage/resume tests (north rule: idempotent resume)."""

import json
import os
import shutil

import pytest

from mitie_spark.corpus import generate


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plcorpus"))
    generate(d, n_pages=60, seed=11)
    return d


def _run(spark, corpus_dir, out_dir, force=False):
    from mitie_spark.plans.pipeline import run_pipeline

    return run_pipeline(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/alias_dict.parquet",
        out_dir,
        force=force,
    )


def test_pipeline_runs_and_resumes(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    rep1 = _run(spark, corpus_dir, out)
    assert rep1["_summary"]["triples"] > 0
    assert not rep1["kg"]["skipped"]
    # stage 7: every canonical entity in the triple graph gets a rank
    assert rep1["_summary"]["entities_ranked"] > 0

    # full re-run: everything skipped, summary identical
    rep2 = _run(spark, corpus_dir, out)
    assert all(
        rec["skipped"] for name, rec in rep2.items() if not name.startswith("_")
    )
    assert rep2["_summary"] == rep1["_summary"]

    # simulate a crash that lost a mid-pipeline stage: delete triples_raw
    shutil.rmtree(os.path.join(out, "triples_raw"))
    os.remove(os.path.join(out, "triples_raw.lineage.json"))
    rep3 = _run(spark, corpus_dir, out)
    assert rep3["kg"]["skipped"]  # upstream untouched
    assert not rep3["triples_raw"]["skipped"]  # lost stage re-ran
    assert rep3["_summary"] == rep1["_summary"]  # byte-stable result


def test_lineage_records(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out2")
    _run(spark, corpus_dir, out)
    with open(os.path.join(out, "kg.lineage.json")) as f:
        rec = json.load(f)
    assert rec["stage"] == "kg"
    assert rec["output_rows"] > 0
    assert rec["partitions"] >= 1
    assert rec["partition_histogram"][0]["rows"] >= 1
    assert rec["config_hash"]


def test_stage_wall_covers_eager_build(spark, corpus_dir, tmp_path, monkeypatch):
    """A stage's wall_sec starts before its build call: stage 7 builds its
    PageRank eagerly, before write_stage writes anything."""
    import time

    from mitie_spark.operators import webgraph

    pause = 3.0
    real = webgraph.pagerank

    def slow_pagerank(*args, **kwargs):
        time.sleep(pause)
        return real(*args, **kwargs)

    monkeypatch.setattr(webgraph, "pagerank", slow_pagerank)
    out = str(tmp_path / "out3")
    _run(spark, corpus_dir, out)
    with open(os.path.join(out, "entity_rank.lineage.json")) as f:
        assert json.load(f)["wall_sec"] >= pause
    with open(os.path.join(out, "pipeline_report.json")) as f:
        assert json.load(f)["entity_rank"]["wall_sec"] >= pause
