"""End-to-end KG construction pipeline: pages → canonical triples.

Stages (north rule order; each materializes through
sources/catalog.write_table — a partitioned Iceberg table when a catalog is
configured at submit time, a parquet directory otherwise — with lineage,
and is skipped on re-run if complete — see plans/lineage.py). A table is
written only when a consumer reads it:

1. kg — fused extraction (tokenize → NER → relation scoring), one narrow
   mapInPandas stage, models loaded once per worker; its scan first checks
   the html→text invariant on every page (stored text byte-identical to
   html_to_text(html)); the first bad url fails the stage;
2. triples_raw — exploded triples, partitioned by pred (the query-side key);
3. linked — the mentions projection of kg (one row per mention) joined to
   the broadcast alias dictionary (exact) with MinHash-LSH fuzzy fallback;
4. components — connected components over the alias graph → canonical
   component per canonical_id;
5. triples — canonical (subj_id, pred, obj_id) edges with counts
   (skew-resistant two-phase aggregate), partitioned by pred;
6. entity_rank — PageRank salience over the canonical triple graph,
   solved on the driver under the graph size gate (webgraph.pagerank).

Cluster launch (real deployment; add the iceberg-spark-runtime package and
a spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog conf to
write stages as Iceberg tables — see sources/catalog.py):
    spark-submit --py-files mitie_spark.zip \
        --files ner_model.npz,relation_model.npz \
        -m mitie_spark.plans.pipeline -- --pages ... --out ...
On local[N] the package import is handled by session.get_spark.

Usage:
    python -m mitie_spark.plans.pipeline --pages-dir DIR --out DIR [--force]
If --pages-dir has no pages.parquet, a deterministic corpus is generated
(--gen-pages N, seed 42).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mitie_spark.models.train import ARTIFACT_DIR
from mitie_spark.plans.lineage import (
    config_hash,
    stage_is_complete,
    write_stage,
)

PRED_PARTITIONS = ["pred"]


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    alias_path: str,
    out_dir: str,
    ner_path: str | None = None,
    rel_path: str | None = None,
    force: bool = False,
    lang: str | None = "en",
) -> dict:
    from mitie_spark.functions.html2text import register_udf
    from mitie_spark.operators.extraction import (
        extract_kg,
        extraction_tasks,
        mentions_table,
        triples_table,
    )
    from mitie_spark.operators.linking import canonical_components, link_mentions

    from mitie_spark.sources.catalog import iceberg_catalog, open_parquet, read_table

    ner_path = ner_path or os.path.join(ARTIFACT_DIR, "ner_model.npz")
    rel_path = rel_path or os.path.join(ARTIFACT_DIR, "relation_model.npz")
    os.makedirs(out_dir, exist_ok=True)
    report: dict[str, dict] = {}
    catalog = iceberg_catalog(spark)  # None here → partitioned parquet

    def stage(name: str, conf: dict, build, partition_by=None, inputs=(),
              input_rows=None):
        """``inputs``: the upstream stages ``build`` reads. Their config
        hashes and row counts chain into this stage's hash, and the first
        one's rows are its ``input_rows`` (kg has none: it passes its own
        page count, read from the pages' footers)."""
        out = os.path.join(out_dir, name)
        ups = [report[i] for i in inputs]
        conf = {**conf, "from": [[u["config_hash"], u["output_rows"]] for u in ups]}
        rec = None if force else stage_is_complete(out, config_hash(conf), spark=spark)
        skipped = rec is not None
        if not skipped:
            t0 = time.time()
            rec = write_stage(
                build(), out, name, conf, t0, partition_by=partition_by,
                input_rows=ups[0]["output_rows"] if ups else input_rows,
                catalog=catalog,
            )
        report[name] = {**rec, "skipped": skipped}
        # a record written before schemas were recorded reopens by inference
        return read_table(spark, rec["kind"], rec["location"], rec.get("schema"))

    # the inputs open from their parquet footers, read on the driver: the
    # schema without inference's Spark job, and the page count, which is
    # kg's input_rows and sizes its tasks. A skipped kg keeps the count in
    # its record and opens no pages.
    open_pages = functools.cache(lambda: open_parquet(spark, pages_path))

    # 1. fused extraction behind the html→text invariant, checked on every
    # page, lang-filtered ones included, in the scan that feeds it. The
    # lang test and the check are one CASE, so the optimizer can neither
    # push the lang test below the check nor split them. A bad page fails
    # the write, so kg is not recorded complete and a fixed input re-runs.
    def build_kg():
        pages, n_pages = open_pages()
        h2t = register_udf()
        # null-safe: a NULL html or text must count as a violation, not
        # silently fall into a NULL comparison
        ok = (
            F.col("html").isNotNull()
            & F.col("text").isNotNull()
            & (h2t(F.col("html")) == F.col("text"))
        )
        keep = (  # extract_kg's lang rule, applied here so every page is checked
            F.col("lang") == lang
            if lang is not None and "lang" in pages.columns
            else F.lit(True)
        )
        bad = F.format_string("html→text invariant violated: %s", "url")
        checked = pages.filter(F.when(ok, keep).otherwise(F.raise_error(bad)))
        # tasks sized by the page count, not by input bytes (the corpus
        # compresses ~10x, so byte-based splits under-partition this
        # CPU-bound stage) nor by a fixed 4 per core (each Python task
        # pays ~0.22 s of set-up, more than a 300-page corpus's share of
        # extraction): ROWS_PER_TASK pages a task, 1-4 tasks per core.
        # (parallelism stays out of the config hash: rows are invariant to
        # the task layout, so resuming under a different --master must not
        # invalidate a completed extraction)
        return extract_kg(
            checked, ner_path, rel_path, lang_filter=None,
            parallelism=extraction_tasks(
                n_pages, spark.sparkContext.defaultParallelism
            ),
        )

    kg = stage(
        "kg",
        {"extractor_version": 1, "ner": ner_path, "rel": rel_path,
         "lang": lang, "pages": pages_path},
        build_kg,
        input_rows=lambda: open_pages()[1],
    )
    n_pages = report["kg"]["input_rows"]

    # 2. exploded triples
    triples_raw = stage(
        "triples_raw",
        {},
        lambda: triples_table(kg),
        partition_by=PRED_PARTITIONS,
        inputs=("kg",),
    )

    # 3. linking, over the one-row-per-mention projection of kg
    alias, _ = open_parquet(spark, alias_path)
    mentions = mentions_table(kg)
    linked = stage(
        "linked",
        {"alias": alias_path, "fuzzy": True},
        lambda: link_mentions(
            mentions.select("url", "surface", "tag", "token_start", "token_end"),
            alias,
        ),
        inputs=("kg",),
    )

    # 4. canonical components over the alias graph
    comps = stage(
        "components",
        {"alias": alias_path},
        lambda: canonical_components(alias),
    )

    # 5. canonical triple edges with counts (two-phase agg; partitioned by pred)
    def build_edges():
        # deterministic surface → entity map: min canonical_id per surface
        # (triples carry surfaces only, so a surface seen under two tags
        # must resolve once — F.first over an unordered group would make
        # re-runs non-byte-stable, breaking the lineage resume contract)
        surf2canon = (
            linked.filter(F.col("canonical_id").isNotNull())
            .groupBy("surface")
            .agg(F.min("canonical_id").alias("canonical_id"))
        )
        s2c = surf2canon.join(comps, "canonical_id")

        def endpoint(role):  # s2c keyed by the triple's subj or obj surface
            return F.broadcast(
                s2c.select(
                    F.col("surface").alias(role),
                    F.col("canonical_id").alias(f"{role}_id"),
                    F.col("component").alias(f"{role}_comp"),
                )
            )

        t = triples_raw.join(endpoint("subj"), "subj", "left").join(
            endpoint("obj"), "obj", "left"
        )
        # canonicalize on the COMPONENT when the entity has one: entities
        # connected through shared aliases (stage 4) collapse into one edge
        # endpoint; unlinked surfaces fall back to the raw surface string
        return t.groupBy(
            F.coalesce("subj_comp", "subj_id", "subj").alias("subj_id"),
            "pred",
            F.coalesce("obj_comp", "obj_id", "obj").alias("obj_id"),
        ).agg(
            F.count("*").alias("n_evidence"),
            F.min("subj").alias("subj_surface"),
            F.min("obj").alias("obj_surface"),
            F.countDistinct("url").alias("n_docs"),
        )

    triples = stage(
        "triples",
        {},
        build_edges,
        partition_by=PRED_PARTITIONS,
        inputs=("triples_raw", "linked", "components"),
    )

    # 6. entity salience — PageRank over the canonical triple graph.
    # The KG consumer's first ranking signal ("which entities matter"):
    # float production variant (entity graphs at crawl scale overflow the
    # integer gate variant's bound), 5 iterations, evidence-weighted
    # edges. Under webgraph.DRIVER_MAX_EDGES edges the size probe
    # collects the edge list and the driver iterates it in sorted
    # node order, so a rebuild writes the same bytes; above the gate it
    # runs the gated host PageRank's shuffle loop (one dst-keyed shuffle
    # per pass, result localCheckpointed before the write), whose float
    # sums follow Spark's partition order.
    def build_entity_rank():
        from mitie_spark.operators.webgraph import pagerank

        edges = triples.select(
            F.col("subj_id").alias("src"),
            F.col("obj_id").alias("dst"),
            F.col("n_evidence").cast("double").alias("weight"),
        )
        return pagerank(edges, iters=5).select(
            F.col("node").alias("entity_id"), F.col("rank").alias("rank")
        )

    stage("entity_rank", {"iters": 5}, build_entity_rank, inputs=("triples",))

    report["_summary"] = {
        "pages": n_pages,
        # link_mentions keeps one row per mention
        "mentions": report["linked"]["output_rows"],
        "triples_raw": report["triples_raw"]["output_rows"],
        "triples": report["triples"]["output_rows"],
        "entities_ranked": report["entity_rank"]["output_rows"],
    }
    with open(os.path.join(out_dir, "pipeline_report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return report


def main():
    from mitie_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-dir", required=True, help="dir with pages.parquet etc.")
    ap.add_argument("--out", required=True)
    ap.add_argument("--gen-pages", type=int, default=0,
                    help="generate a corpus of N pages into --pages-dir if missing")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    pages_parquet = os.path.join(args.pages_dir, "pages.parquet")
    if not os.path.exists(pages_parquet):
        if not args.gen_pages:
            raise SystemExit(f"{pages_parquet} missing; pass --gen-pages N")
        from mitie_spark.corpus import generate

        print("generating corpus:", generate(args.pages_dir, args.gen_pages))

    spark = get_spark("mitie_spark_pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    rep = run_pipeline(
        spark,
        pages_parquet,
        os.path.join(args.pages_dir, "alias_dict.parquet"),
        args.out,
        force=args.force,
    )
    for name, rec in rep.items():
        if name.startswith("_"):
            continue
        print(
            f"{name:12s} rows={rec['output_rows']:<8} partitions={rec['partitions']:<4}"
            f" wall={rec.get('wall_sec', 0):<8} skipped={rec.get('skipped')}"
        )
    print(json.dumps(rep["_summary"]))
    spark.stop()


if __name__ == "__main__":
    main()
