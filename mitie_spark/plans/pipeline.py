"""End-to-end KG construction pipeline: pages → canonical triples.

Stages (north rule order; each materializes through
sources/catalog.write_table — a partitioned Iceberg table when a catalog is
configured at submit time, a parquet directory otherwise — with lineage,
and is skipped on re-run if complete — see plans/lineage.py):

1. verify_text — recompute html→text distributively and count byte
   mismatches vs the stored text (input_hint invariant; must be 0);
2. kg — fused extraction (tokenize → NER → relation scoring), one narrow
   mapInPandas stage, models loaded once per worker;
3. mentions / triples_raw — exploded mention + triple tables
   (triples partitioned by pred, the query-side partition key);
4. linked — mentions joined to the broadcast alias dictionary (exact) with
   MinHash-LSH fuzzy fallback;
5. components — connected components over the alias graph → canonical
   component per canonical_id;
6. triples — canonical (subj_id, pred, obj_id) edges with counts
   (skew-resistant two-phase aggregate), partitioned by pred.

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
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mitie_spark.models.train import ARTIFACT_DIR
from mitie_spark.plans.lineage import (
    config_hash,
    read_lineage,
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
        mentions_table,
        triples_table,
    )
    from mitie_spark.operators.linking import canonical_components, link_mentions

    from mitie_spark.sources.catalog import iceberg_catalog, read_table

    ner_path = ner_path or os.path.join(ARTIFACT_DIR, "ner_model.npz")
    rel_path = rel_path or os.path.join(ARTIFACT_DIR, "relation_model.npz")
    os.makedirs(out_dir, exist_ok=True)
    report: dict[str, dict] = {}
    catalog = iceberg_catalog(spark)  # None here → partitioned parquet

    def stage(name: str, conf: dict, build, partition_by=None, input_rows=None):
        out = os.path.join(out_dir, name)
        ch = config_hash(conf)
        if not force and stage_is_complete(out, ch, spark=spark):
            rec = read_lineage(out)
            rec["skipped"] = True
            report[name] = rec
        else:
            t0 = time.time()
            df = build()
            rec = write_stage(
                df, out, name, conf, t0, partition_by=partition_by,
                input_rows=input_rows, catalog=catalog,
            )
            rec["skipped"] = False
            report[name] = rec
        return read_table(
            spark, rec.get("kind", "parquet"), rec.get("location", out)
        )

    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()

    # 1. byte-identical text invariant (html→text recompute)
    h2t = register_udf()
    verify = stage(
        "verify_text",
        {"extractor_version": 1, "pages": pages_path},
        lambda: pages.select(
            "url",
            # null-safe: a NULL html or text must count as a violation, not
            # silently fall into a NULL comparison bucket
            (
                F.col("html").isNotNull()
                & F.col("text").isNotNull()
                & (h2t(F.col("html")) == F.col("text"))
            ).alias("text_ok"),
        )
        .groupBy("text_ok")
        .agg(F.count("*").alias("n")),
        input_rows=n_pages,
    )
    counts = {r.text_ok: r.n for r in verify.collect()}
    bad = sum(n for ok, n in counts.items() if ok is not True)
    if bad:
        raise RuntimeError(f"html→text invariant violated for {bad} pages")

    # 2. fused extraction — tasks sized by compute, not input bytes: the
    # corpus compresses ~10x, so byte-based parquet splits chronically
    # under-partition this CPU-bound stage (measured 7 tasks on 32 cores =
    # 4x wall; same sizing rule as queries_kg._kg and bench_scaling)
    # (parallelism stays out of the config hash: rows are invariant to the
    # task layout, so resuming under a different --master must not
    # invalidate a completed extraction)
    kg_par = spark.sparkContext.defaultParallelism * 4
    kg = stage(
        "kg",
        {"ner": ner_path, "rel": rel_path, "lang": lang, "pages": pages_path},
        lambda: extract_kg(
            pages, ner_path, rel_path, lang_filter=lang, parallelism=kg_par
        ),
        input_rows=n_pages,
    )

    # 3. exploded tables
    mentions = stage(
        "mentions",
        {"from": report["kg"]["config_hash"], "rows": report["kg"]["output_rows"]},
        lambda: mentions_table(kg),
        input_rows=report["kg"]["output_rows"],
    )
    triples_raw = stage(
        "triples_raw",
        {"from": report["kg"]["config_hash"], "rows": report["kg"]["output_rows"]},
        lambda: triples_table(kg),
        partition_by=PRED_PARTITIONS,
        input_rows=report["kg"]["output_rows"],
    )

    # 4. linking
    alias = spark.read.parquet(alias_path)
    linked = stage(
        "linked",
        {"alias": alias_path, "fuzzy": True,
         "from": report["mentions"]["config_hash"]},
        lambda: link_mentions(
            mentions.select("url", "surface", "tag", "token_start", "token_end"),
            alias,
        ),
        input_rows=report["mentions"]["output_rows"],
    )

    # 5. canonical components over the alias graph
    comps = stage(
        "components",
        {"alias": alias_path},
        lambda: canonical_components(alias),
    )

    # 6. canonical triple edges with counts (two-phase agg; partitioned by pred)
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
        s2c = F.broadcast(
            surf2canon.join(
                comps.withColumnRenamed("component", "canon_comp"), "canonical_id"
            ).select("surface", "canonical_id", "canon_comp")
        )
        t = (
            triples_raw.join(
                s2c.withColumnRenamed("surface", "subj")
                .withColumnRenamed("canonical_id", "subj_id")
                .withColumnRenamed("canon_comp", "subj_comp"),
                "subj",
                "left",
            )
            .join(
                s2c.withColumnRenamed("surface", "obj")
                .withColumnRenamed("canonical_id", "obj_id")
                .withColumnRenamed("canon_comp", "obj_comp"),
                "obj",
                "left",
            )
        )
        # canonicalize on the COMPONENT when the entity has one: entities
        # connected through shared aliases (stage 5) collapse into one edge
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
        {"from": [report["triples_raw"]["config_hash"],
                  report["linked"]["config_hash"],
                  report["components"]["config_hash"]]},
        build_edges,
        partition_by=PRED_PARTITIONS,
        input_rows=report["triples_raw"]["output_rows"],
    )

    # 7. entity salience — PageRank over the canonical triple graph.
    # The KG consumer's first ranking signal ("which entities matter"):
    # float production variant (entity graphs at crawl scale overflow the
    # integer gate variant's bound), 5 iterations, evidence-weighted
    # edges. Same iterative shape as the gated host PageRank — one
    # dst-keyed shuffle per iteration, invariants persisted, lineage cut
    # before write (pagerank localCheckpoints its result).
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

    stage(
        "entity_rank",
        {"from": report["triples"]["config_hash"], "iters": 5},
        build_entity_rank,
        input_rows=report["triples"]["output_rows"],
    )

    report["_summary"] = {
        "pages": n_pages,
        "mentions": report["mentions"]["output_rows"],
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
