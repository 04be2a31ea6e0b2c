#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline (the
north-rule deployment shape: `spark-submit --py-files deepref_spark.zip
scripts/submit_pipeline.py ...` on a cluster; locally the same command
with --master local[N]).

The script only composes public library calls — all logic lives in the
deepref_spark package shipped via --py-files, so the identical artifact
runs on any cluster manager.

Usage:
  spark-submit --py-files deepref_spark.zip scripts/submit_pipeline.py \
      --docs /path/to/documents.parquet --out /path/to/triples \
      [--n-docs 500] [--preprocessing sw,d] [--warehouse /path/wh] \
      [--candidates]

Input modes:
  --docs PATH     parquet with the interleaved-docs schema
                  (doc_id, spans array<struct<kind,text,media_ref,offset>>)
                  OR a raw (doc_id, text) table when --candidates is set
  --n-docs N      no input: generate N deterministic synthetic docs

With --candidates the run uses NER-driven mention detection (no gold
pairs); otherwise the gold-pair extraction path.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-docs", type=int, default=500)
    ap.add_argument("--preprocessing", default="")
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--candidates", action="store_true")
    args = ap.parse_args()

    # SparkSession.builder.getOrCreate() inherits every --master/--conf
    # from spark-submit; session defaults only fill gaps.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("deepref-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    preprocessing = [p for p in args.preprocessing.split(",") if p]

    if args.candidates:
        import pyspark.sql.functions as F

        from deepref_spark import portable
        from deepref_spark.operators import mentions as mops
        from deepref_spark.operators import score as score_op
        from deepref_spark.operators.encoders import score_entity
        from deepref_spark.pipeline import triples_from_scored

        raw = spark.read.parquet(args.docs)
        sentences = raw.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_idx"),
            F.concat_ws("#", "doc_id", F.lit("0")).alias("sent_id"),
            "text",
        )
        # candidate generation is pure JVM; score_entity fuses
        # tokenize+forward into ONE Arrow crossing
        ments = mops.candidate_mentions(sentences)
        rel2id = score_op.rel2id_from_relations(portable.RELATION_NAMES)
        scored = score_op.attach_pred_names(
            score_entity(spark, ments, n_relations=len(rel2id)), rel2id
        )
        triples = triples_from_scored(scored, canonicalize=True)
    else:
        from deepref_spark import synth
        from deepref_spark.pipeline import run_pipeline

        if args.docs:
            docs = spark.read.parquet(args.docs)
        else:
            docs = synth.generate_docs(spark, args.n_docs)
        triples = run_pipeline(
            spark, docs, preprocessing=preprocessing or None,
            warehouse=args.warehouse,
        )

    import os

    from deepref_spark.io.tables import write_graph_table

    # north-rule materialization: Iceberg graph table when a catalog is
    # configured, partitioned parquet otherwise (same partition spec)
    out = write_graph_table(
        triples, os.path.dirname(args.out) or ".", os.path.basename(args.out),
        partition_by=["pred"],
    )
    # write_graph_table returns a catalog identifier (no path separator)
    # for Iceberg, else the written path (works for hdfs://, s3a://, ...)
    n = spark.table(out).count() if "/" not in out else spark.read.parquet(out).count()
    print(f"TRIPLES_WRITTEN={n}")
    spark.stop()


if __name__ == "__main__":
    main()
