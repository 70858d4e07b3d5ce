"""spark-submit entry for the corpus-curation pipeline — the
production composition of the already-gated operators:

    documents parquet
      -> optional benchmark decontamination (drop whole docs, or
         GPT-3-style window scrub keeping clean fragments)
      -> curate_corpus (exact dedup -> boilerplate strip -> quality
         filter -> per-language quota -> token-budget shard packing)
      -> training shards on disk + integrity manifest
      -> optional post-write validation (exit 2 on any problem)

    spark-submit --py-files extractpdf4j_spark.zip \
        -m extractpdf4j_spark.curate_job \
        --documents s3://corpus/documents/ --out s3://corpus/curated/ \
        --eval s3://benchmarks/eval_docs/ --decontam-mode scrub \
        --validate

Prints ONE JSON summary line (docs in/out, shards, tokens) so
orchestration can gate on the result without parsing logs."""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="extractpdf4j-spark-curate",
        description="Curate a document corpus into training shards.")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--documents",
                     help="input parquet with (doc_id, text, lang)")
    src.add_argument("--warc-input",
                     help="directory of *.warc / *.warc.gz crawl "
                          "archives: 2xx responses -> main-content "
                          "extraction -> heuristic language-ID feed "
                          "the same curation pipeline")
    p.add_argument("--min-main-words", type=int, default=10,
                   help="warc path: drop pages whose extracted main "
                        "content has fewer words")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--eval", default=None,
                   help="optional parquet of benchmark docs "
                        "(doc_id, text) for decontamination")
    p.add_argument("--decontam-mode", default="drop",
                   choices=("drop", "scrub"),
                   help="drop contaminated docs outright, or excise "
                        "the colliding windows and keep clean "
                        "fragments")
    p.add_argument("--gram-n", type=int, default=13)
    p.add_argument("--scrub-window", type=int, default=20)
    p.add_argument("--min-fragment", type=int, default=10)
    p.add_argument("--min-line-docs", type=int, default=3)
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument("--max-dup-gram-frac", type=float, default=0.6)
    p.add_argument("--lang-cap", type=int, default=25)
    p.add_argument("--shard-budget", type=int, default=4000)
    p.add_argument("--n-buckets", type=int, default=4)
    p.add_argument("--validate", action="store_true",
                   help="recompute the manifest from the written "
                        "shards and exit 2 on any mismatch")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession, functions as F

    from .config import spark_confs
    from .functions.corpusops import (curate_corpus, remove_contaminated,
                                      scrub_contaminated)
    from .sinks import _shard_manifest, validate_training_shards

    spark = (SparkSession.builder
             .appName("extractpdf4j-spark-curate")
             .config(map=spark_confs())
             .getOrCreate())

    if args.warc_input:
        # crawl archive in, curated shards out: WARC records -> 2xx
        # responses -> readability main content -> heuristic lang-ID
        from .functions.htmlops import extract_main_content
        from .functions.textstats import language_id
        from .sources import read_warc

        pages = (read_warc(spark, args.warc_input)
                 .filter("warc_type = 'response' AND http_status = 200")
                 .selectExpr(
                     "coalesce(record_id, target_uri) AS doc_id",
                     "payload_text AS html"))
        main = (extract_main_content(pages, html_col="html")
                .filter(F.size(F.split(F.trim("main_text"), r"\s+"))
                        >= args.min_main_words)
                .select("doc_id", F.col("main_text").alias("text")))
        docs = (language_id(main)
                .select("doc_id", "text",
                        F.col("pred_lang").alias("lang")))
    else:
        docs = (spark.read.parquet(args.documents)
                .select(F.col("doc_id").cast("string").alias("doc_id"),
                        "text", "lang"))
    n_in = docs.count()

    if args.eval:
        ev = spark.read.parquet(args.eval).select("doc_id", "text")
        if args.decontam_mode == "drop":
            docs = remove_contaminated(docs, ev, n=args.gram_n)
        else:
            frags = scrub_contaminated(
                docs, ev, n=args.gram_n, window=args.scrub_window,
                min_fragment=args.min_fragment)
            # fragments become documents; lang rides back on the
            # original id (fragment 0 of a clean doc keeps its id shape)
            docs = (frags.withColumn(
                        "_orig", F.col("doc_id"))
                    .select(F.concat_ws("#", "doc_id",
                                        F.col("frag_id").cast("string"))
                            .alias("doc_id"),
                            "text", "_orig")
                    .join(docs.select(F.col("doc_id").alias("_orig"),
                                      "lang"), "_orig")
                    .drop("_orig"))
        docs = docs.localCheckpoint(eager=False)

    manifest_rows = curate_corpus(
        docs, min_line_docs=args.min_line_docs,
        min_tokens=args.min_tokens,
        max_dup_gram_frac=args.max_dup_gram_frac,
        lang_cap=args.lang_cap, shard_budget=args.shard_budget,
        n_buckets=args.n_buckets)
    data = manifest_rows.join(docs.select("doc_id", "text"), "doc_id")
    if data.isEmpty():
        # schema-only write: zero-row partitionBy leaves no readable files
        data.write.mode("error").parquet(f"{args.out}/shards")
    else:
        (data.write.partitionBy("bucket", "shard")
         .mode("error").parquet(f"{args.out}/shards"))
    written = spark.read.parquet(f"{args.out}/shards")
    manifest = _shard_manifest(written, "n_tokens", "doc_id")
    manifest.write.mode("error").parquet(f"{args.out}/_manifest")

    stats = (spark.read.parquet(f"{args.out}/_manifest")
             .agg(F.count("*").alias("shards"),
                  F.sum("n_docs").alias("docs_out"),
                  F.sum("n_tokens").alias("tokens")).collect()[0])
    summary = {"docs_in": n_in, "docs_out": int(stats["docs_out"] or 0),
               "shards": int(stats["shards"]),
               "tokens": int(stats["tokens"] or 0),
               "out": args.out}

    rc = 0
    if args.validate:
        problems = validate_training_shards(
            spark, args.out, token_col="n_tokens").collect()
        summary["validation_problems"] = len(problems)
        if problems:
            rc = 2
    print(json.dumps(summary))
    return rc


if __name__ == "__main__":
    sys.exit(main())
