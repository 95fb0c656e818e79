"""spark-submit entrypoint for the dedup pipeline.

    spark-submit --py-files dist/dedup_engine.zip tools/submit_job.py \
        --input <pages parquet/table> --workdir <checkpoint dir> \
        [--no-substring] [--output <path>]

On a cluster the master/executor topology comes from spark-submit; this
script only declares the job. The SparkSession is fetched with
getOrCreate() so submit-provided conf wins.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group()  # not required for --compact
    src.add_argument("--input", help="pages parquet path")
    src.add_argument(
        "--table",
        help="catalog table name (e.g. an Iceberg table 'catalog.db.pages'); "
        "read via spark.read.table — partition pruning / snapshot isolation "
        "come from the catalog's DataSourceV2 implementation",
    )
    ap.add_argument("--workdir", required=True, help="stage checkpoint dir")
    ap.add_argument("--output", default=None, help="optional extra canonical copy")
    ap.add_argument("--no-substring", action="store_true")
    ap.add_argument(
        "--no-recompute-text", action="store_true",
        help="trust the shipped text column (the scan never reads html)",
    )
    ap.add_argument(
        "--line-dedup-min-docs", type=int, default=None,
        help="enable the sub-document pre-stage: remove lines appearing in "
        ">= N distinct docs before signatures (CCNet boilerplate removal)",
    )
    ap.add_argument(
        "--url-dedup", action="store_true",
        help="enable the urldedup pre-stage: first-seen page per canonical "
        "url, before extraction",
    )
    ap.add_argument(
        "--incremental-index", default=None, metavar="WORKDIR",
        help="attach this batch to an EXISTING index (a completed pipeline "
        "workdir) instead of running the full pipeline; prints the delta "
        "report and writes canonical updates to --output",
    )
    ap.add_argument(
        "--extend-index", action="store_true",
        help="with --incremental-index: grow the index with this batch after "
        "the attach (staged + journaled promote), so the NEXT batch attaches "
        "against everything seen so far",
    )
    ap.add_argument(
        "--should-compact", action="store_true",
        help="with --incremental-index: report whether accumulated bridges "
        "(clusters connected-but-unmerged by appended batches) have reached "
        "--compact-threshold, i.e. whether a compact() is due; prints JSON "
        "and exits without reading any input",
    )
    ap.add_argument(
        "--compact-threshold", type=int, default=1,
        help="bridge count at which --should-compact reports compact_due",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="with --incremental-index: ignore --input and run the periodic "
        "full recluster over the extended index IN PLACE (resolves recorded "
        "bridges, re-enables every full-run stage); writes the old->new "
        "cluster map to --output",
    )
    ap.add_argument(
        "--checkpoint-mode", choices=("local", "reliable"), default="local",
        help="'reliable' switches the CC loop / anchor materialization to "
        "setCheckpointDir-backed checkpoints (survives executor loss; set "
        "--checkpoint-dir to an HDFS/object-store path on a cluster)",
    )
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable-checkpoint directory (cluster-visible)")
    args = ap.parse_args()
    if not (args.compact or args.should_compact) and not (args.input or args.table):
        ap.error("--input or --table is required (except with --compact / --should-compact)")

    from dataclasses import replace

    from deduplication_challenge_spark.config import DedupConfig
    from deduplication_challenge_spark.plans.pipeline import DedupPipeline

    spark = SparkSession.builder.appName("dedup-pipeline").getOrCreate()
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    cfg_common = dict(
        line_dedup_min_docs=args.line_dedup_min_docs,
        url_dedup=args.url_dedup,
        checkpoint_mode=args.checkpoint_mode,
    )
    if args.should_compact:
        if not args.incremental_index:
            ap.error("--should-compact requires --incremental-index")
        from deduplication_challenge_spark.plans.incremental import IncrementalDedup

        inc = IncrementalDedup(
            spark, replace(DedupConfig(), **cfg_common), args.incremental_index
        )
        print(json.dumps({"should_compact": inc.should_compact(args.compact_threshold)}))
        spark.stop()
        return
    if args.compact:
        if not args.incremental_index:
            ap.error("--compact requires --incremental-index")
        from deduplication_challenge_spark.plans.incremental import IncrementalDedup

        inc = IncrementalDedup(
            spark, replace(DedupConfig(), **cfg_common), args.incremental_index
        )
        _canonical, cluster_map, rep = inc.compact()
        if args.output:
            cluster_map.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"compact": rep}))
        spark.stop()
        return
    pages = (
        spark.read.table(args.table) if args.table else spark.read.parquet(args.input)
    )
    if args.incremental_index:
        from deduplication_challenge_spark.plans.incremental import IncrementalDedup

        inc = IncrementalDedup(
            spark, replace(DedupConfig(), **cfg_common), args.incremental_index
        )
        updates, _assignments, _bridges, rep = inc.run(
            pages, recompute_text=not args.no_recompute_text
        )
        if args.output:
            updates.write.mode("overwrite").parquet(args.output)
        if args.extend_index:
            inc.extend_index()
        print(json.dumps({"incremental": rep, "extended": args.extend_index}))
        spark.stop()
        return
    pipe = DedupPipeline(
        spark,
        replace(DedupConfig(), **cfg_common),
        args.workdir,
        include_substring=not args.no_substring,
        recompute_text=not args.no_recompute_text,
    )
    canonical, report = pipe.run(pages, input_desc=args.table or args.input)
    if args.output:
        canonical.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"stages": report.to_dict(), "counters": report.counters}))
    spark.stop()


if __name__ == "__main__":
    main()
