#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

Usage (local sandbox; on a cluster swap --master and add executor confs):

    ./scripts/build_zip.sh
    spark-submit --master 'local[32]' \
        --py-files dist/logcrawler_spark.zip \
        scripts/crawl_job.py \
        --sf-dir /root/testdata/sf0.01 --rounds 2 --budget 8 \
        --out /tmp/crawl_out

The job builds the synthetic corpus from the sf dir, runs the crawl with a
snapshot catalog at --out (resumable: re-running with a higher --rounds
continues from the last committed round), and prints per-round metrics.
A resume must repeat the first run's crawl flags: the catalog stores the
crawl config, and a changed flag raises ValueError naming it.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(
        epilog="Re-running on an existing --out resumes the crawl. The"
        " crawl settings (--budget, --filter-kind, --ttl-rounds,"
        " --windows-per-round, --window-ms, --fuse-fetch, --probe-confirm,"
        " --auto-buckets, --priority-source) must match the first run, or"
        " the resume raises ValueError naming each changed setting.",
    )
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--budget", type=int, default=8)
    ap.add_argument("--n-hosts", type=int, default=500)
    ap.add_argument("--explode", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--filter-kind", choices=["bloom", "cuckoo"], default="bloom",
        help="URL-seen prefilter (cuckoo supports deletion -> TTL recrawl);"
        " kept only with --probe-confirm join or auto",
    )
    ap.add_argument(
        "--ttl-rounds", type=int, default=None,
        help="recrawl TTL in rounds (requires --filter-kind cuckoo)",
    )
    ap.add_argument(
        "--windows-per-round", type=int, default=1,
        help="fetch windows per round; over-budget URLs spill to later windows",
    )
    ap.add_argument("--window-ms", type=int, default=60_000)
    ap.add_argument(
        "--fuse-fetch", action="store_true",
        help="1 materializing job/round: round N's fetch runs inside round"
        " N+1's job; composes with --probe-confirm auto and the durable"
        " catalog (r5)",
    )
    ap.add_argument(
        "--probe-confirm", choices=["inline", "join", "auto"],
        default="inline",
        help="URL-seen confirm shape; inline keeps no filter, auto flips"
        " inline->join once the seen set outgrows the candidate stream",
    )
    ap.add_argument(
        "--auto-buckets", action="store_true",
        help="derive the filter/storage bucket count from |url_seen|"
        " (bucket_count_policy) instead of a fixed 32",
    )
    ap.add_argument(
        "--priority-source", choices=["inherit", "pagerank"],
        default="inherit",
        help="pagerank: re-seed each round's candidate priorities from"
        " the exact-int64 PageRank of the cumulative outlink graph",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # under spark-submit the session/master comes from the submitter
    spark = SparkSession.builder.appName("logcrawler-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from logcrawler_spark.catalog import Catalog
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    pages = generate_pages(spark, args.sf_dir, args.n_hosts, args.explode)
    robots = generate_robots_rules(spark, args.n_hosts)
    cat = Catalog(spark, args.out)

    knobs = dict(
        budget=args.budget,
        filter_kind=args.filter_kind,
        ttl_rounds=args.ttl_rounds,
        windows_per_round=args.windows_per_round,
        window_ms=args.window_ms,
        fuse_fetch=args.fuse_fetch,
        probe_confirm=args.probe_confirm,
        bloom_buckets=None if args.auto_buckets else 32,
        priority_source=args.priority_source,
    )
    if cat.exists("round_marker"):
        state = resume_crawl(
            spark, pages, robots, cat, total_rounds=args.rounds, **knobs
        )
    else:
        seeds = generate_seeds(spark, args.sf_dir, args.n_hosts, args.explode)
        state = run_crawl(
            spark, pages, seeds, robots, rounds=args.rounds, catalog=cat,
            **knobs,
        )

    per_round = [
        {
            "round": r["round"],
            "urls_scheduled": r["sched"],
            "pages_fetched": r["fetched"],
        }
        for r in state.metrics.groupBy("round")
        .agg(
            F.sum("urls_scheduled").alias("sched"),
            F.max("pages_fetched_total").alias("fetched"),
        )
        .orderBy("round")
        .collect()
    ]
    print(
        json.dumps(
            {
                "rounds": state.round_no,
                "url_seen": state.url_seen.count(),
                "per_round": per_round,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
