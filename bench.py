#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line (driver contract).

Headline: frontier throughput (URLs scheduled+deduped per second) over a
multi-round crawl of the amplified synthetic corpus at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on ``local[$SPARK_GRAFT_CPUS]``,
plus wall-clock per headline operator query (executed to a noop sink so the
full plan runs without driver materialization).

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local parallelism (default: os.cpu_count())
  BENCH_EXPLODE        corpus amplification factor (default 64)
  BENCH_ROUNDS         crawl rounds (default 2)
  BENCH_BUDGET         per-host budget (default 64)
  BENCH_CRAWL_RUNS     crawl repetitions; the reported wall/throughput is
                       the MEDIAN (default 3 — this host's single-run
                       spread is ~±30%, VERDICT r03 item 7)
  BENCH_PROBE_CONFIRM  probe confirm mode: inline|join|auto (default
                       inline — same measurement definition as r03)
  BENCH_FUSE           1 (default) = fuse_fetch mode: round N's fetch
                       executes inside round N+1's job (1 materializing
                       job/round + final flush). Results identical to
                       eager mode (tested); set 0 for the r03 plan shape.
                       Composes with auto probe + durable commits (r5).
  BENCH_DURABLE        1 = per-round durable catalog commits (snapshot
                       manifest tables under a temp dir) — the resumable
                       configuration's cost, composable with fuse/auto
  BENCH_QUERY_RUNS     per-query repetitions; reported value is the
                       MEDIAN with raw runs recorded (default 3 —
                       VERDICT r04 item 8: single-run per-query deltas
                       were indistinguishable from ±30% host noise)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    explode = int(os.environ.get("BENCH_EXPLODE", "64"))
    html_pad = int(os.environ.get("BENCH_HTML_PAD", "32"))
    rounds = int(os.environ.get("BENCH_ROUNDS", "2"))
    budget = int(os.environ.get("BENCH_BUDGET", "64"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from pyspark.sql import functions as F

    from logcrawler_spark.session import get_spark

    spark = get_spark(cpus, "bench", shuffle_partitions=max(cpus, 8))

    timings: dict[str, float] = {}

    # ---- optional: CPU-bound kernel scaling workload ------------------------
    if os.environ.get("BENCH_KERNEL"):
        from logcrawler_spark.operators.dedup import minhash_lsh_pairs
        from logcrawler_spark.sources.pages import _expanded_docs

        from logcrawler_spark.utils import materialize

        # materialize, NOT localCheckpoint: the Dataset->RDD conversion
        # drops WholeStageCodegen for the upstream expressions (repo rule)
        docs = materialize(
            _expanded_docs(
                spark, sf_dir,
                int(os.environ.get("BENCH_KERNEL_EXPLODE", "64")),
            ).repartition(cpus * 4)
        )
        from logcrawler_spark.operators.dedup import minhash_sig_table

        n_docs = docs.count()
        t0 = time.monotonic()
        # signature kernel only: the exploded corpus duplicates texts, so
        # the LSH pair join would explode quadratically — the CPU-bound
        # scaling question is answered by the shingle+md5+partial-agg stage
        minhash_sig_table(docs, "text", "doc_id", k=8).write.format(
            "noop"
        ).mode("overwrite").save()
        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "metric": "minhash_docs_per_sec",
                    "value": round(n_docs / wall, 1),
                    "unit": "docs/sec",
                    "queries": {"minhash_sig": round(wall, 3)},
                    "sf": sf,
                    "total_sec": round(wall, 3),
                    "parallelism": cpus,
                    "n_docs": n_docs,
                }
            )
        )
        spark.stop()
        return

    # ---- headline: frontier crawl throughput --------------------------------
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    n_hosts = 500
    # The corpus is persisted as PARQUET — the real input shape per
    # BASELINE.json (Iceberg table of pages): the crawl's fetch join scans
    # it through Spark's vectorized reader with column pruning, instead of
    # block-manager row storage (measured 10x slower to re-read). Cached
    # across bench runs keyed by generator params.
    corpus = (
        f"/tmp/logcrawler_bench_cache/pages_sf{sf}_e{explode}_p{html_pad}"
    )
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from logcrawler_spark.functions.urls import canonicalize_url

        # canonical key computed once at INGEST (pure function of url) —
        # the crawl joins on the stored key instead of re-canonicalizing
        # the whole corpus every round
        generate_pages(
            spark, sf_dir, n_hosts, explode_factor=explode, html_pad=html_pad
        ).withColumn(
            "canonical_url", canonicalize_url(F.col("url"))
        ).repartition(64).write.mode("overwrite").parquet(corpus)
    pages = spark.read.parquet(corpus)
    from logcrawler_spark.utils import materialize

    robots = generate_robots_rules(spark, n_hosts)
    seeds = materialize(
        generate_seeds(spark, sf_dir, n_hosts, explode_factor=explode)
        .repartition(cpus)
    )

    # warm the FULL crawl code path before the clock starts: the first pass
    # pays one pandas+pyarrow import per python worker (~10s across 32
    # workers), JVM JIT + whole-stage-codegen compilation for every stage
    # shape, and parquet reader/writer classloading — measured ~6-8s of
    # round-1-only overhead at local[8]. All of it is cold-start, not the
    # steady-state throughput this metric reports, so a miniature 2-round
    # crawl (16 seed URLs over a 2-host corpus slice) exercises the
    # identical plan shapes (cogroup probe, windows, broadcast fetch join,
    # scratch-parquet writes) once, off the clock.
    warm_pages = pages.limit(64)
    warm_seeds = materialize(seeds.limit(16))
    run_crawl(
        spark, warm_pages, warm_seeds, robots, rounds=2, budget=4,
        use_bloom=True,
    )

    # median of BENCH_CRAWL_RUNS passes IN THE SAME PROCESS (corpus parquet
    # cached, session warm): round-over-round driver deltas stop riding
    # this host's ±30% single-run variance
    n_runs = max(1, int(os.environ.get("BENCH_CRAWL_RUNS", "3")))
    probe_confirm = os.environ.get("BENCH_PROBE_CONFIRM", "inline")
    fuse = bool(int(os.environ.get("BENCH_FUSE", "1")))
    durable = bool(int(os.environ.get("BENCH_DURABLE", "0")))
    crawl_runs = []
    state = None
    for i in range(n_runs):
        catalog = None
        cat_dir = None
        if durable:
            import tempfile

            from logcrawler_spark.catalog import Catalog

            cat_dir = tempfile.mkdtemp(prefix=f"bench-cat-{i}-")
            catalog = Catalog(spark, cat_dir)
        t0 = time.monotonic()
        state = run_crawl(
            spark, pages, seeds, robots, rounds=rounds, budget=budget,
            use_bloom=True, probe_confirm=probe_confirm, fuse_fetch=fuse,
            catalog=catalog,
        )
        crawl_runs.append(round(time.monotonic() - t0, 3))
        if cat_dir is not None and i < n_runs - 1:
            # reclaim each run's full-crawl snapshot catalog outside the
            # timed region (repeated durable benches would otherwise pile
            # up sf0.1 crawl copies in /tmp); the LAST run's catalog
            # stays alive for the metrics reads below
            import shutil

            shutil.rmtree(cat_dir, ignore_errors=True)
    crawl_s = sorted(crawl_runs)[len(crawl_runs) // 2]
    timings["crawl_pipeline"] = round(crawl_s, 3)

    m = state.metrics.groupBy().agg(
        F.sum("urls_scheduled").alias("sched"),
    ).collect()[0]
    raw = (
        state.metrics.select("round", "urls_raw_total")
        .distinct()
        .agg(F.sum("urls_raw_total"))
        .collect()[0][0]
    )
    urls_scheduled = int(m["sched"])
    urls_processed = int(raw)
    urls_per_sec = urls_processed / crawl_s if crawl_s > 0 else 0.0

    # ---- operator-pack headline queries (noop sink) -------------------------
    import __spark_entry__ as entry_mod

    query_names = [] if os.environ.get("BENCH_CRAWL_ONLY") else [
        "q_pricing_summary",
        "q_merge_join_large",
        "q_top_revenue_orders",
        "q_asof_nearest",
        "q_politeness_window",
        "q_dedup_exact",
        "q_minhash_lsh_pairs",
        "q_ann_topk_bruteforce",
        "q_text_stats",
        "q_corpus_curation",
        "q_image_stats",
        "q_tree_flatten",
    ]
    queries = entry_mod.queries()
    q_runs_n = max(1, int(os.environ.get("BENCH_QUERY_RUNS", "3")))
    query_runs: dict[str, list[float]] = {}
    for name in query_names:
        runs = []
        for _ in range(q_runs_n):
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.monotonic() - t0, 3))
        query_runs[name] = runs
        timings[name] = sorted(runs)[len(runs) // 2]

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "frontier_throughput_urls_per_sec",
                "value": round(urls_per_sec, 1),
                "unit": "urls/sec",
                "queries": timings,
                "sf": sf,
                "total_sec": total,
                "parallelism": cpus,
                "explode_factor": explode,
                "rounds": rounds,
                "budget": budget,
                "crawl_runs": crawl_runs,
                "query_runs": query_runs,
                "probe_confirm": probe_confirm,
                "fuse_fetch": fuse,
                "durable": durable,
                "urls_processed": urls_processed,
                "urls_scheduled": urls_scheduled,
                "url_seen_size": state.url_seen.count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
