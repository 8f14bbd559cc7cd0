"""Scale-adaptive URL-seen probe (VERDICT r03 item 1): the auto
inline->join probe_confirm switch, the |url_seen|-derived bucket-count
policy shared by filter + catalog, and the re-bucket path — all
oracle-exact across their crossovers."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logcrawler_spark.oracles.frontier_sim import simulate_crawl
from logcrawler_spark.plans.frontier import (
    bucket_count_policy,
    resume_crawl,
    run_crawl,
)

PAGES_SCHEMA = "url string, warc_ts long, html binary"
SEEDS_SCHEMA = "url string, priority double"
ROBOTS_SCHEMA = (
    "host string, path_prefix string, allow boolean, crawl_delay_ms long"
)


def _sched_rows(state):
    return sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in state.schedule.collect()
    )


def _sim_rows(sim):
    return sorted(tuple(t) for t in sim.schedule)


def _chain_fixture(spark, n_hosts=20, per_host=8, gens=4):
    """Seeds /g0p{j}; every gen-g page links to the (new) gen-g+1 page on
    the same host — each round schedules a fresh generation, so url_seen
    grows linearly while the candidate stream stays constant."""
    seeds = [
        (f"http://h{i:02d}.ex.org/g0p{j}", 1.0)
        for i in range(n_hosts)
        for j in range(per_host)
    ]
    pages = []
    for i in range(n_hosts):
        for j in range(per_host):
            for g in range(gens):
                url = f"http://h{i:02d}.ex.org/g{g}p{j}"
                html = (
                    f'<p>text {i} {j} {g}</p>'
                    f'<a href="/g{g + 1}p{j}">next</a>'
                ).encode()
                pages.append((url, g, html))
    return (
        spark.createDataFrame(pages, PAGES_SCHEMA),
        spark.createDataFrame(seeds, SEEDS_SCHEMA),
        spark.createDataFrame([], ROBOTS_SCHEMA),
    )


def test_bucket_count_policy_shape():
    assert bucket_count_policy(0) == 8
    assert bucket_count_policy(1) == 8
    assert bucket_count_policy(10**10) == 1 << 14  # the sizing-note point
    # monotone, power-of-two, respects the target after pow2 rounding
    prev = 0
    for n in [10**4, 10**6, 10**7, 10**8, 10**9, 10**10]:
        b = bucket_count_policy(n)
        assert b & (b - 1) == 0
        assert b >= prev
        assert n / b <= (1 << 20) or b == 8
        prev = b
    assert bucket_count_policy(100, target_keys_per_bucket=16) == 8
    assert bucket_count_policy(200, target_keys_per_bucket=16) == 16


def test_auto_probe_mode_flips_inline_to_join(spark):
    """160 seeds on 20 hosts; only ONE page yields 2 outlinks — after
    round 1 |url_seen|=160 >> 4*|candidates|=8, so round 2 must run in
    "join" mode. The schedule matches the simulator EXACTLY on both sides
    of the flip (mode changes cost shape, never semantics)."""
    n_hosts, per_host, budget = 20, 8, 8
    seeds = spark.createDataFrame(
        [
            (f"http://h{i:02d}.ex.org/s{j}", 1.0)
            for i in range(n_hosts)
            for j in range(per_host)
        ],
        SEEDS_SCHEMA,
    )
    pages = spark.createDataFrame(
        [
            (
                "http://h00.ex.org/s0",
                1,
                b'<p>x</p><a href="/n1">a</a><a href="/n2">b</a>',
            )
        ],
        PAGES_SCHEMA,
    )
    robots = spark.createDataFrame([], ROBOTS_SCHEMA)

    st = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=budget,
        probe_confirm="auto",
    )
    modes = {
        int(r["round"]): r["probe_mode"]
        for r in st.metrics.select("round", "probe_mode").distinct().collect()
    }
    assert modes == {1: "inline", 2: "join"}

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 2, budget
    )
    assert _sched_rows(st) == _sim_rows(sim)


def test_bucket_policy_grows_and_rebuckets(spark):
    """bloom_buckets=None with a tiny per-bucket target: the filter starts
    at 8 buckets and the policy steps up as url_seen grows; each step
    rebuilds the filter at the new count, and the schedule stays exact
    (no false negatives across the re-bucket)."""
    pages, seeds, robots = _chain_fixture(spark, gens=3)
    st = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=8,
        bloom_buckets=None, probe_confirm="auto", bucket_target_keys=16,
    )
    buckets = {
        int(r["round"]): int(r["filter_buckets"])
        for r in st.metrics.select("round", "filter_buckets")
        .distinct()
        .collect()
    }
    # n_seen: 0 -> 160 -> 320 before rounds 1/2/3
    assert buckets[1] == 8
    assert buckets[2] == bucket_count_policy(160, 16) == 16
    assert buckets[3] == bucket_count_policy(320, 16) == 32

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, 8
    )
    assert _sched_rows(st) == _sim_rows(sim)
    # dedup invariant survives every re-bucket: nothing scheduled twice
    dups = (
        st.schedule.groupBy("canonical_url")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_catalog_commits_aligned_buckets_and_resume(spark, tmp_path):
    """The committed filter carries its bucket count; url_seen storage
    clusters on the SAME count; resume at auto settings trusts the stored
    layout and finishes the crawl identically to an uninterrupted run."""
    from logcrawler_spark.catalog import Catalog

    pages, seeds, robots = _chain_fixture(spark, gens=4)
    knobs = dict(
        budget=8, bloom_buckets=None, probe_confirm="auto",
        bucket_target_keys=16,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    st2 = run_crawl(
        spark, pages, seeds, robots, rounds=2, catalog=cat, **knobs
    )
    ftab = cat.read("url_seen_bloom")
    assert "n_buckets" in ftab.columns
    committed_nb = ftab.agg(F.max("n_buckets")).collect()[0][0]
    assert int(committed_nb) == st2.filter_buckets

    # storage migrated with the policy: the round-1 dir (written at 8
    # buckets) was consolidated and re-clustered at the stepped-up count
    # before round 2's append — every current dir is clustered into at
    # most filter_buckets files (hash partitioning may collide bucket
    # values, so <=, same contract as catalog.append), and the round-1
    # per-tag dir no longer exists separately (consolidation happened)
    import glob
    import os

    dirs = cat.current_dirs("url_seen")
    assert len(dirs) == 2  # consolidated(tag 1) + round-2 append
    for d in dirs:
        parts = glob.glob(os.path.join(d, "part-*"))
        assert 0 < len(parts) <= st2.filter_buckets, (
            f"dir {d} has {len(parts)} files, want <= {st2.filter_buckets}"
        )
    # and the rows survived the migration intact
    assert cat.read("url_seen").count() == st2.url_seen.count()

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=4, **knobs
    )
    straight = run_crawl(
        spark, pages, seeds, robots, rounds=4, **knobs
    )
    assert _sched_rows(resumed) == _sched_rows(straight)

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 4, 8
    )
    assert _sched_rows(straight) == _sim_rows(sim)


def test_explicit_modes_still_exact_at_crossover(spark):
    """Forcing either mode on the same workload gives the identical
    schedule — the auto switch can never change results, only cost."""
    pages, seeds, robots = _chain_fixture(spark, n_hosts=6, gens=2)
    rows = None
    for mode in ("inline", "join"):
        st = run_crawl(
            spark, pages, seeds, robots, rounds=2, budget=8,
            probe_confirm=mode,
        )
        got = _sched_rows(st)
        if rows is None:
            rows = got
        else:
            assert got == rows


def test_resume_bucket_change_migrates_storage(spark, tmp_path):
    """A resume at a DIFFERENT explicit bucket count than the catalog was
    committed with is refused before any write, so the url_seen storage is
    never left clustered for one count while the filter probes another.
    Resumed at the committed count, the layout needs no migration: every
    round's dir stays within the committed bound and the schedule equals
    the straight run's. (Migration on a policy step-up is pinned by
    test_catalog_commits_aligned_buckets_and_resume.)"""
    import glob
    import os

    from logcrawler_spark.catalog import Catalog
    from tests.test_resume import _tree_digest

    pages, seeds, robots = _chain_fixture(spark, n_hosts=6, gens=4)
    root = tmp_path / "cat"
    cat = Catalog(spark, str(root))
    run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=8, catalog=cat,
        bloom_buckets=8,
    )
    before = _tree_digest(root)
    with pytest.raises(ValueError, match="bloom_buckets"):
        resume_crawl(
            spark, pages, robots, cat, total_rounds=4, budget=8,
            bloom_buckets=16,
        )
    assert _tree_digest(root) == before

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=4, budget=8,
        bloom_buckets=8,
    )
    straight = run_crawl(
        spark, pages, seeds, robots, rounds=4, budget=8, bloom_buckets=8
    )
    assert _sched_rows(resumed) == _sched_rows(straight)
    # no consolidation: one dir per round, each within the committed bound
    dirs = cat.current_dirs("url_seen")
    assert len(dirs) == 4
    for d in dirs:
        parts = glob.glob(os.path.join(d, "part-*"))
        assert 0 < len(parts) <= 8


def test_auto_probe_flip_in_fused_mode_one_round_stale(spark):
    """r5 composition: with fuse_fetch=True the auto decision uses the
    previous round's raw candidate count (counting the deferred plan
    would execute it), so the flip in the eager fixture shifts exactly
    one round later — round 2 stays inline (proxy = 160 seeds), round 3
    joins (proxy = 2 outlinks << |url_seen|=162). Schedule stays exact
    against the simulator on every side of the flip."""
    n_hosts, per_host, budget = 20, 8, 8
    seeds = spark.createDataFrame(
        [
            (f"http://h{i:02d}.ex.org/s{j}", 1.0)
            for i in range(n_hosts)
            for j in range(per_host)
        ],
        SEEDS_SCHEMA,
    )
    pages = spark.createDataFrame(
        [
            (
                "http://h00.ex.org/s0",
                1,
                b'<p>x</p><a href="/n1">a</a><a href="/n2">b</a>',
            ),
            # n1 exists too, so round 3 has real candidates (its
            # outlinks) and therefore metrics rows carrying the mode
            (
                "http://h00.ex.org/n1",
                1,
                b'<p>y</p><a href="/m1">c</a><a href="/m2">d</a>',
            ),
        ],
        PAGES_SCHEMA,
    )
    robots = spark.createDataFrame([], ROBOTS_SCHEMA)

    st = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=budget,
        probe_confirm="auto", fuse_fetch=True,
    )
    modes = {
        int(r["round"]): r["probe_mode"]
        for r in st.metrics.select("round", "probe_mode").distinct().collect()
    }
    assert modes == {1: "inline", 2: "inline", 3: "join"}

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, budget
    )
    assert _sched_rows(st) == _sim_rows(sim)
