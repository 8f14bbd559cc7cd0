"""Resume semantics: kill between rounds, restart, final state identical
(SURVEY.md §2.9 T1/T2; reference analog: .images_extracted markers +
count reconciliation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logcrawler_spark.catalog import Catalog
from logcrawler_spark.plans.frontier import resume_crawl, run_crawl
from logcrawler_spark.sources.pages import (
    generate_pages,
    generate_robots_rules,
    generate_seeds,
)
from tests.conftest import SF_SMOKE

N_HOSTS = 50
BUDGET = 5


def test_resume_equals_straight_run(spark, tmp_path):
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    # straight 3-round run (no catalog)
    full = run_crawl(spark, pages, seeds, robots, rounds=3, budget=BUDGET)

    # interrupted run: 1 round committed, then "crash", then resume to 3
    cat = Catalog(spark, str(tmp_path))
    run_crawl(spark, pages, seeds, robots, rounds=1, budget=BUDGET, catalog=cat)
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET
    )

    def sched_key(df):
        return [
            tuple(r)
            for r in df.select(
                "round", "host", "priority", "canonical_url", "host_rank", "slot_ms"
            )
            .orderBy("round", "host", F.col("priority").desc(), "canonical_url")
            .collect()
        ]

    assert sched_key(resumed.schedule) == sched_key(full.schedule)
    assert {r["canonical_url"] for r in resumed.url_seen.collect()} == {
        r["canonical_url"] for r in full.url_seen.collect()
    }
    # catalog state equals in-memory state (committed each round)
    assert sched_key(cat.read("schedule")) == sched_key(full.schedule)


def test_commits_are_per_round_deltas(spark, tmp_path):
    """Each round's url_seen/schedule commit is O(round delta): the manifest
    gains exactly one tagged data dir per round, and each dir holds only
    that round's rows (VERDICT r01: append, don't rewrite)."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    cat = Catalog(spark, str(tmp_path))
    state = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET, catalog=cat
    )

    entries = cat._read_manifest("url_seen")
    assert [t for _n, t in entries] == [1, 2, 3]
    per_round = {
        r["first_seen_round"]: r["n"]
        for r in state.url_seen.groupBy("first_seen_round")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for name, tag in entries:
        n_dir = spark.read.parquet(
            str(tmp_path / "url_seen" / name)
        ).count()
        assert n_dir == per_round[tag], (name, tag, n_dir, per_round)
    assert cat.read("url_seen").count() == sum(per_round.values())


def test_resume_ignores_and_replaces_crashed_partial_commit(spark, tmp_path):
    """Crash AFTER round-2 appends but BEFORE the round-2 marker: resume
    from marker=1 must ignore the orphan round-2 rows, and the re-run's
    tagged append must replace (not duplicate) them."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(spark, pages, seeds, robots, rounds=2, budget=BUDGET)

    cat = Catalog(spark, str(tmp_path))
    run_crawl(spark, pages, seeds, robots, rounds=1, budget=BUDGET, catalog=cat)
    # simulate the crashed round-2 attempt: partial (even corrupt) appends
    # are committed for round 2, but the marker still says 1
    bogus = spark.createDataFrame(
        [(12345, "http://bogus.example.com/x", 2)],
        "url_hash long, canonical_url string, first_seen_round int",
    )
    cat.append("url_seen", bogus, tag=2)
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=2, budget=BUDGET
    )

    got = {r["canonical_url"] for r in resumed.url_seen.collect()}
    want = {r["canonical_url"] for r in full.url_seen.collect()}
    assert got == want
    # catalog too: bogus round-2 rows replaced by the re-run's append
    cat_urls = {r["canonical_url"] for r in cat.read("url_seen").collect()}
    assert cat_urls == want
    assert "http://bogus.example.com/x" not in cat_urls


def _tree_digest(root):
    """{relative path: content hash} of every file under ``root``."""
    import hashlib
    import os

    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def test_resume_refuses_changed_config(spark, tmp_path):
    """run_crawl commits its config with the catalog; a resume whose
    config differs in any field raises ValueError naming it — before any
    Spark job or catalog write — instead of diverging from the straight
    run. Covers the knobs whose change used to take a silent rebuild path
    (a filterless catalog resumed with a filter, a different bucket count)
    and those that diverge outright (priority source, fetch mode, page
    dedup). A catalog without a crawl_config table is refused too."""
    import shutil

    import pytest

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    root = tmp_path / "cat"
    cat = Catalog(spark, str(root))
    run_crawl(spark, pages, seeds, robots, rounds=1, budget=BUDGET, catalog=cat)
    before = _tree_digest(root)
    sc = spark.sparkContext

    def refused(match, **knobs):
        sc.setJobGroup("resume-refusal", "config check")
        try:
            with pytest.raises(ValueError, match=match):
                resume_crawl(
                    spark, pages, robots, cat, total_rounds=2,
                    budget=BUDGET, **knobs,
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup("resume-refusal")
        assert _tree_digest(root) == before

    for field, value in (
        ("use_bloom", False),
        ("bloom_buckets", 16),
        ("priority_source", "pagerank"),
        ("fuse_fetch", True),
        ("dedup_pages", True),
    ):
        refused(field, **{field: value})
    # every differing field is named
    refused("bloom_buckets.*fuse_fetch", bloom_buckets=None, fuse_fetch=True)

    shutil.rmtree(root / "crawl_config")
    before = _tree_digest(root)
    refused("crawl_config")


def test_resume_with_bloom_after_bloomless_run_does_not_reschedule(
    spark, tmp_path
):
    """Catalog has url_seen but NO bloom table (crawled with
    use_bloom=False). Resuming it with use_bloom=True would probe a filter
    the catalog never built; that resume is refused before any write, so
    nothing is rescheduled. Resuming with the committed (bloomless) config
    schedules no URL twice and ends on the straight bloomless run's
    url_seen."""
    import pytest

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET, use_bloom=False
    )
    cat = Catalog(spark, str(tmp_path))
    run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        use_bloom=False, catalog=cat,
    )
    assert not cat.exists("url_seen_bloom")
    before = _tree_digest(tmp_path)
    with pytest.raises(ValueError, match="use_bloom"):
        resume_crawl(
            spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
            use_bloom=True,
        )
    assert _tree_digest(tmp_path) == before

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        use_bloom=False,
    )
    # no URL scheduled twice, and the final sets match the bloomless run
    dups = (
        resumed.schedule.groupBy("canonical_url").count()
        .filter(F.col("count") > 1).count()
    )
    assert dups == 0
    assert {r["canonical_url"] for r in resumed.url_seen.collect()} == {
        r["canonical_url"] for r in full.url_seen.collect()
    }


def test_resume_cuckoo_ttl_rejects_ahead_filter_and_rebuilds(spark, tmp_path):
    """Crash AFTER the filter overwrite but BEFORE round_marker (cuckoo+TTL):
    the committed filter is AHEAD of the marker — reusing it would replay
    delete_keys (twin-fingerprint eviction risk, ADVICE r02) and here it is
    even emptied to make misuse deterministic. Resume must detect the
    committed_round mismatch, rebuild from url_seen (START-of-round content,
    including the keys this round ages out), and reproduce the straight
    run's schedule exactly."""
    from logcrawler_spark.plans.cuckoo import CUCKOO_SCHEMA

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    rounds, ttl = 5, 2

    # "join" probes the filter every round, so a bad rebuild would show
    knobs = dict(
        budget=BUDGET, filter_kind="cuckoo", ttl_rounds=ttl,
        probe_confirm="join",
    )
    full = run_crawl(spark, pages, seeds, robots, rounds=rounds, **knobs)
    cat = Catalog(spark, str(tmp_path))
    run_crawl(spark, pages, seeds, robots, rounds=3, catalog=cat, **knobs)
    # simulate the crashed round-4 attempt: an (empty = worst-case) filter
    # tagged round 4 is committed, but round_marker still says 3
    cat.overwrite(
        "url_seen_cuckoo",
        spark.createDataFrame([], CUCKOO_SCHEMA).withColumns(
            {"committed_round": F.lit(4), "n_buckets": F.lit(32)}
        ),
    )
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=rounds, **knobs
    )

    def sched_key(df):
        return [
            tuple(r)
            for r in df.select(
                "round", "host", "priority", "canonical_url", "host_rank",
                "slot_ms",
            )
            .orderBy("round", "host", F.col("priority").desc(),
                     "canonical_url")
            .collect()
        ]

    assert sched_key(resumed.schedule) == sched_key(full.schedule)
    # filter-content invariant: items = exactly the un-aged url_seen rows
    n_items = sum(
        r["n_items"] for r in resumed.blooms.collect()
    )
    expected = resumed.url_seen.filter(
        F.col("first_seen_round") > rounds - ttl
    ).count()
    assert n_items == expected


def _restore_pre_flush(spark, cat, rnd):
    """Rewind a finalized fused catalog to the state a kill right after
    _commit_round(rnd) leaves: fused marker present, candidate rows
    absent, metrics holding only what had RESOLVED by then (< rnd)."""
    m = cat.read("metrics")
    stats = (
        m.filter(F.col("round") == rnd)
        .select("urls_raw_total", "urls_candidates_total", "probe_mode",
                "filter_buckets")
        .distinct()
        .collect()[0]
    )
    cat.append(
        "fused_pending",
        spark.createDataFrame(
            [(rnd, int(stats["urls_raw_total"]),
              int(stats["urls_candidates_total"]), stats["probe_mode"],
              int(stats["filter_buckets"]))],
            "round int, n_raw bigint, n_cand bigint, probe_mode string,"
            " filter_buckets int",
        ),
        tag=rnd,
    )
    cat.truncate_tags("pending_candidates", rnd)
    resolved = m.filter(F.col("round") == rnd - 1)
    if resolved.count() > 0:
        cat.append("metrics", resolved, tag=rnd)
    else:
        # round 1: nothing had resolved — the metrics table did not exist
        import shutil

        cat.truncate_tags("metrics", 0)
        shutil.rmtree(str(cat._table_dir("metrics")), ignore_errors=True)


def test_fused_resume_after_round1_kill_with_no_metrics_table(spark, tmp_path):
    """Review r5 bug 1: a fused round-1 commit resolves no metrics, so a
    kill right after it leaves NO metrics table at all; resume must start
    from the same empty-metrics state an uninterrupted round 1 runs with
    instead of crashing on the read."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    cat = Catalog(spark, str(tmp_path))
    run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        fuse_fetch=True, catalog=cat,
    )
    _restore_pre_flush(spark, cat, 1)
    assert not cat.exists("metrics")

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(full)
    mrows = lambda df: sorted(
        set(
            (r["round"], r["urls_raw_total"], r["pages_fetched_total"])
            for r in df.collect()
        )
    )
    assert mrows(cat.read("metrics")) == mrows(full.metrics)


def test_fused_finalize_on_zero_round_resume_preserves_metrics(
    spark, tmp_path
):
    """Review r5 bug 2: resuming a killed fused crawl with ZERO rounds
    left (total_rounds == marker) goes straight to the finalize flush;
    the tag-replacing metrics append must PRESERVE the rows the killed
    run committed at that tag (round done-1's), not drop them."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    cat = Catalog(spark, str(tmp_path))
    run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True, catalog=cat,
    )
    _restore_pre_flush(spark, cat, 3)
    assert sorted(
        r["round"] for r in cat.read("metrics").select("round")
        .distinct().collect()
    ) == [1, 2]

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    got = sorted(
        r["round"] for r in cat.read("metrics").select("round")
        .distinct().collect()
    )
    assert got == [1, 2, 3]
    mrows = lambda df: sorted(
        set(
            (r["round"], r["urls_raw_total"], r["pages_fetched_total"])
            for r in df.collect()
        )
    )
    assert mrows(cat.read("metrics")) == mrows(full.metrics)
    assert resumed.pending_fetch is None
