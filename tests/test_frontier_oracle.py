"""North-rule gate: Spark crawl pipeline vs the pure-Python oracle.

Exact-match checks (BASELINE.md §2): crawl ordering, URL-seen membership
set, politeness slots, byte-identical extracted text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logcrawler_spark.plans.frontier import resume_crawl, run_crawl
from logcrawler_spark.sources.pages import (
    generate_pages,
    generate_robots_rules,
    generate_seeds,
)
from tests.conftest import SF_SMOKE
from logcrawler_spark.oracles.frontier_sim import simulate_crawl

N_HOSTS = 50
ROUNDS = 3
BUDGET = 5


@pytest.fixture(scope="module")
def crawl(spark):
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    state = run_crawl(
        spark, pages, seeds, robots, rounds=ROUNDS, budget=BUDGET, use_bloom=True
    )
    oracle = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), ROUNDS, BUDGET
    )
    return state, oracle, pages


def test_crawl_order_exact_match(crawl):
    state, oracle, _ = crawl
    got = [
        (r["round"], r["host"], r["priority"], r["canonical_url"])
        for r in state.schedule.select(
            "round", "host", "priority", "canonical_url"
        )
        .orderBy("round", "host", F.col("priority").desc(), "canonical_url")
        .collect()
    ]
    want = [(t[0], t[1], t[2], t[3]) for t in oracle.schedule]
    assert got == want


def test_politeness_slots_match(crawl):
    state, oracle, _ = crawl
    got = {
        (r["round"], r["canonical_url"]): (r["host_rank"], r["slot_ms"])
        for r in state.schedule.collect()
    }
    want = {(t[0], t[3]): (t[4], t[5]) for t in oracle.schedule}
    assert got == want


def test_politeness_budget_never_exceeded(crawl):
    state, _, _ = crawl
    over = (
        state.schedule.groupBy("round", "host")
        .count()
        .filter(F.col("count") > BUDGET)
        .count()
    )
    assert over == 0


def test_url_seen_membership_exact(crawl):
    state, oracle, _ = crawl
    got = {r["canonical_url"] for r in state.url_seen.collect()}
    assert got == oracle.url_seen


def test_no_rescheduled_urls(crawl):
    """A URL is scheduled at most once across all rounds (dedup invariant)."""
    state, _, _ = crawl
    dups = (
        state.schedule.groupBy("canonical_url")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_extracted_text_byte_identical(crawl):
    """North-rule invariant: extraction output equals the oracle text
    (which equals the generator's `text` column) byte for byte."""
    state, oracle, pages = crawl
    from logcrawler_spark.extraction import extract_text
    from logcrawler_spark.functions.urls import canonicalize_url

    got = {
        r["c"]: r["et"]
        for r in pages.select(
            canonicalize_url(F.col("url")).alias("c"),
            extract_text(F.col("html")).alias("et"),
        ).collect()
        if r["c"] in oracle.extracted
    }
    assert got == oracle.extracted


def test_robots_disallow_enforced(crawl):
    """No scheduled URL may hit a disallowed prefix without a deeper allow.

    Hosts with rank % 5 == 0 disallow /d13; rank % 20 == 0 ALSO carries a
    same-length /d13 allow (tie -> allow wins), so those are exempt."""
    state, _, _ = crawl
    rank = F.regexp_extract("host", r"(?:host|mega)(\d+)\.", 1).cast("int")
    viol = state.schedule.filter(
        F.col("path").startswith("/d13")
        & ~F.col("path").startswith("/d13/p")
        & rank.isNotNull()
        & (F.pmod(rank, F.lit(5)) == 0)
        & (F.pmod(rank, F.lit(20)) != 0)
    ).count()
    assert viol == 0


def test_robots_equal_length_tie_allow_wins(spark):
    """RFC 9309 tie rule: equal-length allow and disallow -> allow wins,
    identically in the Spark filter and the pure-Python simulator."""
    from logcrawler_spark.oracles import frontier_sim as sim
    from logcrawler_spark.plans.frontier import apply_robots

    import pandas as pd

    robots_rows = [
        ("h.example.com", "/tie", False, 100),
        ("h.example.com", "/tie", True, 100),
        ("h.example.com", "/deny", False, 100),
    ]
    robots = spark.createDataFrame(
        robots_rows,
        "host string, path_prefix string, allow boolean, crawl_delay_ms long",
    )
    cand = spark.createDataFrame(
        [
            ("http://h.example.com/tie/x", "h.example.com", "/tie/x", 1, 1.0),
            ("http://h.example.com/deny/x", "h.example.com", "/deny/x", 2, 1.0),
        ],
        "canonical_url string, host string, path string, url_hash long,"
        " priority double",
    )
    got = {r["path"] for r in apply_robots(cand, robots).collect()}
    assert got == {"/tie/x"}

    rpdf = pd.DataFrame(
        robots_rows, columns=["host", "path_prefix", "allow", "crawl_delay_ms"]
    )
    res = sim.simulate_crawl(
        pd.DataFrame(columns=["url", "warc_ts", "html"]),
        pd.DataFrame(
            [("http://h.example.com/tie/x", 1.0),
             ("http://h.example.com/deny/x", 2.0)],
            columns=["url", "priority"],
        ),
        rpdf,
        rounds=1,
        budget=5,
    )
    assert [t[3] for t in res.schedule] == ["http://h.example.com/tie/x"]


def _html(text, href):
    return f'<p>{text}</p><a href="{href}">x</a>'.encode()


#: two pages share a canonical URL (default port trap) — with
#: dedup_pages=True the later warc_ts must win
DUP_CANONICAL_PAGES = [
    ("http://a.example.com/p1", "2024-01-01 00:00:00",
     _html("old body", "/old-link")),
    ("http://a.example.com:80/p1", "2024-01-02 00:00:00",
     _html("new body", "/new-link")),
    ("http://a.example.com/old-link", "2024-01-01 00:00:00",
     _html("old target", "/x")),
    ("http://a.example.com/new-link", "2024-01-01 00:00:00",
     _html("new target", "/y")),
]


def _dup_canonical_inputs(spark):
    """(pages, seeds, robots) frames of :data:`DUP_CANONICAL_PAGES`."""
    from datetime import datetime

    pages = spark.createDataFrame(
        [
            (u, datetime.fromisoformat(t), h)
            for u, t, h in DUP_CANONICAL_PAGES
        ],
        "url string, warc_ts timestamp, html binary",
    )
    seeds = spark.createDataFrame(
        [("http://a.example.com/p1", 5.0)], "url string, priority double"
    )
    robots = spark.createDataFrame(
        [], "host string, path_prefix string, allow boolean,"
        " crawl_delay_ms long",
    )
    return pages, seeds, robots


def test_duplicate_canonical_pages_lww(spark):
    """dedup_pages=True: recrawled canonicals collapse to the max
    (warc_ts, url) page in both engine and simulator (single fetch, single
    outlink expansion)."""
    import pandas as pd

    from logcrawler_spark.oracles.frontier_sim import simulate_crawl

    pages, seeds, robots = _dup_canonical_inputs(spark)
    state = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=5, dedup_pages=True
    )
    got = sorted(
        (r["round"], r["canonical_url"]) for r in state.schedule.collect()
    )
    sim = simulate_crawl(
        pd.DataFrame(
            [(u, pd.Timestamp(t), h) for u, t, h in DUP_CANONICAL_PAGES],
            columns=["url", "warc_ts", "html"],
        ),
        pd.DataFrame([("http://a.example.com/p1", 5.0)],
                     columns=["url", "priority"]),
        pd.DataFrame(columns=["host", "path_prefix", "allow",
                              "crawl_delay_ms"]),
        rounds=2,
        budget=5,
    )
    want = sorted((t[0], t[3]) for t in sim.schedule)
    assert got == want
    # round 2 follows the NEW link only
    assert ("http://a.example.com/new-link" in [c for _r, c in got])
    assert ("http://a.example.com/old-link" not in [c for _r, c in got])


def test_fused_resume_applies_dedup_pages(spark, tmp_path):
    """A fused resume rebuilds the committed round's deferred fetch; with
    dedup_pages=True it must fetch from the deduped corpus like the
    straight run, or both duplicate pages expand their outlinks and the
    next round diverges."""
    from logcrawler_spark.catalog import Catalog

    pages, seeds, robots = _dup_canonical_inputs(spark)
    knobs = dict(budget=5, dedup_pages=True, fuse_fetch=True)
    straight = run_crawl(spark, pages, seeds, robots, rounds=2, **knobs)
    cat = Catalog(spark, str(tmp_path))
    run_crawl(spark, pages, seeds, robots, rounds=1, catalog=cat, **knobs)
    # the round-1 fetch is still deferred at a kill after its commit:
    # rewind the finalize flush to the fused recompute point
    n_raw, n_cand, mode, nb = (
        cat.read("metrics")
        .select("urls_raw_total", "urls_candidates_total", "probe_mode",
                "filter_buckets")
        .distinct().collect()[0]
    )
    cat.append_local(
        "fused_pending", [(1, n_raw, n_cand, mode, nb)],
        "round int, n_raw bigint, n_cand bigint, probe_mode string,"
        " filter_buckets int",
        tag=1,
    )
    cat.truncate_tags("pending_candidates", 1)
    cat.truncate_tags("metrics", 1)
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=2, **knobs
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(straight)
    mrows = lambda df: sorted(
        set(
            (r["round"], r["urls_raw_total"], r["urls_candidates_total"],
             r["pages_fetched_total"], r["bytes_extracted_total"])
            for r in df.collect()
        )
    )
    assert mrows(resumed.metrics) == mrows(straight.metrics)
    assert mrows(cat.read("metrics")) == mrows(straight.metrics)


def test_fetch_retry_failover_preserves_schedule(spark):
    """S6: with transient failures + enough bounded retries, the final
    schedule is identical to the no-failure run, and the retry/failure
    counters land in metrics."""
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    def key(state):
        return sorted(
            (r["round"], r["canonical_url"], r["host_rank"])
            for r in state.schedule.collect()
        )

    clean = run_crawl(spark, pages, seeds, robots, rounds=2, budget=BUDGET)
    flaky = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=BUDGET,
        failure_rate_pct=25, max_fetch_attempts=12,
    )
    assert key(flaky) == key(clean)
    m = flaky.metrics.select(
        "round", "fetch_retries_total", "fetch_failures_total"
    ).distinct().collect()
    retries = {r["round"]: r["fetch_retries_total"] for r in m}
    failures = {r["round"]: r["fetch_failures_total"] for r in m}
    assert sum(retries.values()) > 0  # failures actually injected
    assert all(v == 0 for v in failures.values())  # 12 attempts: none stuck
    clean_m = clean.metrics.select("fetch_retries_total").distinct().collect()
    assert all(r["fetch_retries_total"] == 0 for r in clean_m)


def test_fetch_permanent_failures_drop_pages_and_are_counted(spark):
    """With a single attempt, ~failure_rate of pages fail permanently: they
    are not fetched (no outlinks) and the failure counter records them."""
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    st = run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        failure_rate_pct=40, max_fetch_attempts=1,
    )
    row = st.metrics.select(
        "pages_fetched_total", "fetch_failures_total"
    ).distinct().collect()[0]
    assert row["fetch_failures_total"] > 0
    clean = run_crawl(spark, pages, seeds, robots, rounds=1, budget=BUDGET)
    n_clean = clean.metrics.select("pages_fetched_total").distinct().collect()[
        0
    ]["pages_fetched_total"]
    assert row["pages_fetched_total"] + row["fetch_failures_total"] == n_clean


def test_probe_confirm_join_matches_inline(spark):
    """The two exact-confirm strategies (one anti-join of every candidate
    vs a bloom probe whose positives alone are anti-joined) are plan-level
    alternatives with identical semantics: same schedule (ranks + slots),
    same URL-seen set, same candidate counts in metrics."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    def run(mode):
        st = run_crawl(
            spark, pages, seeds, robots, rounds=2, budget=4,
            probe_confirm=mode,
        )
        sched = sorted(
            (r["round"], r["host"], r["canonical_url"], r["host_rank"],
             r["slot_ms"])
            for r in st.schedule.collect()
        )
        seen = {r["canonical_url"] for r in st.url_seen.collect()}
        cand = sorted(
            (r["round"], r["urls_candidates_total"])
            for r in st.metrics.select(
                "round", "urls_candidates_total"
            ).distinct().collect()
        )
        return sched, seen, cand

    assert run("inline") == run("join")


@pytest.mark.parametrize("filter_kind", ["bloom", "cuckoo"])
@pytest.mark.parametrize("probe_confirm", ["inline", "join"])
def test_warm_round0_state_never_reschedules_seen_keys(
    spark, probe_confirm, filter_kind
):
    """A round-0 CrawlState whose url_seen already holds some seed keys
    must not schedule those keys: round 1 confirms against url_seen like
    every later round. A "join" round given no filter bootstraps one from
    url_seen instead of probing an empty table."""
    from logcrawler_spark.functions.urls import canonicalize_url
    from logcrawler_spark.plans.frontier import (
        CrawlState,
        crawl_round,
        robots_per_host,
    )

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = robots_per_host(generate_robots_rules(spark, n_hosts=N_HOSTS))
    pages_c = pages.withColumn(
        "canonical_url", canonicalize_url(F.col("url"))
    )
    empty = spark.createDataFrame(
        [], "url_hash long, canonical_url string, first_seen_round int"
    )

    def scheduled(seen):
        st = crawl_round(
            CrawlState(url_seen=seen, candidates=seeds), pages_c, robots,
            BUDGET, probe_confirm=probe_confirm, filter_kind=filter_kind,
        )
        return st.schedule.select("url_hash", "canonical_url").collect()

    cold = sorted(scheduled(empty), key=lambda r: r["canonical_url"])
    pre = [(r["url_hash"], r["canonical_url"], 0) for r in cold[::2]]
    assert pre
    warm = {r["canonical_url"] for r in scheduled(
        spark.createDataFrame(pre, empty.schema)
    )}
    assert warm
    assert warm.isdisjoint(c for _, c, _ in pre)


def test_windowed_politeness_spillover_matches_simulator(spark):
    """Over-budget candidates roll to later fetch windows (slot offset +=
    window_ms) instead of being dropped at the single-window budget; the
    engine must match the simulator EXACTLY, and at least one host must
    actually spill (>budget URLs scheduled in one round)."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)
    budget, wpr, wms = 2, 3, 10_000

    st = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=budget,
        windows_per_round=wpr, window_ms=wms,
    )
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 2, budget,
        windows_per_round=wpr, window_ms=wms,
    )
    want = sorted((t[0], t[1], t[2], t[3], t[4], t[5]) for t in sim.schedule)
    assert got == want
    # something actually spilled into a later window
    spilled = [t for t in got if t[4] > budget]
    assert spilled, "no host exceeded the per-window budget"
    assert all(t[5] >= wms for t in spilled)  # later-window slot offsets
    # and no (host, round, window) ever exceeds the budget
    from collections import Counter

    per_win = Counter((t[0], t[1], t[5] // wms) for t in got)
    assert max(per_win.values()) <= budget


def test_windowed_politeness_slow_host_stride_no_collision(spark):
    """ADVICE r03 (medium): with budget*crawl_delay > window_ms, windows
    must advance by max(window_ms, budget*delay) per host or window N's
    late slots collide with window N+1's early ones. Engine == simulator
    exactly, AND the physical invariant holds: consecutive same-host slots
    are always >= crawl_delay apart."""
    budget, wpr, wms, delay = 2, 3, 1_000, 10_000
    host = "slow.example.com"
    seeds = spark.createDataFrame(
        [(f"http://{host}/p{i}", 1.0) for i in range(8)],
        "url string, priority double",
    )
    pages = spark.createDataFrame(
        [], "url string, warc_ts long, html binary, text string, lang string"
    )
    robots = spark.createDataFrame(
        [(host, "/never", False, delay)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms long",
    )
    st = run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=budget,
        windows_per_round=wpr, window_ms=wms,
    )
    got = sorted(
        (r["canonical_url"], r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 1, budget,
        windows_per_round=wpr, window_ms=wms,
    )
    want = sorted((t[3], t[4], t[5]) for t in sim.schedule)
    assert got == want
    slots = sorted(t[2] for t in got)
    assert len(slots) == budget * wpr  # all three windows filled
    diffs = [b - a for a, b in zip(slots, slots[1:])]
    assert min(diffs) >= delay, f"same-host fetches closer than crawl_delay: {slots}"


def test_fuse_fetch_matches_eager_and_simulator(spark):
    """fuse_fetch=True (1 materializing job/round + final flush) must be
    indistinguishable in RESULTS from the eager mode: same schedule, same
    url_seen, same metrics totals — and both equal the simulator."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    fused = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(fused) == key(eager)
    assert fused.pending_fetch is None  # finalize flushed it
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(fused) == seen(eager)

    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda st: sorted(
        set(tuple(r[c] for c in mcols) for r in st.metrics.collect())
    )
    assert mrows(fused) == mrows(eager)

    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, BUDGET
    )
    assert key(fused) == sorted(tuple(t) for t in sim.schedule)


def test_fuse_fetch_with_failures_matches_eager(spark):
    """Deferred attempt-observations resolve correctly one round late."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=10)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=10)
    robots = generate_robots_rules(spark, n_hosts=10)
    fused = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=3,
        fuse_fetch=True, failure_rate_pct=20,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=3,
        failure_rate_pct=20,
    )
    tot = lambda st: sorted(
        set(
            (r["round"], r["pages_fetched_total"], r["fetch_retries_total"],
             r["fetch_failures_total"])
            for r in st.metrics.collect()
        )
    )
    assert tot(fused) == tot(eager)


def test_fuse_auto_durable_compose_and_match_eager(spark, tmp_path):
    """The r5 composition (VERDICT r04 item 1): fuse_fetch=True +
    probe_confirm='auto' + bloom_buckets=None + per-round durable commits
    in ONE run, results identical to the plain eager run — the
    1-job/round configuration is now also scale-adaptive and resumable."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    cat = Catalog(spark, str(tmp_path))
    fused = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
        catalog=cat,
    )
    eager = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(fused) == key(eager)
    assert fused.pending_fetch is None
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(fused) == seen(eager)
    # the catalog's committed history equals the in-memory state,
    # including the final round's flushed metrics and REAL candidate rows
    cat_sched = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in cat.read("schedule").collect()
    )
    assert cat_sched == key(eager)
    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda df: sorted(
        set(tuple(r[c] for c in mcols) for r in df.collect())
    )
    assert mrows(cat.read("metrics")) == mrows(eager.metrics)
    # finalize replaced the fused marker with real candidate rows
    assert not cat.exists("fused_pending") or not (
        cat.read("fused_pending").collect()
    )
    n_pending_rows = (
        cat.read("pending_candidates").filter(F.col("for_round") == 3).count()
    )
    assert n_pending_rows == fused.candidates.count()


def test_fused_durable_resume_after_kill_matches_straight(spark, tmp_path):
    """Kill a fused+auto+durable crawl mid-flight (marker at round 2 of
    4): resume in fused mode must rebuild the deferred fetch from the
    committed recompute point (sched parquet + fused_pending marker),
    re-resolve its metrics, and finish with schedule/url_seen/metrics
    identical to the uninterrupted run."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=4, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
    )
    cat = Catalog(spark, str(tmp_path))
    # killed run: only 2 rounds reach the catalog; the round-2 fetch is
    # still deferred at the kill, so the catalog holds its recompute
    # point, not its rows
    run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=BUDGET,
        fuse_fetch=True, probe_confirm="auto", bloom_buckets=None,
        catalog=cat,
    )
    # simulate the kill right after _commit_round(2): run_crawl returned
    # normally so finalize already flushed — restore the pre-flush commit
    # shape (fused marker back, pending rows gone, metrics back to the
    # rows that had resolved AT round 2, i.e. round 1's)
    import pyspark.sql.functions as SF

    n_raw = (
        cat.read("metrics")
        .filter(SF.col("round") == 2)
        .select("urls_raw_total").distinct().collect()[0][0]
    )
    n_cand = (
        cat.read("metrics")
        .filter(SF.col("round") == 2)
        .select("urls_candidates_total").distinct().collect()[0][0]
    )
    probe_mode = (
        cat.read("metrics").filter(SF.col("round") == 2)
        .select("probe_mode").distinct().collect()[0][0]
    )
    nb = (
        cat.read("metrics").filter(SF.col("round") == 2)
        .select("filter_buckets").distinct().collect()[0][0]
    )
    cat.append(
        "fused_pending",
        spark.createDataFrame(
            [(2, int(n_raw), int(n_cand), probe_mode, int(nb))],
            "round int, n_raw bigint, n_cand bigint, probe_mode string,"
            " filter_buckets int",
        ),
        tag=2,
    )
    cat.truncate_tags("pending_candidates", 2)
    # drop the flushed round-2 metrics rows (they resolve again on resume)
    cat.append(
        "metrics", cat.read("metrics").filter(SF.col("round") == 1), tag=2
    )

    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=4, budget=BUDGET,
        probe_confirm="auto", bloom_buckets=None, fuse_fetch=True,
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(full)
    seen = lambda st: {r["canonical_url"] for r in st.url_seen.collect()}
    assert seen(resumed) == seen(full)
    mcols = [
        "round", "urls_raw_total", "urls_candidates_total",
        "pages_fetched_total", "bytes_extracted_total",
    ]
    mrows = lambda df: sorted(
        set(tuple(r[c] for c in mcols) for r in df.collect())
    )
    assert mrows(cat.read("metrics")) == mrows(full.metrics)


def test_pagerank_priority_matches_simulator(spark):
    """priority_source='pagerank' (VERDICT r04 item 6): every round past
    the first re-seeds candidate priorities from the exact-int64 PageRank
    of the cumulative outlink graph. Engine and simulator share only the
    spec (both PageRank implementations are the independently-written
    pair already under test), so schedule equality here gates the whole
    composition — priorities, ordering, slots."""
    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    state = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, BUDGET,
        priority_source="pagerank",
    )
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in state.schedule.collect()
    )
    assert got == sorted(tuple(t) for t in sim.schedule)
    assert {r["canonical_url"] for r in state.url_seen.collect()} == (
        sim.url_seen
    )
    # sanity: pagerank actually changed the ordering vs inherit mode
    # (round >= 2 priorities are int64 ranks, not decayed seed floats)
    r2 = [t for t in got if t[0] == 2]
    assert r2 and all(p >= 1 or p == 0.0 for _r, _h, p, *_ in r2)


def test_pagerank_priority_durable_resume_matches_straight(spark, tmp_path):
    """Pagerank-priority crawls commit their per-round edge deltas
    (link_edges) so resume reads the exact cumulative graph; the resumed
    schedule must equal the uninterrupted run's."""
    from logcrawler_spark.catalog import Catalog

    pages = generate_pages(spark, SF_SMOKE, n_hosts=N_HOSTS)
    seeds = generate_seeds(spark, SF_SMOKE, n_hosts=N_HOSTS)
    robots = generate_robots_rules(spark, n_hosts=N_HOSTS)

    full = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    cat = Catalog(spark, str(tmp_path))
    run_crawl(
        spark, pages, seeds, robots, rounds=1, budget=BUDGET,
        priority_source="pagerank", catalog=cat,
    )
    assert cat.exists("link_edges")
    resumed = resume_crawl(
        spark, pages, robots, cat, total_rounds=3, budget=BUDGET,
        priority_source="pagerank",
    )
    key = lambda st: sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    assert key(resumed) == key(full)


def test_pagerank_priority_linkless_corpus_no_crash(spark):
    """Edge case: a corpus whose pages carry no <a> links yields an empty
    outlink graph — pagerank mode must keep the (empty) candidate flow
    and inherited priorities instead of dividing by a zero node count."""
    from datetime import datetime

    pages = spark.createDataFrame(
        [("http://a.example.com/p1", datetime(2024, 1, 1),
          b"<p>no links here</p>")],
        "url string, warc_ts timestamp, html binary",
    )
    seeds = spark.createDataFrame(
        [("http://a.example.com/p1", 5.0)], "url string, priority double"
    )
    robots = spark.createDataFrame(
        [], "host string, path_prefix string, allow boolean,"
        " crawl_delay_ms long",
    )
    state = run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=5,
        priority_source="pagerank",
    )
    rows = [
        (r["round"], r["canonical_url"], r["priority"])
        for r in state.schedule.collect()
    ]
    assert rows == [(1, "http://a.example.com/p1", 5.0)]


@pytest.mark.parametrize("fuse_fetch", [False, True])
def test_drained_frontier_crawl_in_default_aqe_session(spark, fuse_fetch):
    """A crawl whose later rounds confirm every candidate as already seen
    still resolves its round counts in a session with AQE's default rules
    (a crawl job's own session), where an empty query stage is swapped for
    an empty relation along with the Observations inside it. Broadcasts
    are off so the URL-seen anti-join shuffles, as it does at scale. The
    session's conf is left as the crawl found it."""
    from datetime import datetime

    key = "spark.sql.adaptive.optimizer.excludedRules"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    saved = {k: spark.conf.get(k, None) for k in (key, bcast)}
    spark.conf.unset(key)
    spark.conf.set(bcast, "-1")
    try:
        html = '<p><a href="/p{}">next</a></p>'
        pages = spark.createDataFrame(
            [
                (f"http://a.example.com/p{i}", datetime(2024, 1, 1),
                 html.format(3 - i).encode())
                for i in (1, 2)
            ],
            "url string, warc_ts timestamp, html binary",
        )
        seeds = spark.createDataFrame(
            [("http://a.example.com/p1", 5.0)],
            "url string, priority double",
        )
        robots = spark.createDataFrame(
            [], "host string, path_prefix string, allow boolean,"
            " crawl_delay_ms long",
        )
        state = run_crawl(
            spark, pages, seeds, robots, rounds=4, budget=5,
            fuse_fetch=fuse_fetch,
        )
        assert spark.conf.get(key, None) is None
        assert sorted(
            (r["round"], r["canonical_url"])
            for r in state.schedule.collect()
        ) == [(1, "http://a.example.com/p1"), (2, "http://a.example.com/p2")]
        assert sorted(
            (r["round"], r["urls_candidates_total"],
             r["pages_fetched_total"])
            for r in state.metrics.collect()
        ) == [(1, 1, 1), (2, 1, 1)]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
