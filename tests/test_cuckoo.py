"""Cuckoo-filter URL-seen layer: no false negatives, deletion support
(the recrawl-TTL primitive), incremental per-bucket updates."""

from __future__ import annotations

from pyspark.sql import functions as F

from logcrawler_spark.plans.cuckoo import (
    build_cuckoo_table,
    delete_keys,
    filter_not_seen_cuckoo,
    insert_keys,
)

N_BUCKETS = 16


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )


def _flagged(cand, cuckoos, n_buckets=N_BUCKETS):
    """The probe's flagged frame: ``cand`` plus its ``__maybe`` verdict."""
    _unseen, flagged = filter_not_seen_cuckoo(
        cand, cand.limit(0), cuckoos,
        key_cols=["url_hash", "canonical_url"], n_buckets=n_buckets,
        return_flagged=True,
    )
    return flagged


def _probe_map(cand, cuckoos, n_buckets=N_BUCKETS):
    return {
        r["canonical_url"]: r["__maybe"]
        for r in _flagged(cand, cuckoos, n_buckets).collect()
    }


def test_no_false_negatives_and_bounded_fp(spark):
    seen = _keyed(spark, 0, 4000)
    cuckoos = build_cuckoo_table(seen, n_buckets=N_BUCKETS)
    got = _probe_map(seen, cuckoos)
    assert all(got.values()), "false negative: an inserted key probed False"
    fresh = _keyed(spark, 100_000, 104_000)
    fp = sum(_probe_map(fresh, cuckoos).values())
    # 16-bit fingerprints, 4-slot rows: theoretical FP ~ 8/2^16 ~ 0.012%
    assert fp / 4000 < 0.01, fp


def test_delete_enables_recrawl(spark):
    """Expire a subset: expired keys probe not-seen again (modulo the tiny
    FP rate) while every retained key still probes seen — the operation a
    Bloom filter cannot express."""
    seen = _keyed(spark, 0, 3000)
    cuckoos = build_cuckoo_table(seen, n_buckets=N_BUCKETS)
    expired = _keyed(spark, 0, 500)
    retained = _keyed(spark, 500, 3000)
    after = delete_keys(cuckoos, expired, n_buckets=N_BUCKETS)
    got_exp = _probe_map(expired, after)
    got_ret = _probe_map(retained, after)
    assert all(got_ret.values()), "delete evicted a retained key"
    still = sum(got_exp.values())
    assert still / 500 < 0.01, f"{still} expired keys still probe seen"
    n_items = sum(r["n_items"] for r in after.collect())
    assert n_items == 2500


def test_incremental_insert_matches_full_build(spark):
    part1 = _keyed(spark, 0, 2000)
    part2 = _keyed(spark, 2000, 3500)
    incremental = insert_keys(
        build_cuckoo_table(part1, n_buckets=N_BUCKETS),
        part2,
        n_buckets=N_BUCKETS,
    )
    both = part1.unionByName(part2)
    got = _probe_map(both, incremental)
    assert all(got.values())
    n_items = sum(r["n_items"] for r in incremental.collect())
    assert n_items == 3500


def test_insert_into_missing_bucket_bootstraps(spark):
    # keys for buckets the standing table has never seen
    seed = _keyed(spark, 0, 8)  # sparse: not all 16 buckets populated
    cuckoos = build_cuckoo_table(seed, n_buckets=N_BUCKETS)
    more = _keyed(spark, 8, 600)
    updated = insert_keys(cuckoos, more, n_buckets=N_BUCKETS)
    got = _probe_map(seed.unionByName(more), updated)
    assert all(got.values())


def test_crawl_with_cuckoo_filter_matches_bloom_and_simulator(spark):
    """filter_kind='cuckoo' (no TTL) must produce EXACTLY the bloom run's
    schedule, which in turn matches the pure-Python simulator."""
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    seeds = generate_seeds(spark, "/root/testdata/sf0.001", 50)
    robots = generate_robots_rules(spark, n_hosts=50)

    def key(df):
        return sorted(
            (r["round"], r["host"], r["priority"], r["canonical_url"],
             r["host_rank"], r["slot_ms"])
            for r in df.collect()
        )

    # "join" probes each filter every round
    ck = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=5,
        filter_kind="cuckoo", probe_confirm="join",
    )
    bl = run_crawl(
        spark, pages, seeds, robots, rounds=3, budget=5,
        probe_confirm="join",
    )
    assert key(ck.schedule) == key(bl.schedule)
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(), 3, 5
    )
    assert key(ck.schedule) == sorted(
        (t[0], t[1], t[2], t[3], t[4], t[5]) for t in sim.schedule
    )


def test_ttl_recrawl_matches_simulator_and_reschedules(spark):
    """TTL aging: a URL seen at round s is schedulable again at s+ttl; the
    engine (cuckoo delete + effective-seen confirm) must match the
    simulator exactly, and at least one URL must actually be re-crawled."""
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    seeds = generate_seeds(spark, "/root/testdata/sf0.001", 50)
    robots = generate_robots_rules(spark, n_hosts=50)
    rounds, budget, ttl = 5, 5, 2

    # "join" probes the filter every round, so its TTL deletes are live
    st = run_crawl(
        spark, pages, seeds, robots, rounds=rounds, budget=budget,
        filter_kind="cuckoo", ttl_rounds=ttl, probe_confirm="join",
    )
    got = sorted(
        (r["round"], r["host"], r["priority"], r["canonical_url"],
         r["host_rank"], r["slot_ms"])
        for r in st.schedule.collect()
    )
    sim = simulate_crawl(
        pages.toPandas(), seeds.toPandas(), robots.toPandas(),
        rounds, budget, ttl_rounds=ttl,
    )
    want = sorted((t[0], t[1], t[2], t[3], t[4], t[5]) for t in sim.schedule)
    assert got == want
    # the TTL actually re-schedules something (otherwise this proves nothing)
    from collections import Counter

    counts = Counter(c for _r, _h, _p, c, _k, _s in got)
    assert max(counts.values()) >= 2, "no URL was ever re-crawled"


def test_ttl_requires_cuckoo(spark):
    import pytest

    from logcrawler_spark.plans.frontier import CrawlState, crawl_round

    empty = spark.createDataFrame(
        [], "url_hash long, canonical_url string, first_seen_round int"
    )
    seeds = spark.createDataFrame([("http://x.com/a", 1.0)],
                                  "url string, priority double")
    state = CrawlState(url_seen=empty, candidates=seeds)
    with pytest.raises(ValueError, match="cuckoo"):
        crawl_round(
            state,
            spark.createDataFrame(
                [], "url string, warc_ts timestamp, html binary,"
                " canonical_url string"
            ),
            spark.createDataFrame(
                [], "host string, path_prefix string, allow boolean,"
                " crawl_delay_ms long"
            ),
            budget=5,
            ttl_rounds=2,
        )


def test_stash_overflow_degrades_gracefully_then_grows(spark):
    """A bucket past its capacity must NOT fail the job: homeless
    fingerprints land in the stash (still no false negatives), and the
    growth pass rebuilds the bucket larger from the exact keys."""
    from logcrawler_spark.plans.cuckoo import grow_overfull_buckets

    seen = _keyed(spark, 0, 5000)
    # 1 bucket x (1<<10 rows x 4 slots) = 4096 capacity < 5000 keys
    tiny = build_cuckoo_table(seen, n_buckets=1, m_rows=1 << 10)
    rows = tiny.collect()
    assert sum(len(r["stash"] or b"") for r in rows) > 0, (
        "expected stash overflow at 122% load"
    )
    got = _probe_map(seen, tiny, n_buckets=1)
    assert all(got.values()), "stash overflow produced a false negative"

    grown = grow_overfull_buckets(
        tiny, seen.select("url_hash"), n_buckets=1
    )
    grows = grown.collect()
    assert all(len(r["stash"] or b"") == 0 for r in grows)
    assert all(r["m_rows"] > (1 << 10) for r in grows)
    got2 = _probe_map(seen, grown, n_buckets=1)
    assert all(got2.values())
    # untouched healthy buckets pass through unchanged
    healthy = build_cuckoo_table(seen, n_buckets=N_BUCKETS)
    assert grow_overfull_buckets(
        healthy, seen.select("url_hash"), n_buckets=N_BUCKETS
    ) is healthy


def test_probe_does_not_mutate_candidate_schema(spark):
    """StructType.add mutates in place; the probe must not leave a phantom
    __maybe column on the caller's DataFrame (ADVICE r02)."""
    seen = _keyed(spark, 0, 100)
    cand = _keyed(spark, 50, 150)
    before = list(cand.columns)
    cuckoos = build_cuckoo_table(seen, n_buckets=N_BUCKETS)
    _flagged(cand, cuckoos).collect()
    assert list(cand.columns) == before
    assert "__maybe" not in [f.name for f in cand.schema.fields]


def test_stash_growth_at_low_load_doubles(spark):
    """ADVICE r03: a rebuild triggered by stash overflow ALONE (load well
    under the threshold) must come back at >= 2x m_rows — auto-sizing from
    the key count would return the SAME size and the bucket could stash
    again next round, rebuilding every round with no progress."""
    from pyspark.sql import functions as F

    from logcrawler_spark.plans.cuckoo import grow_overfull_buckets

    seen = _keyed(spark, 0, 100)
    m0 = 1 << 10  # 4096 slots for 100 keys: ~2.4% load
    low = build_cuckoo_table(seen, n_buckets=1, m_rows=m0)
    # fabricate a stash overflow at low load (the trigger, not the content,
    # is what the growth policy keys on; the rebuild re-derives everything
    # from the exact key set)
    stashed = low.withColumn("stash", F.lit(b"\x01\x00"))
    grown = grow_overfull_buckets(stashed, seen.select("url_hash"), n_buckets=1)
    rows = grown.collect()
    assert len(rows) == 1
    assert rows[0]["m_rows"] >= 2 * m0, (
        f"stash-only rebuild stayed at m_rows={rows[0]['m_rows']}"
    )
    assert len(rows[0]["stash"] or b"") == 0
    got = _probe_map(seen, grown, n_buckets=1)
    assert all(got.values())


def test_build_min_m_rows_by_bucket_floor(spark):
    """The per-bucket floor is honored and rounded sizing still applies."""
    seen = _keyed(spark, 0, 100)
    t = build_cuckoo_table(
        seen, n_buckets=1, min_m_rows_by_bucket={0: 1 << 12}
    )
    assert t.collect()[0]["m_rows"] == 1 << 12


def test_evictions_raise_no_overflow_and_keep_their_sequence():
    """The eviction loop's slot LCG wraps at 64 bits without numpy
    overflow warnings (run here as errors), and places fingerprints
    exactly as the numpy-uint64 formulation did: 260 keys into 256 slots
    force thousands of kicks and a stash."""
    import hashlib
    import warnings

    import numpy as np

    from logcrawler_spark.plans.cuckoo import SLOTS_PER_ROW, _insert_many

    hashes = np.arange(1, 261, dtype=np.uint64) * np.uint64(
        0x9E3779B97F4A7C15
    )
    table = np.zeros((1 << 6, SLOTS_PER_ROW), dtype=np.uint16)
    with warnings.catch_warnings(), np.errstate(all="raise"):
        warnings.simplefilter("error")
        kicks, homeless = _insert_many(table, hashes)
    assert kicks == 2959 and len(homeless) == 5
    digest = hashlib.sha256(
        table.tobytes() + np.asarray(homeless, dtype=np.uint16).tobytes()
    ).hexdigest()
    assert digest == (
        "6aa50e626162959883dc588b55b74e251cfadb06a82251f34fecc7631ad162b8"
    )
