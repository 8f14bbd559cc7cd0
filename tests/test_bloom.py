"""Bloom URL-seen layer: zero false negatives, exact-confirmed positives."""

from __future__ import annotations

from pyspark.sql import functions as F

from logcrawler_spark.plans.bloom import build_bloom_table, filter_not_seen


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )


def test_bloom_prefilter_equals_exact_antijoin(spark):
    seen = _keyed(spark, 0, 2000)
    cand = _keyed(spark, 1000, 4000)
    blooms = build_bloom_table(seen, n_buckets=16)
    with_bloom = filter_not_seen(
        cand, seen, blooms, key_cols=["url_hash", "canonical_url"], n_buckets=16
    )
    exact = filter_not_seen(
        cand, seen, None, key_cols=["url_hash", "canonical_url"]
    )
    got = {r["canonical_url"] for r in with_bloom.collect()}
    want = {r["canonical_url"] for r in exact.collect()}
    # the whole point: bloom path must be EXACTLY the anti-join result —
    # no false negatives (every truly-unseen kept), no surviving dups
    assert got == want
    assert got == {f"u{i}" for i in range(2000, 4000)}


def test_bloom_no_false_negatives_alone(spark):
    """Every seen key must test 'maybe seen' (superset check at test scale)."""
    import numpy as np

    from logcrawler_spark.plans.bloom import _positions

    seen = _keyed(spark, 0, 5000)
    blooms = {
        int(r["bucket"]): (
            np.unpackbits(np.frombuffer(r["bloom"], dtype=np.uint8)),
            int(r["m_bits"]),
            int(r["k"]),
        )
        for r in build_bloom_table(seen, n_buckets=16).collect()
    }
    hashes = np.array(
        [r["url_hash"] for r in seen.collect()], dtype=np.int64
    ).astype(np.uint64)
    buckets = (hashes % np.uint64(16)).astype(np.int64)
    for b in np.unique(buckets):
        bits, m_bits, k = blooms[int(b)]
        pos = _positions(hashes[buckets == b], m_bits, k)
        assert bits[pos].all(), "false negative: a seen key tested negative"


def test_bloom_fp_rate_bounded(spark):
    """FP rate of the prefilter stays near theory (k=5, m/n ~ 10 bits)."""
    import numpy as np

    from logcrawler_spark.plans.bloom import _positions

    n = 5000
    seen = _keyed(spark, 0, n)
    blooms = {
        int(r["bucket"]): (
            np.unpackbits(np.frombuffer(r["bloom"], dtype=np.uint8)),
            int(r["m_bits"]),
            int(r["k"]),
        )
        for r in build_bloom_table(seen, n_buckets=16).collect()
    }
    fresh = _keyed(spark, 10_000, 20_000)
    hashes = np.array(
        [r["url_hash"] for r in fresh.collect()], dtype=np.int64
    ).astype(np.uint64)
    buckets = (hashes % np.uint64(16)).astype(np.int64)
    fp = 0
    for b in np.unique(buckets):
        bits, m_bits, k = blooms[int(b)]
        pos = _positions(hashes[buckets == b], m_bits, k)
        fp += int(bits[pos].all(axis=1).sum())
    # ~312 keys per bucket in 65536 bits -> theoretical fp ~ 1e-6; allow slack
    assert fp / len(hashes) < 0.01


def test_merge_equals_full_rebuild_byte_identical(spark):
    """OR-merging a delta bloom == building over the union, byte for byte
    (set union of Bloom filters is bitwise OR of their arrays)."""
    from logcrawler_spark.plans.bloom import merge_bloom_tables

    part1 = _keyed(spark, 0, 1500)
    part2 = _keyed(spark, 1500, 2600)
    merged = {
        r["bucket"]: (bytes(r["bloom"]), r["n_items"])
        for r in merge_bloom_tables(
            build_bloom_table(part1, n_buckets=16),
            build_bloom_table(part2, n_buckets=16),
        ).collect()
    }
    full = {
        r["bucket"]: (bytes(r["bloom"]), r["n_items"])
        for r in build_bloom_table(
            part1.unionByName(part2), n_buckets=16
        ).collect()
    }
    assert set(merged) == set(full)
    for b in full:
        assert merged[b][0] == full[b][0], f"bucket {b} bitmaps differ"
        assert merged[b][1] == full[b][1]


def test_merge_with_none_base_returns_delta(spark):
    from logcrawler_spark.plans.bloom import merge_bloom_tables

    delta = build_bloom_table(_keyed(spark, 0, 100), n_buckets=16)
    assert merge_bloom_tables(None, delta) is delta


def test_crawl_bloom_built_from_delta_only(spark):
    """The crawl loop must never rebuild the bloom from the full url_seen:
    every per-round build input is exactly that round's scheduled batch.
    A "join" crawl probes its filter every round, so it keeps one."""
    import logcrawler_spark.plans.frontier as fr
    from logcrawler_spark.plans.bloom import build_bloom_table as real_build
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    calls: list[int] = []

    def spy(df, **kw):
        calls.append(df.count())
        return real_build(df, **kw)

    orig = fr.build_bloom_table
    fr.build_bloom_table = spy
    try:
        state = fr.run_crawl(
            spark,
            generate_pages(spark, "/root/testdata/sf0.001", 50),
            generate_seeds(spark, "/root/testdata/sf0.001", 50),
            generate_robots_rules(spark, n_hosts=50),
            rounds=3,
            budget=5,
            use_bloom=True,
            probe_confirm="join",
        )
    finally:
        fr.build_bloom_table = orig

    per_round = [
        r["n"]
        for r in state.schedule.groupBy("round")
        .agg(F.count("*").alias("n"))
        .orderBy("round")
        .collect()
    ]
    assert calls == per_round, (calls, per_round)
    # standing table covers all of url_seen (insertion-count invariant)
    n_items = sum(r["n_items"] for r in state.blooms.collect())
    assert n_items == state.url_seen.count() == sum(per_round)
