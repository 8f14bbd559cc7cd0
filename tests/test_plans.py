"""Plan-quality gates: predicate pushdown, column pruning, broadcast
placement — asserted on the physical plans so regressions fail loudly
(SURVEY.md §4 R1/R2/R8)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + "\n" + (
        df._jdf.queryExecution().toString()
    )


def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as m

    df = m.queries()["q_filter_pushdown"](spark, SF_ORACLE)
    plan = _plan(df)
    # predicates must appear as scan-level DataFilters/PushedFilters, not
    # only as a post-scan Filter node
    scan_lines = [
        line for line in plan.splitlines() if "FileScan parquet" in line
    ]
    assert scan_lines, plan
    assert any(
        "DataFilters: [" in line and "o_orderstatus" in line
        for line in scan_lines
    ), scan_lines


def test_column_pruning_reads_only_needed_columns(spark):
    import __spark_entry__ as m

    df = m.queries()["q_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    # lineitem has 11 columns; the query needs 6 — the scan schema must not
    # include the unused join keys
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    for unused in ["l_orderkey", "l_partkey", "l_suppkey", "l_tax"]:
        assert unused not in read_schema, f"scan reads unused {unused}"


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as m

    df = m.queries()["q_broadcast_lookup"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation


def test_fetch_join_broadcasts_scheduled_side(spark):
    """The crawl's fetch join must broadcast the (bounded) scheduled batch
    and stream the corpus — the only direction that survives 10^10 pages."""
    from logcrawler_spark.functions.urls import canonicalize_url
    from logcrawler_spark.sources.pages import generate_pages

    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    pages_c = pages.withColumn(
        "canonical_url", canonicalize_url(F.col("url"))
    )
    sched = pages_c.select("canonical_url", F.lit(1.0).alias("priority")).limit(10)
    fetched = pages_c.join(F.broadcast(sched), on="canonical_url", how="inner")
    assert "BroadcastHashJoin" in _plan(fetched)


def test_anti_join_pushes_semi_structure(spark):
    import __spark_entry__ as m

    df = m.queries()["q_existence_gate"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_whole_stage_codegen_covers_scalar_pack(spark):
    import __spark_entry__ as m

    df = m.queries()["q_scalar_pack"](spark, SF_ORACLE)
    plan = _plan(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in executedPlan strings
    assert "*(1)" in plan


def test_bloom_probe_is_cogrouped_bucket_join(spark):
    """The URL-seen probe must be a cogrouped bucket join (one candidate
    shuffle, bloom rows joined per task) — never a driver collect/broadcast
    of the bloom table or a nested-loop join."""
    from logcrawler_spark.plans.bloom import build_bloom_table, filter_not_seen

    seen = spark.range(0, 500).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )
    cand = spark.range(400, 900).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
    )
    import logcrawler_spark.utils as U

    blooms = build_bloom_table(seen, n_buckets=16)
    probed_plans = []
    orig = U.materialize

    def spy(df):
        probed_plans.append(_plan(df))
        return orig(df)

    U.materialize = spy
    try:
        out = filter_not_seen(
            cand, seen, blooms, key_cols=["url_hash", "canonical_url"],
            n_buckets=16,
        )
        full = _plan(out)
    finally:
        U.materialize = orig
    # the probe itself (pinned by the internal materialize)
    assert probed_plans and "FlatMapCoGroupsInPandas" in probed_plans[-1]
    for plan in probed_plans + [full]:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_inline_confirm_round_plan_has_no_python_probe(spark, monkeypatch):
    """An inline-confirm round past the first runs its URL-seen confirm in
    the JVM: the schedule job of round 2 holds an exact anti-join and no
    cogrouped pandas probe, nested-loop join or cartesian product. Round 1
    confirms against the statically empty seen frame, so the optimizer
    drops its anti-join."""
    import logcrawler_spark.utils as U
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    scheds = []
    orig = U.materialize

    def spy(df):
        if "slot_ms" in df.columns:
            scheds.append(df)
        return orig(df)

    monkeypatch.setattr(U, "materialize", spy)
    pages = generate_pages(spark, SF_SMOKE, 50)
    seeds = generate_seeds(spark, SF_SMOKE, 50)
    robots = generate_robots_rules(spark, 50)
    run_crawl(
        spark, pages, seeds, robots, rounds=2, budget=4,
        probe_confirm="inline", fuse_fetch=True,
    )
    assert len(scheds) == 2
    r1 = scheds[0]._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in r1
    plan = _plan(scheds[1])
    assert "LeftAnti" in plan
    for node in (
        "FlatMapCoGroupsInPandas", "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert node not in plan, node


def _skeleton(df) -> list[str]:
    """Operator names of the optimized plan, top-down (no ids or paths)."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        m.group(1)
        for m in (re.match(r"[\s:+\-|!]*(\w+)", ln) for ln in plan.splitlines())
        if m
    ]


def test_inline_crawl_keeps_no_filter(spark, tmp_path, monkeypatch):
    """An inline crawl builds, commits and reads no URL-seen filter, and
    no round plan crosses into a grouped pandas kernel. ``use_bloom=False``
    is the same crawl: the same round plans and the same "inline" label."""
    import logcrawler_spark.utils as U
    from logcrawler_spark.catalog import Catalog
    from logcrawler_spark.plans.frontier import resume_crawl, run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    plans, scheds, reads = [], [], []
    orig_mat = U.materialize

    def spy_mat(df):
        plans.append(_plan(df))
        if "slot_ms" in df.columns:
            scheds.append(df)
        return orig_mat(df)

    def spy_write(method):
        orig = getattr(Catalog, method)

        def inner(self, table, df, *a, **kw):
            plans.append(_plan(df))
            return orig(self, table, df, *a, **kw)

        return inner

    orig_read = Catalog.read

    def spy_read(self, table):
        reads.append(table)
        return orig_read(self, table)

    monkeypatch.setattr(U, "materialize", spy_mat)
    for method in ("append", "overwrite"):
        monkeypatch.setattr(Catalog, method, spy_write(method))
    monkeypatch.setattr(Catalog, "read", spy_read)
    pages = generate_pages(spark, SF_SMOKE, 50)
    seeds = generate_seeds(spark, SF_SMOKE, 50)
    robots = generate_robots_rules(spark, 50)
    skeletons = []
    for knobs in (dict(probe_confirm="inline"), dict(use_bloom=False)):
        plans.clear()
        scheds.clear()
        reads.clear()
        knobs = dict(budget=4, **knobs)
        cat = Catalog(spark, str(tmp_path / str(len(skeletons))))
        st = run_crawl(
            spark, pages, seeds, robots, rounds=2, catalog=cat, **knobs
        )
        assert st.blooms is None and st.filter_buckets is None
        skeletons.append([_skeleton(df) for df in scheds])
        resumed = resume_crawl(
            spark, pages, robots, cat, total_rounds=3, **knobs
        )
        assert resumed.blooms is None
        modes = {
            r["probe_mode"]
            for r in resumed.metrics.select("probe_mode").distinct().collect()
        }
        assert modes == {"inline"}
        for kind in ("bloom", "cuckoo"):
            assert not cat.exists(f"url_seen_{kind}")
            assert f"url_seen_{kind}" not in reads
        assert len(plans) > 6
        for plan in plans:
            for node in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
                assert node not in plan, node
    assert len(skeletons[0]) == 2
    assert skeletons[0] == skeletons[1]


def test_join_round_dedups_in_jvm_below_probe(spark, monkeypatch):
    """A "join" round dedups its candidates with the JVM window before
    the cogrouped filter probe, so the pandas kernel only probes."""
    import logcrawler_spark.utils as U
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    probes = []
    orig = U.materialize

    def spy(df):
        if "__maybe" in df.columns:
            probes.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(df)

    monkeypatch.setattr(U, "materialize", spy)
    run_crawl(
        spark,
        generate_pages(spark, SF_SMOKE, 50),
        generate_seeds(spark, SF_SMOKE, 50),
        generate_robots_rules(spark, 50),
        rounds=2, budget=4, probe_confirm="join",
    )
    assert len(probes) == 2
    for plan in probes:
        top = plan.index("FlatMapCoGroupsInPandas")
        assert "Window" in plan[top:], plan


def test_fetch_retry_stays_in_codegen(spark):
    """The S6 retry expressions are pure columns — the fetch filter must
    not introduce a Python UDF stage."""
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )
    # plan-only check: build one round's fetch frame lazily via a tiny run
    pages = generate_pages(spark, "/root/testdata/sf0.001", 50)
    sched = pages.select(
        F.col("url").alias("canonical_url"), F.lit(1.0).alias("priority")
    ).limit(5)
    ok_attempts = F.filter(
        F.sequence(F.lit(1), F.lit(3)),
        lambda a: F.pmod(F.xxhash64(F.col("canonical_url"), a), F.lit(100))
        >= 25,
    )
    fetched = pages.withColumnRenamed("url", "canonical_url").join(
        F.broadcast(sched.select("canonical_url")), "canonical_url"
    ).withColumn("__first_ok", F.try_element_at(ok_attempts, F.lit(1)))
    plan = _plan(fetched.filter(F.col("__first_ok").isNotNull()))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ensure_min_partitions_size_gate(spark, tmp_path):
    """min_split_bytes gates the RR exchange by input bytes: a tiny local
    parquet (KBs) must NOT be repartitioned (the exchange costs more than
    the kernel it parallelizes — measured 0.723s vs 0.225s on
    q_dedup_exact at sf0.1), while the unconditional form still splits."""
    from logcrawler_spark.utils import ensure_min_partitions

    d = spark.read.parquet(str(SF_ORACLE) + "/documents.parquet")
    base_parts = d.rdd.getNumPartitions()

    gated = ensure_min_partitions(d, min_split_bytes=32 << 20)
    assert gated.rdd.getNumPartitions() == base_parts  # no exchange added

    unconditional = ensure_min_partitions(d)
    assert (
        unconditional.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # a gate sized BELOW the file size still derives the split count from
    # the input bytes (capped at parallelism), so a genuinely large
    # unsplittable file would be spread
    sized = ensure_min_partitions(d, min_split_bytes=1)
    assert sized.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # the split count is ceil(bytes / min_split_bytes): a file ~1.5x the
    # gate spreads over 2 tasks, not 1 — also when its path holds a space
    # (``inputFiles()`` returns it URI-quoted)
    for name in ("plain", "with space"):
        out = str(tmp_path / name)
        spark.range(5000).coalesce(1).write.parquet(out)
        size = sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out) if f.endswith(".parquet")
        )
        d = spark.read.parquet(out)
        assert d.rdd.getNumPartitions() == 1
        # an unsized input would fall back to the unconditional n=8
        got = ensure_min_partitions(d, n=8, min_split_bytes=size * 2 // 3)
        assert got.rdd.getNumPartitions() == 2, name
