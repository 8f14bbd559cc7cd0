"""The crawl-round pipeline — the engine's flagship plan.

One round (SURVEY.md §7.2, reference lifecycle §3.3 re-targeted):

    candidates --canonicalize (SURT + xxhash64)--> keyed candidates
      --within-batch last-writer-wins dedup (U4)-->
      --URL-seen anti-join, Bloom-prefiltered (J9 + Bloom layer)-->
      --robots broadcast join, longest-prefix-wins (J8/F2)-->
      --per-host politeness budget rank (W5/T4) + fetch slots-->  SCHEDULED
      --fetch = equi-join against pages on canonical URL (J2)-->
      --vectorized text extraction + link explode (X1/X6)-->      PARSED
      --outlinks -> next round's candidates; scheduled -> url_seen-->

Determinism (SURVEY.md §7.4.1): the crawl order is DEFINED as the sort key
``(round, host, -priority, canonical_url)`` — never partition arrival
order — so the schedule is reproducible under any parallelism, and the
pure-Python oracle simulator (logcrawler_spark/oracles/frontier_sim.py) must match it
exactly.

Scale shape per round: one shuffle for the dedup window (keyed by
canonical_url), one anti-join on url_hash (co-bucketed + Bloom-prefiltered),
a broadcast join for robots (rule table ~hosts, small), one window shuffle
on host for the budget rank (mega-host skew bounded by the two-phase salted
rank in ``operators.politeness``), and one equi-join to "fetch" (at real
scale: the fetcher cluster; here the synthetic pages table).
"""

from __future__ import annotations

import functools
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logcrawler_spark.catalog import Catalog
from logcrawler_spark.extraction import extract_text_and_links
from logcrawler_spark.functions.urls import (
    canonicalize_url,
    resolve_link,
    url_hash,
    url_host,
    url_path,
)
from logcrawler_spark.plans.bloom import (
    BLOOM_SCHEMA,
    build_bloom_table,
    filter_not_seen,
    merge_bloom_tables,
)
from logcrawler_spark.plans.cuckoo import CUCKOO_SCHEMA

PRIORITY_DECAY = 0.5  # child priority = parent * decay (exact in binary fp)
_BLOOM_COMPACT_EVERY = 8  # rounds between bloom-delta compactions


def _with_canonical(pages: DataFrame) -> DataFrame:
    """Attach the canonical join key to the corpus — unless the table
    already carries it. Canonicalization is a pure function of ``url``, so
    a production pages table stores ``canonical_url`` at INGEST time (one
    computation per page ever); recomputing the ~50-regex pipeline over the
    whole corpus on every crawl round was measured as the dominant scan
    cost. ``bench.py`` writes the key into its corpus parquet accordingly.
    """
    if "canonical_url" in pages.columns:
        return pages
    return pages.withColumn("canonical_url", canonicalize_url(F.col("url")))


def dedup_pages_lww(pages_c: DataFrame) -> DataFrame:
    """One page per canonical_url, keeping the max (warc_ts, url) row.

    Without this, pages sharing a canonical URL each match the fetch join —
    inflating n_fetched and duplicating next-round outlink candidates. It is
    an INGEST-time pass (one corpus shuffle per ingest, amortized over all
    rounds, never per round); ``run_crawl``'s default input contract is
    canonical-unique pages (true of the generated corpus and of any
    CDX-deduplicated crawl archive), so the default is off.
    """
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("warc_ts").desc(), F.col("url").desc()
    )
    return (
        pages_c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def canonicalize_candidates(
    df: DataFrame, url_col: str = "url", extra_cols: list[str] | None = None
) -> DataFrame:
    """Attach canonical_url / host / path / url_hash key columns.

    ``extra_cols``: pass-through columns kept alongside the keys (e.g. an
    event-time column for the streaming watermark-TTL dedup)."""
    u = F.col(url_col)
    return df.select(
        canonicalize_url(u).alias("canonical_url"),
        url_host(u).alias("host"),
        url_path(u).alias("path"),
        url_hash(u).alias("url_hash"),
        F.col("priority"),
        *[F.col(c) for c in (extra_cols or [])],
    )


def dedup_batch(cand: DataFrame) -> DataFrame:
    """Within-batch last-writer-wins: keep max priority per canonical URL
    (``src/lib.rs:97`` semantics). ``path`` completes the total order —
    host and url_hash are functions of the canonical key, so without it two
    raw-URL variants tying on priority would survive by arrival order
    (CLAUDE.md determinism rule)."""
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("priority").desc(), F.col("host"), F.col("path")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def robots_per_host(robots: DataFrame) -> DataFrame:
    """One row per host: (host, __rules array, crawl_delay_ms max) — the
    broadcast side of :func:`apply_robots`, loop-invariant across rounds.

    ``path_prefix`` is a full RFC 9309 pattern (``*`` spans any octets, a
    trailing ``$`` anchors the end, ``$`` elsewhere is literal). Each rule
    is compiled ONCE here, on the tiny rule table, into the struct the
    matcher consumes per candidate:

    - ``spec``      specificity = octet length of the pattern as written
    - ``has_star``  pattern needs the regex path
    - ``anchored``  trailing ``$`` (exact-match path when no ``*``)
    - ``lit``       pattern minus the trailing anchor (prefix / exact lit)
    - ``rx``        anchored Java regex (only consulted when has_star)

    Plain prefixes — the overwhelmingly common case — never touch a regex:
    the matcher resolves them with ``startswith`` on ``lit``.
    """
    p = F.col("path_prefix")
    anchored = p.endswith("$")
    core = F.when(
        anchored, F.expr("substring(path_prefix, 1, length(path_prefix)-1)")
    ).otherwise(p)
    # escape every Java-regex metachar EXCEPT * (resolved to .* below)
    esc = F.regexp_replace(core, r"([\\\.\[\]\{\}\(\)\+\?\^\$\|])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    compiled = robots.withColumns(
        {
            "__spec": F.length(p).cast("int"),
            "__has_star": F.instr(p, "*") > 0,
            "__anchored": anchored,
            "__lit": core,
            "__rx": rx,
        }
    )
    return compiled.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix"),
                F.col("allow"),
                F.col("__spec").alias("spec"),
                F.col("__has_star").alias("has_star"),
                F.col("__anchored").alias("anchored"),
                F.col("__lit").alias("lit"),
                F.col("__rx").alias("rx"),
            )
        ).alias("__rules"),
        F.max("crawl_delay_ms").alias("crawl_delay_ms"),
    )


def apply_robots(cand: DataFrame, robots: DataFrame) -> DataFrame:
    """Most-specific-match robots filter — shuffle-free, full RFC 9309.

    A candidate is allowed iff no rule matches its path, or the most
    specific matching rule has allow=true; specificity = octet length of
    the pattern as written, allow wins ties (RFC 9309 §2.2.2 — pinned
    identically in the pure-Python simulator and exercised by same-length
    allow/disallow, mid-``*``, and ``$``-anchor fixtures). Also attaches
    the host's crawl_delay_ms (max over rules, null if none).

    Pattern evaluation per rule struct (compiled once per rule in
    :func:`robots_per_host`): plain prefixes via ``startswith`` (no regex
    anywhere near the hot path), ``$``-anchored literals via equality,
    ``*`` patterns via ``regexp_like`` against the precompiled anchored
    regex. A NULL pattern (delay-only marker row) never matches.

    Plan shape: the rule table is tiny (~hosts), so it is pre-aggregated to
    one row per host (rule array + max delay) and broadcast; the most
    specific matching rule is resolved per candidate with array expressions
    (filter -> sort by specificity desc -> head). The earlier window
    formulation shuffled the full candidate set on canonical_url — at
    10^10 URLs that is the difference between a map-side stage and a
    terabyte shuffle. Accepts either raw rules or an already-aggregated
    per-host table (``robots_per_host`` — hoisted out of the round loop by
    ``run_crawl``, since the aggregation is loop-invariant).
    """
    per_host = (
        robots
        if "__rules" in robots.columns
        else robots_per_host(robots)
    )
    j = cand.join(F.broadcast(per_host), on="host", how="left")
    path = F.col("path")
    matches = F.filter(
        F.col("__rules"),
        lambda r: F.when(
            r["has_star"], F.regexp_like(path, r["rx"])
        ).otherwise(
            F.when(r["anchored"], path == r["lit"]).otherwise(
                path.startswith(r["lit"])
            )
        ),
    )
    # sort matched rules by (-specificity, !allow) so element 1 = most
    # specific, allow-wins on specificity ties (struct sort: false < true)
    best = F.element_at(
        F.array_sort(
            F.transform(
                matches,
                lambda r: F.struct(
                    (-r["spec"]).alias("neg_spec"),
                    (~r["allow"]).alias("not_allow"),
                    r["allow"].alias("allow"),
                ),
            )
        ),
        1,
    )
    allowed = (
        F.col("__rules").isNull()
        | (F.size(matches) == 0)
        | best["allow"]
    )
    return j.filter(allowed).select(
        "canonical_url", "host", "path", "url_hash", "priority",
        "crawl_delay_ms",
    )


def politeness_rank(
    cand: DataFrame,
    budget: int,
    n_salts: int = 16,
    windows_per_round: int = 1,
    window_ms: int = 60_000,
) -> DataFrame:
    """Per-host politeness admission by (priority desc, canonical_url asc),
    with a salted pre-rank so no task materializes a mega-host's full
    candidate set (two-phase rank, SURVEY.md §7.4.4).

    A round spans ``windows_per_round`` event-time fetch windows of
    ``window_ms`` each; every window admits at most ``budget`` URLs per
    host, and candidates beyond a window's budget ROLL to the next window
    deterministically (the reference's ``sleep(0.5)`` inter-batch pacing,
    ``12_input_images.py:79``, composed with the T4 windowed-budget
    operator ``operators.politeness``): window index and in-window slot are
    pure functions of the host rank, so

        stride_ms = max(window_ms, budget * crawl_delay_ms)
        slot_ms   = ((rank-1) // budget) * stride_ms
                    + ((rank-1) % budget) * crawl_delay_ms

    The per-host window STRIDE is ``max(window_ms, budget*delay)``, not
    ``window_ms`` alone: with a slow host (budget*delay > window_ms) the
    last slots of window N would otherwise spill past the start of window
    N+1 and same-host fetches would collide, violating crawl_delay. With
    the stride, window N's last slot is ``N*stride + (budget-1)*delay`` and
    window N+1 opens at ``(N+1)*stride >= N*stride + budget*delay`` — at
    least one full delay after it, so inter-fetch spacing holds across
    window boundaries too (ADVICE r03; mirrored in the simulator oracle and
    the streaming twin).

    Candidates past the LAST window (rank > budget*windows_per_round) are
    not scheduled this round (and stay unseen, so outlinks can resurface
    them). ``windows_per_round=1`` is the classic single-window round."""
    total = budget * windows_per_round
    order = [F.col("priority").desc(), F.col("canonical_url")]
    salt = F.pmod(F.xxhash64("canonical_url"), F.lit(n_salts))
    w_salt = Window.partitionBy("host", salt).orderBy(*order)
    pre = cand.withColumn("__prn", F.row_number().over(w_salt)).filter(
        F.col("__prn") <= total
    )
    w_host = Window.partitionBy("host").orderBy(*order)
    rank0 = F.col("host_rank") - 1
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(200)).cast("long")
    stride = F.greatest(F.lit(window_ms).cast("long"), F.lit(budget) * delay)
    return (
        pre.withColumn("host_rank", F.row_number().over(w_host))
        .filter(F.col("host_rank") <= total)
        .withColumn(
            "slot_ms",
            F.floor(rank0 / budget).cast("long") * stride
            + F.pmod(rank0, F.lit(budget)).cast("long") * delay,
        )
        .drop("__prn")
    )


#: auto probe_confirm stays "inline" while |url_seen| <= FACTOR * |cands|;
#: past that, the exact anti-join of every candidate against the whole
#: url_seen gives way to a filter probe whose negatives skip the join, and
#: the exact confirm becomes a selective anti-join of the positives ("join"
#: mode). The crossover is coarse on purpose: both modes are oracle-exact,
#: the factor only picks which cost shape to pay.
_PROBE_SWITCH_FACTOR = 4


def bucket_count_policy(
    n_seen: int, target_keys_per_bucket: int = 1 << 20
) -> int:
    """ONE url_hash bucket count for |url_seen| keys — shared by the
    membership-filter layout AND the catalog's url_seen storage bucketing
    (VERDICT r03: previously filter=32 vs catalog=8, misaligned).

    Power of two (the probe's signed pmod and the kernels' uint64 modulo
    must agree), floored at 8 for parallelism, stepped so a bucket holds
    <= ``target_keys_per_bucket`` keys after pow2 rounding: at 10^10 keys
    the default yields 2^14 buckets ≈ 610k keys/bucket, so each probe
    task holds one bounded bucket's filter row — and the filter, the
    url_seen files, and the probe shuffle all share it."""
    need = max(1, -(-n_seen // target_keys_per_bucket))
    n = 1 << (need - 1).bit_length()
    return max(8, n)


@dataclass(frozen=True)
class CrawlConfig:
    """Every crawl knob, declared once. :func:`run_crawl` commits it to the
    catalog as the ``crawl_config`` table and :func:`resume_crawl` refuses
    a config that differs from it, so a resumed crawl is the straight run.

    ``budget`` is the per-host politeness budget of one fetch window.

    ``use_bloom`` asks for a URL-seen membership filter, kept only where a
    round may probe it: a crawl is *filtered* (:attr:`filtered`) iff
    ``use_bloom`` and ``probe_confirm != "inline"``. Every other crawl is
    the one exact anti-join plan, labelled "inline", and builds, commits
    and reads no filter. ``filter_kind`` selects the filter: "bloom"
    (append-only, OR-mergeable) or "cuckoo" (supports deletion).
    ``ttl_rounds`` enables recrawl: a URL seen at round s becomes
    schedulable again at round s + ttl_rounds — the exact confirm runs
    against only the un-aged url_seen rows, and a filtered crawl DELETES
    the aged key from its cuckoo filter (Bloom cannot express this, so TTL
    requires cuckoo).

    ``failure_rate_pct`` > 0 turns on the S6 transient-failure simulation:
    each fetch attempt fails deterministically with that percent chance
    (hash of url x attempt), retried up to ``max_fetch_attempts``; retry
    and permanent-failure counts land in the metrics table.

    ``windows_per_round`` / ``window_ms``: a round spans that many fetch
    windows, each admitting ``budget`` URLs per host (see
    :func:`politeness_rank`).

    Scale-adaptive knobs (VERDICT r03 item 1):

    - ``probe_confirm`` selects the URL-seen confirm shape. Every round
      first runs the JVM window dedup (:func:`dedup_batch`). "inline" then
      runs one left-anti join of every deduped candidate against the
      effective url_seen — no Python boundary and no job of its own.
      "join" probes the filter in a cogrouped pandas kernel, pins the
      result, and anti-joins only the filter positives. "auto" picks per
      round from the tracked counts: "inline" while |url_seen| <=
      ``_PROBE_SWITCH_FACTOR`` x |pending candidates| (a growing crawl's
      steady state), else "join" (a mature frontier, where filter
      negatives skip the exact join). All modes are oracle-exact; the
      switch only changes cost shape. The counts are parquet-footer
      metadata off the previous round's materialized tables, kept only by
      a filtered crawl (:attr:`auto_scale`).
    - ``bloom_buckets=None`` derives the bucket count from |url_seen| via
      :func:`bucket_count_policy` (with ``bucket_target_keys`` keys per
      bucket, shared with the catalog's url_seen storage bucketing in
      ``_commit_round``). When the policy steps up, the standing filter is
      REBUILT from the exact key set at the new count — the re-bucket
      path; the probe always uses exactly the count the standing table
      was built with (``state.filter_buckets``).

    ``fuse_fetch=True`` (VERDICT r03 item 4 — the job-overlap lever):
    a round's fetch/extract/outlink pass is NOT materialized; the lazy
    plan becomes the next round's candidate input, so round N's fetch
    stages execute INSIDE round N+1's one sched job (lineage stays
    bounded — the fused plan reads only the pages parquet and round N's
    sched parquet). Per-round materializing jobs drop from 2 to 1, plus
    one final flush (:func:`finalize_crawl`) for the last round's fetch.
    Fetch metrics resolve one round late via the deferred Observation in
    ``state.pending_fetch``. Composes with the auto scale knobs (r5: the
    pending count uses the round's already-resolved raw-candidate count
    as a one-round-stale proxy instead of counting the deferred plan) and
    with per-round catalog commits (the commit persists the fetch's
    bounded RECOMPUTE POINT — the sched parquet + a fused_pending marker
    row — see :func:`_commit_round` and :func:`resume_crawl`).

    ``priority_source``: "inherit" decays each child's priority from its
    parent (priority * PRIORITY_DECAY); "pagerank" re-seeds every round's
    candidate priorities from the PageRank of the CUMULATIVE outlink graph
    crawled so far (``pagerank_iters`` power iterations, exact int64 — see
    :func:`_pagerank_reprioritize`). Round 1 always uses the seed
    priorities (no graph yet). Pagerank mode runs the rounds EAGER even
    when ``fuse_fetch=True`` (:attr:`fused`): the per-round graph
    computation is itself an action consuming the deferred plan, so
    fusion's 1-job/round advantage is unreachable — eager keeps fetch
    metrics same-round and the per-round commits resumable.

    ``dedup_pages``: the input contract is one page per canonical_url;
    ``True`` enforces it at ingest (LWW on (warc_ts, url) — see
    :func:`dedup_pages_lww`) when the corpus may contain recrawls.
    """

    budget: int = 8
    use_bloom: bool = True
    bloom_buckets: int | None = 32
    failure_rate_pct: int = 0
    max_fetch_attempts: int = 3
    filter_kind: str = "bloom"
    ttl_rounds: int | None = None
    windows_per_round: int = 1
    window_ms: int = 60_000
    probe_confirm: str = "inline"
    bucket_target_keys: int = 1 << 20
    fuse_fetch: bool = False
    priority_source: str = "inherit"
    pagerank_iters: int = 4
    dedup_pages: bool = False

    def __post_init__(self) -> None:
        if self.filter_kind not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown filter_kind {self.filter_kind!r}")
        if self.ttl_rounds is not None and self.filter_kind != "cuckoo":
            raise ValueError(
                "ttl_rounds requires filter_kind='cuckoo' (Bloom cannot"
                " delete)"
            )
        if self.priority_source not in ("inherit", "pagerank"):
            raise ValueError(
                f"unknown priority_source {self.priority_source!r}"
            )

    @property
    def filtered(self) -> bool:
        """Whether the crawl keeps a URL-seen filter (a round may probe it)."""
        return self.use_bloom and self.probe_confirm != "inline"

    @property
    def auto_scale(self) -> bool:
        """Whether rounds track |url_seen| and |pending| for the auto
        probe switch or the bucket-count policy."""
        return self.filtered and (
            self.bloom_buckets is None or self.probe_confirm == "auto"
        )

    @property
    def pagerank(self) -> bool:
        return self.priority_source == "pagerank"

    @property
    def fused(self) -> bool:
        """Whether rounds defer their fetch (pagerank rounds run eager)."""
        return self.fuse_fetch and not self.pagerank


@dataclass
class CrawlState:
    """Round-over-round state; every df is materialized (lineage cut).

    ``blooms`` is the standing per-bucket filter table (Bloom or cuckoo)
    covering ALL of the effective ``url_seen`` (invariant: no such key may
    test filter-negative); None in a crawl that is not
    :attr:`CrawlConfig.filtered`. It is maintained incrementally — each
    round adds only that round's newly-scheduled hashes.

    ``n_seen`` / ``n_pending`` are driver-side row counts (parquet-footer
    metadata off the already-materialized per-round tables, never a data
    scan) feeding the scale-adaptive probe: the auto inline->join switch
    and the bucket-count policy. ``filter_buckets`` is the bucket count the
    CURRENT standing filter table was built with — the probe must use
    exactly this count, and a policy step-up triggers a rebuild.
    """

    url_seen: DataFrame
    candidates: DataFrame
    schedule: DataFrame | None = None
    metrics: DataFrame | None = None
    round_no: int = 0
    blooms: DataFrame | None = None
    n_seen: int = 0
    n_pending: int | None = None
    filter_buckets: int | None = None
    #: fuse_fetch mode: the deferred fetch of the latest round — its
    #: observation handles + the already-known candidate counts, resolved
    #: by the NEXT round's job (or by :func:`finalize_crawl`)
    pending_fetch: dict | None = None
    #: the metrics rows ADDED by the latest round (eager: that round's own
    #: rows; fused: the previous round's just-resolved rows; None when the
    #: round resolved nothing) — what a durable commit appends at the
    #: round's tag, so per-round metrics commits stay O(delta) in both
    #: modes without re-filtering the whole union chain
    metrics_delta: DataFrame | None = None


#: AQE rule that swaps a query stage which returned no rows, and every
#: operator it empties, for an empty relation, dropping the Observations
#: inside it
_AQE_EMPTY_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)
_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"


def _observations_kept(step):
    """Run a crawl step ``step(state, ...)`` with :data:`_AQE_EMPTY_RULE`
    excluded in the state's session, then restore the caller's setting.

    A round whose candidates or confirm output come back empty (a drained
    frontier, a linkless corpus) would otherwise lose the Observations
    that carry its counts. Every job that resolves them runs inside such
    a step, so the crawl is safe in any session while other plans keep
    the session's rules. The conf is session-wide while the step runs:
    a query run concurrently in the same session plans without the rule.
    """

    @functools.wraps(step)
    def run(state: CrawlState, *args, **kwargs):
        conf = state.candidates.sparkSession.conf
        prev = conf.get(_AQE_EXCLUDED_RULES, None)
        rules = [r.strip() for r in (prev or "").split(",") if r.strip()]
        if _AQE_EMPTY_RULE in rules:
            return step(state, *args, **kwargs)
        conf.set(_AQE_EXCLUDED_RULES, ",".join(rules + [_AQE_EMPTY_RULE]))
        try:
            return step(state, *args, **kwargs)
        finally:
            if prev is None:
                conf.unset(_AQE_EXCLUDED_RULES)
            else:
                conf.set(_AQE_EXCLUDED_RULES, prev)

    return run


def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage between rounds by spilling to scratch parquet.

    NOT ``localCheckpoint``: the Dataset->RDD conversion it performs drops
    WholeStageCodegen, so the frame's expressions re-evaluate interpreted
    per row — measured 86s vs 2.6s for the same fetch+extract pass at 32
    threads. A parquet round-trip computes through the normal codegen path
    and reads back columnar; in production this is exactly the Iceberg
    table write each round performs anyway (same cost, now an asset).
    """
    from logcrawler_spark.utils import materialize

    return materialize(df)


def _resolve_pending_metrics(pending: dict) -> DataFrame:
    """Resolve a round's fetch observations into its metrics rows: one
    row per (round, host) with the round totals as literal columns. The
    job consuming the fetch has run by now — an eager round's outlink
    write, or for a fused round the next round's job or the flush."""
    got = pending["obs"].get
    n_retries = n_failures = 0
    if pending["obs_att"] is not None:
        att = pending["obs_att"].get  # same job as obs — no extra pass
        n_retries, n_failures = int(att["retries"]), int(att["failures"])
    return (
        pending["sched"].groupBy("round", "host")
        .agg(
            F.count("*").alias("urls_scheduled"),
            F.max("host_rank").alias("max_host_rank"),
        )
        .withColumn("urls_raw_total", F.lit(pending["n_raw"]))
        .withColumn("urls_candidates_total", F.lit(pending["n_cand"]))
        .withColumn("pages_fetched_total", F.lit(int(got["n_fetched"])))
        .withColumn(
            "bytes_extracted_total", F.lit(int(got["bytes_extracted"]))
        )
        .withColumn("fetch_retries_total", F.lit(n_retries))
        .withColumn("fetch_failures_total", F.lit(n_failures))
        .withColumn("probe_mode", F.lit(pending["mode"]))
        .withColumn("filter_buckets", F.lit(pending["n_buckets"]))
    )


def _fetch_extract_plan(
    pages_c: DataFrame,
    sched: DataFrame,
    rnd: int,
    cfg: CrawlConfig,
):
    """Build the LAZY fetch + extract + outlink plan for one round's
    schedule; returns ``(outlinks, obs, obs_att)``. Pure plan construction
    (no action), shared by the in-loop round and the fused-resume rebuild —
    a fused catalog commit persists only the (already durable) sched rows,
    and this function is the documented recompute point: identical inputs
    (pages, sched, failure knobs) rebuild the identical deferred plan.
    Pagerank crawls keep each outlink's (canonical) source so the caller
    can accumulate the (src, dst) edges.

    Plan shape: the scheduled batch is bounded (hosts x budget), so IT
    broadcasts and the (huge) pages side streams map-side with no shuffle —
    the correct join direction at 10^10-page scale; text extraction and
    link extraction run in the same Arrow batch; fetch metrics ride as
    Observations (no second pass, and the extraction kernel cannot be
    pruned because the metrics consume it)."""
    from pyspark.sql import Observation

    fetched = pages_c.join(
        F.broadcast(sched.select("canonical_url", "priority")),
        on="canonical_url",
        how="inner",
    )
    # S6 retry/failover simulation (reference: dual-fileserver failover +
    # raise_for_status, 13_calculate_image_stats.py:11-29,79-84): attempt a
    # of a url transiently fails iff hash(url, a) lands under the failure
    # rate; the first surviving attempt wins, bounded by max_fetch_attempts.
    # Pure column expressions — deterministic, re-runnable, no Python.
    obs_att = None
    if cfg.failure_rate_pct > 0:
        ok_attempts = F.filter(
            F.sequence(F.lit(1), F.lit(cfg.max_fetch_attempts)),
            lambda a: F.pmod(
                F.xxhash64(F.col("canonical_url"), a), F.lit(100)
            )
            >= cfg.failure_rate_pct,
        )
        obs_att = Observation(f"attempts_{rnd}")
        fetched = fetched.withColumn(
            # try_: an empty array (all attempts failed) must yield NULL
            "__first_ok", F.try_element_at(ok_attempts, F.lit(1))
        ).observe(
            obs_att,
            F.coalesce(
                F.sum(F.col("__first_ok") - 1), F.lit(0)
            ).alias("retries"),
            F.count_if(F.col("__first_ok").isNull()).alias("failures"),
        )
        fetched = fetched.filter(F.col("__first_ok").isNotNull())
    obs = Observation(f"round_{rnd}")
    # fused kernel: html crosses the Python boundary ONCE for both text
    # and links (two separate UDFs shipped + decoded the payload twice;
    # the two struct-field references below resolve to a single
    # ArrowEvalPython evaluation — verified in the plan)
    ex = extract_text_and_links(F.col("html"))
    enriched = fetched.select(
        "canonical_url",
        "priority",
        ex["text"].alias("text"),
        ex["hrefs"].alias("hrefs"),
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_fetched"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("bytes_extracted"),
    )
    out_cols = [
        resolve_link(F.col("src_url"), F.col("href")).alias("url"),
        (F.col("__parent_priority") * PRIORITY_DECAY).alias("priority"),
    ]
    if cfg.pagerank:
        out_cols.append(F.col("src_url"))
    outlinks = enriched.select(
        F.col("canonical_url").alias("src_url"),
        F.col("priority").alias("__parent_priority"),
        F.explode("hrefs").alias("href"),
    ).select(*out_cols)
    return outlinks, obs, obs_att


@_observations_kept
def crawl_round(
    state: CrawlState,
    pages_c: DataFrame,
    robots: DataFrame,
    *cfg_args,
    **cfg_kwargs,
) -> CrawlState:
    """Advance one round. ``pages_c`` = pages with canonical_url attached.

    The remaining arguments are the :class:`CrawlConfig` fields, in field
    order or by name; the knobs are documented there.
    """
    from pyspark.sql import Observation

    from logcrawler_spark.plans.cuckoo import (
        build_cuckoo_table,
        delete_keys,
        filter_not_seen_cuckoo,
        grow_overfull_buckets,
        insert_keys,
    )

    cfg = CrawlConfig(*cfg_args, **cfg_kwargs)
    rnd = state.round_no + 1
    # resolve this round's scale knobs BEFORE any plan is built
    want_buckets = (
        bucket_count_policy(state.n_seen, cfg.bucket_target_keys)
        if cfg.bloom_buckets is None
        else cfg.bloom_buckets
    )
    n_buckets = state.filter_buckets or want_buckets
    mode = cfg.probe_confirm if cfg.filtered else "inline"
    if mode == "auto":
        pend = state.n_pending
        mode = (
            "inline"
            if pend is None
            or state.n_seen <= _PROBE_SWITCH_FACTOR * max(pend, 1)
            else "join"
        )
    # with TTL, rows seen at round <= rnd - ttl have aged out: they are
    # schedulable again, so the exact membership set excludes them (keys
    # re-seen later keep their newer row)
    eff_seen = state.url_seen
    if cfg.ttl_rounds is not None:
        eff_seen = state.url_seen.filter(
            F.col("first_seen_round") > rnd - cfg.ttl_rounds
        )
    obs_cand = Observation(f"cand_{rnd}")
    keyed = canonicalize_candidates(
        state.candidates.observe(obs_cand, F.count(F.lit(1)).alias("n_raw"))
    )
    # within-batch LWW dedup in the JVM, whichever confirm follows; n_cand
    # rides as an Observation
    obs_dedup = Observation(f"dedup_{rnd}")
    cand = dedup_batch(keyed).observe(
        obs_dedup, F.count(F.lit(1)).alias("n_cand")
    )

    standing = None
    if cfg.filtered:
        standing = state.blooms
        if standing is not None and n_buckets != want_buckets:
            # bucket-count policy stepped up: the standing filter's layout
            # (pmod at the old count) is invalid at the new one — rebuild
            # from the exact key set below (the re-bucket/split path,
            # amortized O(log |url_seen|) times over a crawl's life)
            standing = None
            n_buckets = want_buckets
        if standing is None:
            # bootstrap BEFORE the probe (a hand-built state, a bucket-
            # policy step-up above, or a cuckoo resume whose committed
            # filter was AHEAD of round_marker): the invariant is filter ⊇
            # effective url_seen — probing an empty table here would mark
            # every seen URL definitely-new and re-schedule it. With TTL
            # the rebuild must reproduce the START-of-round filter content
            # {first_seen_round > rnd-ttl-1}, NOT eff_seen {> rnd-ttl}:
            # this round's delete_keys targets the keys aging out AT rnd,
            # and a cuckoo delete of an absent key can evict a colliding
            # twin's fingerprint (false negative) — so those keys must be
            # IN the rebuilt table (ADVICE r02).
            boot_src = eff_seen
            if cfg.ttl_rounds is not None:
                boot_src = state.url_seen.filter(
                    F.col("first_seen_round") > rnd - cfg.ttl_rounds - 1
                )
            build = (
                build_cuckoo_table
                if cfg.filter_kind == "cuckoo"
                else build_bloom_table
            )
            standing = _materialize(
                build(boot_src, n_buckets=n_buckets)
            )
    if mode == "join":
        # "join": deduped candidates flow into the filter-probe cogroup.
        # Filter negatives BYPASS the exact anti-join, so url_seen is only
        # scanned by the (selective) confirm join of the positives — the
        # right choice once |url_seen| >> |round candidates|. Costs one
        # extra materializing job per round (the probe pin).
        probe = (
            filter_not_seen_cuckoo
            if cfg.filter_kind == "cuckoo"
            else filter_not_seen
        )
        # the flagged frame goes unused here; returning it marks the
        # call as the one that ran the probe (perfbench's trace reads it)
        unseen, _flagged = probe(
            cand,
            eff_seen,
            standing,
            hash_col="url_hash",
            key_cols=["url_hash", "canonical_url"],
            n_buckets=n_buckets,
            return_flagged=True,
        )
    else:
        # "inline": one exact left-anti join against the effective
        # url_seen. No Python boundary and no job of its own — the whole
        # candidate path (canonicalize -> dedup -> anti-join -> robots ->
        # politeness) is ONE materializing job per round (the sched
        # write), and against a fresh crawl's empty seen frame Catalyst
        # drops the join altogether.
        unseen = filter_not_seen(
            cand,
            eff_seen,
            None,
            hash_col="url_hash",
            key_cols=["url_hash", "canonical_url"],
            n_buckets=n_buckets,
        )
    allowed = apply_robots(unseen, robots)
    sched = _materialize(
        politeness_rank(
            allowed, cfg.budget,
            windows_per_round=cfg.windows_per_round,
            window_ms=cfg.window_ms,
        ).withColumn("round", F.lit(rnd))
    )
    # fuse_fetch: the job above just executed the PREVIOUS round's fused
    # fetch plan (our candidate input), so its deferred observation is now
    # resolved — collect that round's metrics here, one round late
    prev_metrics = (
        _resolve_pending_metrics(state.pending_fetch)
        if state.pending_fetch is not None
        else None
    )
    # observations resolve after the first action over the candidate plan
    # (the sched materialize above, or the probe pin in "join" mode)
    n_raw = int(obs_cand.get["n_raw"])
    n_cand = int(obs_dedup.get["n_cand"])

    # fetch + extract + expand in ONE pass over the corpus — plan built by
    # :func:`_fetch_extract_plan` (shared with the fused-resume rebuild)
    outlinks, obs, obs_att = _fetch_extract_plan(pages_c, sched, rnd, cfg)
    pending = {
        "round": rnd,
        "obs": obs,
        "obs_att": obs_att,
        "sched": sched,
        "n_raw": n_raw,
        "n_cand": n_cand,
        "mode": mode,
        "n_buckets": n_buckets,
    }
    round_metrics = None
    if cfg.fused:
        # defer: the lazy outlink plan IS next round's candidate input —
        # its stages run inside round rnd+1's sched job (or the finalize
        # flush), and the observation resolves there
        next_cand = outlinks
    else:
        # the outlink write runs the fetch, resolving its observations
        next_cand = _materialize(outlinks)
        round_metrics = _resolve_pending_metrics(pending)
        pending = None

    # url_seen is append-only: the round's delta rides the ALREADY
    # materialized sched parquet (a lazy projection), so the union is a
    # union of parquet scans — no O(|url_seen|) rewrite per round. The
    # per-branch first_seen_round literal lets Catalyst prune other rounds'
    # branches from any round-filtered read.
    new_seen = state.url_seen.unionByName(
        sched.select(
            "url_hash", "canonical_url", F.lit(rnd).alias("first_seen_round")
        )
    )
    # incremental filter maintenance, only where a round may probe it:
    # build over ONLY this round's newly-seen hashes — O(delta), not
    # O(|url_seen|)
    new_blooms = None
    if cfg.filtered:
        if cfg.filter_kind == "cuckoo":
            # delete keys that aged out THIS round, then insert the round's
            # newly-scheduled keys — both O(delta), per-bucket cogroups
            upd = standing
            if cfg.ttl_rounds is not None:
                aged = state.url_seen.filter(
                    F.col("first_seen_round") == rnd - cfg.ttl_rounds
                ).select("url_hash")
                upd = delete_keys(upd, aged, n_buckets=n_buckets)
            new_blooms = _materialize(
                insert_keys(
                    upd, sched.select("url_hash"), n_buckets=n_buckets
                )
            )
            # growth path: any bucket past ~90% load (or with stash
            # overflow) is rebuilt from the exact un-aged key set at the
            # next power-of-two size — a long crawl keeps absorbing keys
            # instead of hitting a capacity wall. The stats read is
            # n_buckets metadata rows off the just-written parquet; the
            # common case (no over-full bucket) adds no job beyond it.
            exact = new_seen
            if cfg.ttl_rounds is not None:
                exact = new_seen.filter(
                    F.col("first_seen_round") > rnd - cfg.ttl_rounds
                )
            grown = grow_overfull_buckets(
                new_blooms, exact.select("url_hash"),
                n_buckets=n_buckets,
            )
            if grown is not new_blooms:
                new_blooms = _materialize(grown)
        else:
            delta = build_bloom_table(
                sched.select("url_hash"), n_buckets=n_buckets
            )
            # `standing` already covers url_seen (bootstrapped if needed).
            # The delta rides along LAZILY: the probe kernel ORs every
            # bloom row of a bucket, so a union of per-round deltas is
            # probe-equivalent to the merged table — no dedicated
            # merge-materialize job per round. Deltas are built from the
            # round's already-materialized sched parquet (bounded lineage),
            # and every _BLOOM_COMPACT_EVERY rounds the union is compacted
            # into one row per bucket so a long crawl's probe does not
            # re-build an ever-growing delta stack.
            if rnd % _BLOOM_COMPACT_EVERY == 0:
                new_blooms = _materialize(
                    merge_bloom_tables(standing, delta)
                )
            else:
                new_blooms = standing.unionByName(delta)
    metrics = state.metrics
    metrics_delta = None
    for piece in (prev_metrics, round_metrics):
        if piece is not None:
            metrics = (
                piece if metrics is None else metrics.unionByName(piece)
            )
            metrics_delta = (
                piece
                if metrics_delta is None
                else metrics_delta.unionByName(piece)
            )
    schedule = (
        sched
        if state.schedule is None
        else state.schedule.unionByName(sched)
    )
    # scale-tracking counts for the NEXT round's auto decisions — parquet-
    # footer metadata off the frames this round already materialized, and
    # only paid when an auto knob is on (the fixed-mode job count per
    # round is unchanged)
    n_seen_next, n_pending_next = state.n_seen, state.n_pending
    if cfg.auto_scale:
        n_seen_next = state.n_seen + sched.count()
        if cfg.fused:
            # the deferred fetch must NOT run early (counting next_cand
            # would execute it — the exact conflict VERDICT r04 named), so
            # the auto probe uses THIS round's already-resolved raw
            # candidate count as a one-round-stale proxy for the pending
            # size. The inline/join switch factor is deliberately coarse
            # (both modes are oracle-exact; only the cost shape changes),
            # so one round of staleness moves the crossover by at most one
            # round — and an uninterrupted fused run and a fused resume
            # make the identical mode decisions (the proxy is committed in
            # the fused_pending marker).
            n_pending_next = n_raw
        else:
            n_pending_next = next_cand.count()
    # schedule/metrics are OUTPUTS (nothing downstream in the loop reads
    # them) and they union per-round checkpointed frames — keeping them
    # lazy saves two materialization jobs per round
    return CrawlState(
        url_seen=new_seen,
        candidates=next_cand,
        schedule=schedule,
        metrics=metrics,
        round_no=rnd,
        blooms=new_blooms,
        n_seen=n_seen_next,
        n_pending=n_pending_next,
        filter_buckets=n_buckets if cfg.filtered else None,
        pending_fetch=pending,
        metrics_delta=metrics_delta,
    )


@_observations_kept
def finalize_crawl(state: CrawlState) -> CrawlState:
    """Flush the LAST round's deferred fetch (fuse_fetch mode): one
    materializing job runs the pending fetch/extract/outlink plan, its
    observation resolves, and the metrics table completes. No-op when
    nothing is pending."""
    if state.pending_fetch is None:
        return state
    from dataclasses import replace

    cand = _materialize(state.candidates)
    rows = _resolve_pending_metrics(state.pending_fetch)
    metrics = (
        rows if state.metrics is None else state.metrics.unionByName(rows)
    )
    return replace(
        state,
        candidates=cand,
        metrics=metrics,
        pending_fetch=None,
        metrics_delta=rows,
    )


def _pagerank_reprioritize(
    cand: DataFrame, edges_all: DataFrame, n_iter: int
) -> DataFrame:
    """Replace candidate priorities with the PageRank of each candidate
    URL over the cumulative outlink graph (priority_source="pagerank" —
    SURVEY W5; reference analog: the processing-order sorts,
    ``02_combine_logs.py:227-230``, upgraded to link-structure priority).

    ``cand`` carries (url, priority, src_url); ``edges_all`` is the
    cumulative (src, dst) edge set. Nodes are the distinct endpoint URLs
    (raw dst strings / canonical src strings, exactly as emitted — the
    simulator mirrors this node space). The rank is exact int64 at 1e-12
    resolution, used VERBATIM as the priority (rank_int < 1e12 < 2^53, so
    the double cast is exact and the schedule's hash gate survives); every
    candidate is a dst node by construction. One shuffle per pagerank
    iteration plus one broadcast join — pagerank-priority mode trades
    per-round graph work for crawl-order quality, the caller's knob."""
    from logcrawler_spark.operators.graph import pagerank_int
    from logcrawler_spark.utils import materialize

    nodes = materialize(
        edges_all.select(F.col("src").alias("node"))
        .unionByName(edges_all.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # parquet-footer metadata off the materialize
    if n_nodes == 0:
        # no links extracted anywhere yet (all 404s / linkless corpus):
        # there is nothing to rank — keep the inherited priorities, as
        # the simulator does (its pagerank step is skipped on an empty
        # edge list). Also dodges the 1/n_nodes base term.
        return cand.select("url", "priority")
    ranks = pagerank_int(edges_all, n_nodes, n_iter=n_iter, nodes=nodes)
    return cand.join(
        ranks.select(F.col("node").alias("url"), "rank_int"),
        on="url",
        how="left",
    ).select(
        "url",
        F.coalesce(F.col("rank_int"), F.lit(0))
        .cast("double")
        .alias("priority"),
    )


def _crawl_inputs(
    pages: DataFrame, robots: DataFrame, cfg: CrawlConfig
) -> tuple[DataFrame, DataFrame]:
    """The loop-invariant round inputs: the corpus keyed by canonical_url
    (LWW-deduped at ingest under ``cfg.dedup_pages``) and the robots
    broadcast side, aggregated and pinned ONCE instead of re-aggregating
    the rule table every round."""
    pages_c = _with_canonical(pages)
    if cfg.dedup_pages:
        pages_c = dedup_pages_lww(pages_c)
    return pages_c, _materialize(robots_per_host(robots))


def _crawl_rounds(
    state: CrawlState,
    pages_c: DataFrame,
    robots_ph: DataFrame,
    cfg: CrawlConfig,
    rounds: int,
    catalog: Catalog | None,
    edges_all: DataFrame | None,
    prev_buckets: int | None,
) -> CrawlState:
    """Advance ``rounds`` rounds and flush — the one round loop of
    :func:`run_crawl` and :func:`resume_crawl` (commit ordering is
    crash-sensitive, so there is one copy).

    Pagerank bookkeeping per round: accumulate the round's (src, dst)
    edges onto ``edges_all``, re-seed candidate priorities from the
    cumulative graph, and in durable mode append the edge delta at the
    round's tag BEFORE ``_commit_round`` writes the marker, so a resume
    always sees the full graph (multiplicity included) behind the marker
    it trusts. ``prev_buckets`` is the count url_seen's storage files are
    clustered at, so a policy step-up migrates them."""
    from dataclasses import replace

    for _ in range(rounds):
        state = crawl_round(state, pages_c, robots_ph, **asdict(cfg))
        if cfg.pagerank:
            # candidates are already materialized (eager mode)
            cand = state.candidates
            edges_rnd = cand.select(
                F.col("src_url").alias("src"), F.col("url").alias("dst")
            )
            edges_all = (
                edges_rnd
                if edges_all is None
                else edges_all.unionByName(edges_rnd)
            )
            state = replace(
                state,
                candidates=_pagerank_reprioritize(
                    cand, edges_all, cfg.pagerank_iters
                ),
            )
            if catalog is not None:
                catalog.append("link_edges", edges_rnd, tag=state.round_no)
        if catalog is not None:
            _maybe_rebucket(catalog, state, prev_buckets)
            _commit_round(catalog, state, cfg.filter_kind)
        prev_buckets = state.filter_buckets
    return _finalize_with_catalog(state, catalog)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    rounds: int = 2,
    catalog: Catalog | None = None,
    **knobs,
) -> CrawlState:
    """Run ``rounds`` crawl rounds from the seed list; ``knobs`` are the
    :class:`CrawlConfig` fields.

    With a ``catalog``, the config is committed first (the one-row
    ``crawl_config`` table) and url_seen / schedule / metrics are
    committed per round (snapshot isolation) — the resume path
    (`resume_crawl`) restarts from the last committed round with the same
    config. Reference analog: ``.images_extracted`` markers + log_status
    reconciliation (``06:45-105``, SURVEY.md §2.9 T1).
    """
    cfg = CrawlConfig(**knobs)
    pages_c, robots_ph = _crawl_inputs(pages, robots, cfg)
    # statically empty: the false filter plans as an empty local relation,
    # so the optimizer drops round 1's URL-seen anti-join and prunes this
    # branch from every later url_seen union (a bare createDataFrame([]) is
    # an RDD scan of unknown size, which also blocks broadcasting the union)
    empty_seen = spark.createDataFrame(
        [], "url_hash long, canonical_url string, first_seen_round int"
    ).where(F.lit(False))
    # nothing seen yet, so a filtered crawl starts from an empty filter
    # table instead of bootstrapping one from url_seen
    blooms = None
    if cfg.filtered:
        blooms = spark.createDataFrame(
            [],
            CUCKOO_SCHEMA if cfg.filter_kind == "cuckoo" else BLOOM_SCHEMA,
        )
    if catalog is not None:
        # 1-row control table: driver-side pyarrow write, no Spark job
        catalog.overwrite_local(
            "crawl_config", [(json.dumps(asdict(cfg)),)], "config string"
        )
    return _crawl_rounds(
        CrawlState(url_seen=empty_seen, candidates=seeds, blooms=blooms),
        pages_c, robots_ph, cfg, rounds, catalog, edges_all=None,
        prev_buckets=None,
    )


@_observations_kept
def _finalize_with_catalog(state: CrawlState, catalog: Catalog | None):
    """Flush the last round's deferred fetch and, with a catalog, bring the
    commit history to the eager-equivalent shape: real pending_candidates
    rows replace the fused marker, and the final round's just-resolved
    metrics join its tag's dir.

    Commit order is crash-deliberate: (1) pending_candidates data, (2)
    fused_pending truncation — the point after which resume takes the
    plain eager path, (3) the metrics flush. A kill before (2) leaves the
    fused marker, so resume rebuilds the deferred plan and re-resolves —
    no duplicates; a kill between (2) and (3) loses ONE round's
    fetch-metrics row (the observation is gone and nothing re-runs the
    plan) while schedule/url_seen/pending data stay exact — a bounded,
    documented gap chosen over the duplicate-metrics alternative."""
    if state.pending_fetch is None or catalog is None:
        return finalize_crawl(state)
    rnd = state.round_no
    prev_delta = state.metrics_delta  # what the tag=rnd metrics dir holds
    if prev_delta is None and catalog.exists("metrics"):
        # fresh resume with zero rounds left: this process never wrote
        # the tag=rnd metrics dir, but the killed run may have — a
        # tag-replacing append would silently DROP its rows (review r5
        # bug: round rnd-1's metrics lost from the catalog). Preserve
        # the dir's actual content instead of reconstructing by round.
        prev_delta = catalog.read_tag("metrics", rnd)
    from dataclasses import replace

    # ONE job resolves the deferred fetch AND commits it durably: the
    # catalog append executes the lazy plan (resolving the observation),
    # and the committed immutable dir doubles as the materialized
    # candidates frame — previously this was a scratch-parquet
    # materialize PLUS a second full write into the catalog (r6
    # durable-floor measurement: ~0.7s/run of redundant IO at bench
    # scale). Commit ORDER is unchanged: (1) pending data, (2) fused
    # truncation, (3) metrics — same crash windows as documented above.
    catalog.append(
        "pending_candidates",
        state.candidates.withColumn("for_round", F.lit(rnd)),
        tag=rnd,
    )
    flush_rows = _resolve_pending_metrics(state.pending_fetch)
    state = replace(
        state,
        candidates=catalog.read_tag("pending_candidates", rnd).drop(
            "for_round"
        ),
        metrics=(
            flush_rows
            if state.metrics is None
            else state.metrics.unionByName(flush_rows)
        ),
        pending_fetch=None,
        metrics_delta=flush_rows,
    )
    flush = flush_rows
    catalog.truncate_tags("fused_pending", rnd)
    # the tag=rnd dir holds prev_delta (the rows that resolved AT round
    # rnd); re-appending at the same tag replaces it, so the flush rows
    # must ride together with them
    combined = (
        flush if prev_delta is None else prev_delta.unionByName(flush)
    )
    catalog.append("metrics", combined, tag=rnd)
    return state


def _maybe_rebucket(
    catalog: Catalog, state: CrawlState, prev_buckets: int | None
) -> None:
    """When the bucket-count policy stepped up this round (the filter was
    rebuilt at a new count), migrate the url_seen STORAGE layout to match
    before committing the round's delta at the new count — probe buckets
    and file clustering stay one layout (r4; read_at granularity below
    the consolidation tag collapses, the snapshot-expiry trade)."""
    if (
        prev_buckets is not None
        and state.filter_buckets is not None
        and state.filter_buckets != prev_buckets
        and catalog.exists("url_seen")
    ):
        catalog.rebucket(
            "url_seen", state.filter_buckets, "url_hash",
            up_to_tag=state.round_no - 1,
        )


def _commit_round(
    catalog: Catalog, state: CrawlState, filter_kind: str
) -> None:
    """Commit one round's DELTAS + per-partition lineage rows (T1 analog:
    the reference's ``.images_extracted`` markers + log_status counts,
    ``06_extract_images.py:45-105``).

    url_seen / schedule / metrics / lineage are append-only: each round
    commits O(round-delta) rows via ``catalog.append(tag=round)`` — never a
    rewrite of the monotonically-growing tables (VERDICT r01 weak #3). The
    tag makes re-commits idempotent (a crashed attempt's partial append is
    replaced), and ``round_marker`` — written LAST — is the commit point:
    the resume path trusts only rows with round <= marker. Lineage records,
    per url_hash bucket, how many NEW keys the round added — cumulative
    counts are a sum over rounds.

    The ~6 pre-marker writes land on DISJOINT tables (independent HEAD
    manifests, atomic per-table ``os.replace``), so they run CONCURRENTLY
    from a driver thread pool (guide §2.6 — overlap independent jobs) and
    the wall cost of a round's commit is one job latency instead of six;
    ``round_marker`` is still written strictly AFTER every write has
    succeeded, so crash semantics are unchanged: any subset of completed
    appends without the marker is exactly the state a crash between
    sequential appends produced before, and the idempotent tagged
    re-append replaces it on resume. VERDICT r05 item 1: this took the
    durable bench config from 59% to ~parity with the volatile
    throughput (see OPTIMIZATION_r06.md for the measured table)."""
    from concurrent.futures import ThreadPoolExecutor

    rnd = state.round_no
    seen_delta = state.url_seen.filter(F.col("first_seen_round") == rnd)
    # ONE bucket-count policy: the url_seen storage files cluster on the
    # SAME pmod(url_hash) layout the membership filter probes, so a
    # bucket's keys live in a bounded file set (VERDICT r03: previously
    # filter=32 vs storage=8, misaligned)
    nb = state.filter_buckets or 8
    writes = [
        lambda: catalog.append(
            "url_seen", seen_delta, tag=rnd, n_buckets=nb,
            bucket_col="url_hash",
        ),
        lambda: catalog.append(
            "schedule", state.schedule.filter(F.col("round") == rnd),
            tag=rnd,
        ),
    ]
    # metrics: the round's DELTA rows (eager: this round's rows; fused:
    # the previous round's just-resolved rows — fetch metrics resolve one
    # round late in fused mode, so tag k's dir holds the rows that
    # RESOLVED at round k). Resume filters on the ROW round column, so
    # which tag a row rides in is invisible to readers.
    if state.metrics_delta is not None:
        writes.append(
            lambda: catalog.append("metrics", state.metrics_delta, tag=rnd)
        )
    else:
        writes.append(lambda: catalog.truncate_tags("metrics", rnd))
    if state.pending_fetch is not None and state.pending_fetch["round"] == rnd:
        # fused commit: the round's candidates are a LAZY fetch plan —
        # writing them would execute the deferred fetch and forfeit the
        # 1-job/round shape. The sched parquet committed above is durable
        # and the fetch is a pure function of (pages, sched, failure
        # knobs), so commit the bounded RECOMPUTE POINT instead: a marker
        # row carrying the counts the deferred metrics resolution needs
        # (resume rebuilds the identical plan via _fetch_extract_plan).
        pf = state.pending_fetch
        writes.append(
            lambda: catalog.append_local(
                "fused_pending",
                [(rnd, pf["n_raw"], pf["n_cand"], pf["mode"],
                  pf["n_buckets"])],
                "round int, n_raw bigint, n_cand bigint,"
                " probe_mode string, filter_buckets int",
                tag=rnd,
            )
        )
        writes.append(
            lambda: catalog.truncate_tags("pending_candidates", rnd)
        )
    else:
        writes.append(
            lambda: catalog.append(
                "pending_candidates",
                state.candidates.withColumn("for_round", F.lit(rnd)),
                tag=rnd,
            )
        )
        writes.append(lambda: catalog.truncate_tags("fused_pending", rnd))
    if state.blooms is not None:
        # small (n_buckets rows). The filter's round rides INSIDE the same
        # atomic overwrite: a crash between this write and round_marker
        # leaves a filter AHEAD of the marker, which resume detects by the
        # committed_round mismatch. For bloom a newer filter is a SUPERSET
        # of the marker's url_seen (append-only, positives exact-confirmed)
        # so it stays safe to reuse; for cuckoo it is NOT — the newer
        # filter already applied this round's TTL deletes, and replaying
        # delete_keys against it could evict colliding twin fingerprints
        # (false negatives), so resume rebuilds instead (ADVICE r02).
        writes.append(
            lambda: catalog.overwrite(
                f"url_seen_{filter_kind}",
                state.blooms.withColumn("committed_round", F.lit(rnd))
                .withColumn("n_buckets", F.lit(state.filter_buckets)),
            )
        )
    lineage = (
        seen_delta.groupBy(
            F.pmod(F.col("url_hash"), F.lit(nb)).alias("bucket")
        )
        .agg(F.count("*").alias("n_new_keys"))
        .withColumn("round", F.lit(rnd))
        .withColumn("committed_ts", F.current_timestamp())
    )
    writes.append(lambda: catalog.append("lineage", lineage, tag=rnd))
    # all pre-marker writes touch disjoint tables: overlap their jobs and
    # BARRIER before the marker — any failure surfaces here and the marker
    # is never written over a partial round
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for fut in [pool.submit(w) for w in writes]:
            fut.result()
    # 1-row control table: driver-side pyarrow write, no Spark job
    catalog.overwrite_local("round_marker", [(rnd,)], "round int")
    # markers for rounds BEFORE the one just committed are stale by
    # definition (resume reads only round == marker) — expire them now,
    # strictly AFTER the marker write so a crash at any point leaves the
    # marker round's own recompute point intact
    catalog.expire_tags("fused_pending", rnd)


def _check_catalog_config(catalog: Catalog, cfg: CrawlConfig) -> None:
    """Raise ``ValueError`` naming every field in which ``cfg`` differs
    from the config the catalog was written with. Driver-side read of the
    one-row ``crawl_config`` table, no Spark job."""
    if not catalog.exists("crawl_config"):
        raise ValueError(
            "catalog has no crawl_config table: its crawl config cannot be"
            " checked, so it cannot be resumed"
        )
    stored = json.loads(catalog.read_local("crawl_config")[0]["config"])
    diff = [
        f"{k} (catalog {stored.get(k, '<unset>')!r}, given {v!r})"
        for k, v in asdict(cfg).items()
        if k not in stored or stored[k] != v
    ]
    if diff:
        raise ValueError(
            "resume config differs from the catalog's crawl_config in: "
            + "; ".join(diff)
        )


def resume_crawl(
    spark: SparkSession,
    pages: DataFrame,
    robots: DataFrame,
    catalog: Catalog,
    total_rounds: int,
    **knobs,
) -> CrawlState:
    """Resume from the catalog's last committed round and finish the crawl.

    ``knobs`` are the :class:`CrawlConfig` fields, and they must equal the
    config the catalog was written with: a catalog without a
    ``crawl_config`` table, or any differing field, raises ``ValueError``
    naming the fields before anything is read or written, instead of
    diverging silently from the straight run.

    Reads trust only rows committed at or before ``round_marker`` — a crash
    between the per-table appends and the marker write leaves later-round
    rows in the tables, which the filters below exclude (and which the
    idempotent tagged re-append then replaces). Parquet min/max stats prune
    the other rounds' files, so each filter is a metadata operation.

    The committed filter table carries the round and the bucket count it
    was built with; the probe runs at exactly that count.

    A catalog committed in ``fuse_fetch`` mode stores no candidate rows
    for the in-flight round — it stores the RECOMPUTE POINT: the round's
    durable sched parquet plus a ``fused_pending`` marker row. Resume
    rebuilds the identical deferred plan via :func:`_fetch_extract_plan`
    (the fetch is a pure function of pages + sched + the failure knobs,
    all pinned by the config check) and re-attaches the deferred
    observation, so the round's fetch metrics resolve at the next
    consuming job exactly as they would have in the uninterrupted run.
    """
    cfg = CrawlConfig(**knobs)
    _check_catalog_config(catalog, cfg)
    done = catalog.read_local("round_marker")[0]["round"]
    pages_c, robots_ph = _crawl_inputs(pages, robots, cfg)
    blooms = None
    filter_buckets = None
    ftable = f"url_seen_{cfg.filter_kind}"
    if cfg.filtered and catalog.exists(ftable):
        ftab = catalog.read(ftable)
        head = ftab.select(
            F.max("committed_round").alias("r"),
            F.max("n_buckets").alias("nb"),
        ).collect()[0]
        # bloom: a filter AHEAD of the marker is a superset of the
        # marker's url_seen — safe (positives exact-confirmed). cuckoo:
        # an ahead filter already applied the crashed round's TTL
        # deletes; reusing it would replay delete_keys and risk
        # evicting twin fingerprints (false negatives) — rebuild.
        round_ok = cfg.filter_kind == "bloom" or head["r"] == done
        if round_ok:
            blooms = ftab.drop("committed_round", "n_buckets")
            filter_buckets = int(head["nb"])
    url_seen = catalog.read("url_seen").filter(
        F.col("first_seen_round") <= done
    )
    # fused-commit detection: a marker row for round==done means the
    # in-flight round's candidates were committed as a recompute point,
    # not as rows — rebuild the deferred plan from the durable schedule
    fused_row = None
    if catalog.exists("fused_pending"):
        rows = [
            r for r in catalog.read_local("fused_pending")
            if r["round"] == done
        ]
        fused_row = rows[0] if rows else None
    pending = None
    if fused_row is not None:
        sched_done = catalog.read("schedule").filter(F.col("round") == done)
        candidates, obs, obs_att = _fetch_extract_plan(
            pages_c, sched_done, done, cfg
        )
        pending = {
            "round": done,
            "obs": obs,
            "obs_att": obs_att,
            "sched": sched_done,
            "n_raw": int(fused_row["n_raw"]),
            "n_cand": int(fused_row["n_cand"]),
            "mode": fused_row["probe_mode"],
            "n_buckets": int(fused_row["filter_buckets"]),
        }
        # round done's metrics have NOT resolved (they resolve at the next
        # consuming job); any round==done rows in the table are orphans of
        # a crashed next-round attempt — exclude them, the re-resolution
        # re-adds identical rows (deterministic) at the re-run's tag.
        # A fused ROUND-1 commit has no resolved metrics at all (they
        # resolve at round 2), so the table may not exist yet (review r5
        # bug: unguarded read crashed the resume) — start from None, the
        # same empty state an uninterrupted round 1 runs with.
        metrics = (
            catalog.read("metrics").filter(F.col("round") < done)
            if catalog.exists("metrics")
            else None
        )
        # auto counts: same one-round-stale proxy the uninterrupted fused
        # run uses (committed in the marker), so resume makes identical
        # inline/join decisions
        n_pending = int(fused_row["n_raw"]) if cfg.auto_scale else None
    else:
        candidates = (
            catalog.read("pending_candidates")
            .filter(F.col("for_round") == done)
            .drop("for_round")
        )
        metrics = (
            catalog.read("metrics").filter(F.col("round") <= done)
            if catalog.exists("metrics")
            else None
        )
        n_pending = candidates.count() if cfg.auto_scale else None
    state = CrawlState(
        url_seen=url_seen,
        candidates=candidates,
        schedule=catalog.read("schedule").filter(F.col("round") <= done),
        metrics=metrics,
        round_no=done,
        blooms=blooms,
        n_seen=url_seen.count() if cfg.auto_scale else 0,
        n_pending=n_pending,
        filter_buckets=filter_buckets,
        pending_fetch=pending,
    )
    # a pagerank crawl committed its per-round edge deltas — read the
    # exact graph as of the marker (manifest tag prune)
    edges_all = (
        catalog.read_at("link_edges", done) if cfg.pagerank else None
    )
    # url_seen's storage files are clustered at the filter's count
    return _crawl_rounds(
        state, pages_c, robots_ph, cfg, total_rounds - done, catalog,
        edges_all, prev_buckets=filter_buckets,
    )
