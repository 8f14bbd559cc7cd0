"""The two workloads, each a closed loop of one client in one process.

A workload sets up (off the clock), then repeats its unit of work until
one more unit as long as the last would overrun ``--seconds`` of measured
time; it always runs at least one unit. Every operation's output is
checked off the clock; an exception or a wrong output counts as a failed
operation and the loop goes on.

- ``crawl_fresh``: one operation is a 3-round volatile crawl; a unit is
  two of them.
- ``recrawl_cron``: one unit restores a 1-round durable catalog and makes
  three one-round ``resume_crawl`` calls (rounds 2, 3 and 4); each call is
  one operation.

The 12 query leaves ``bench.py`` times run only in a traced
``crawl_fresh`` run, after the crawls: they give the per-layer
``query.<leaf>_s`` figures (see README.md for why they are not a workload).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

from perfbench import checks, inputs, procs
from perfbench.trace import (
    Tracer,
    event_log_metrics,
    filter_prefix_times,
    filter_quality,
    prefix_layers,
    union_length,
)

BUDGET = 64
FRESH_ROUNDS = 3
CRAWLS_PER_UNIT = 2
CRON_BUILD_ROUNDS = 1
CRON_ROUNDS = 4
CRON_TTL = 2
QUERY_LEAVES = [
    "q_pricing_summary", "q_merge_join_large", "q_top_revenue_orders",
    "q_asof_nearest", "q_politeness_window", "q_dedup_exact",
    "q_minhash_lsh_pairs", "q_ann_topk_bruteforce", "q_text_stats",
    "q_corpus_curation", "q_image_stats", "q_tree_flatten",
]
FUNNEL = ("raw", "deduped", "scheduled", "fetched", "bytes_extracted",
          "join_rounds")


class Run:
    """State of one benchmark run: inputs, clocks, counts and results."""

    def __init__(self, root: str, run_dir: str, seed: int, seconds: float,
                 trace: bool) -> None:
        self.root = root
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.prep: list[float] = []  # repeated per-unit preparation times
        self.ops: list[float] = []
        self.steal: list[float] = []  # host CPU steal during each op
        self.urls_raw = 0
        self.urls_scheduled = 0
        self.windows: list[tuple[float, float]] = []
        self.layer: dict[str, float] = {}

    # -- bookkeeping ----------------------------------------------------------
    def record(self, ok: bool, msg: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(msg)
            print(f"[perfbench] FAILED: {msg}", file=sys.stderr)

    def fail(self, msg: str) -> None:
        """Mark an already counted operation's output as wrong."""
        self.failed += 1
        self.errors.append(msg)
        print(f"[perfbench] FAILED: {msg}", file=sys.stderr)

    def attempt(self, label: str, fn):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - the loop must go on
            traceback.print_exc(file=sys.stderr)
            self.record(False, f"{label}: {type(e).__name__}: {e}"[:500])
            return None

    def timed_op(self, fn):
        """Time one operation; returns (result, seconds) or (None, None)."""
        t0, w0, s0 = time.monotonic(), time.time(), procs.steal_s()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - the loop must go on
            traceback.print_exc(file=sys.stderr)
            self.record(False, f"operation: {type(e).__name__}: {e}"[:500])
            return None, None
        dt = time.monotonic() - t0
        self.ops.append(dt)
        self.steal.append(procs.steal_s() - s0)
        self.windows.append((w0, time.time()))
        return out, dt

    def loop(self, unit) -> None:
        """Repeat ``unit()`` (which returns its measured seconds) until one
        more unit as long as the last would overrun ``seconds``."""
        measured = 0.0
        while True:
            dt = unit() or 0.0
            measured += dt
            if dt <= 0.0 or measured + dt > self.seconds:
                return

    # -- scratch --------------------------------------------------------------
    @staticmethod
    def mat_seq() -> int:
        from logcrawler_spark import utils

        return utils._MAT_SEQ

    @staticmethod
    def drop_mat_since(seq0: int) -> None:
        """Delete the ``utils.materialize`` outputs written after ``seq0``."""
        from logcrawler_spark import utils

        if utils._MAT_DIR is None:
            return
        for i in range(seq0 + 1, utils._MAT_SEQ + 1):
            shutil.rmtree(f"{utils._MAT_DIR}/m{i:05d}", ignore_errors=True)

    # -- shared inputs --------------------------------------------------------
    def crawl_inputs(self):
        """Pages, the seed's start URLs and robots rules as DataFrames."""
        from logcrawler_spark.sources.pages import generate_robots_rules

        t0 = time.monotonic()
        tables, hit_t = inputs.tables_dir(self.root, inputs.CRAWL_SCALE)
        corpus, hit_c = inputs.corpus_dir(self.spark, self.root, tables)
        self.corpus = corpus
        self.seeds_path = os.path.join(self.run_dir, "seeds.parquet")
        inputs.choose_seeds(corpus, self.seed, self.seeds_path)
        pages = self.spark.read.parquet(f"{corpus}/pages")
        seeds = self.spark.read.parquet(self.seeds_path)
        robots = generate_robots_rules(self.spark, inputs.N_HOSTS)
        self.setup["sources.corpus_s"] = time.monotonic() - t0
        self.layer["sources.corpus_cache_hit"] = float(hit_t and hit_c)
        return pages, seeds, robots

    def sim_cache(self, kind: str, rounds: int, ttl: int | None) -> str:
        pkg = os.path.join(self.root, "logcrawler_spark", "oracles")
        key = inputs.code_key(
            os.path.basename(self.corpus),
            os.path.join(pkg, "frontier_sim.py"),
            f"{kind} seed={self.seed} rounds={rounds} budget={BUDGET}"
            f" ttl={ttl} keep={inputs.SEED_KEEP_OF}",
        )
        d = os.path.join(self.root, inputs.WORK, "data", "oracle")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{kind}-{key}.json")

    def sim_pages(self):
        pkg = os.path.join(self.root, "logcrawler_spark", "oracles")
        key = inputs.code_key(
            os.path.basename(self.corpus), os.path.join(pkg, "frontier_sim.py")
        )
        path = os.path.join(
            self.root, inputs.WORK, "data", f"simpages-{key}.parquet"
        )
        return checks.sim_canonical_pages(self.corpus, path)

    def funnel(self, metrics_df, first_round: int = 1) -> dict:
        """Exact per-round counts from the crawl's metrics table, summed
        over rounds >= ``first_round``."""
        from pyspark.sql import functions as F

        m = metrics_df.filter(F.col("round") >= first_round)
        per_round = m.groupBy("round").agg(
            F.max("urls_raw_total").alias("raw"),
            F.max("urls_candidates_total").alias("deduped"),
            F.sum("urls_scheduled").alias("scheduled"),
            F.max("pages_fetched_total").alias("fetched"),
            F.max("bytes_extracted_total").alias("bytes_extracted"),
            F.max((F.col("probe_mode") == "join").cast("int")).alias(
                "join_rounds"
            ),
        ).collect()
        return {k: sum(int(r[k] or 0) for r in per_round) for k in FUNNEL}

    # -- tracing ------------------------------------------------------------
    def traced(self) -> bool:
        return self.tracer is not None

    def trace_layers_after_last_op(self, sched_write_s: float | None) -> None:
        if not self.traced():
            return
        tr = self.tracer
        self.layer.update(prefix_layers(tr, sched_write_s))
        self.layer.update(filter_quality(tr))
        self.layer.update(filter_prefix_times(tr))

    def table_bytes(self, state) -> None:
        """Size of the standing URL-seen filter table after the last op."""
        if not self.traced() or state is None or state.blooms is None:
            return
        from pyspark.sql import functions as F

        b = state.blooms
        if "table" in b.columns:
            n = b.select(
                F.sum(F.length("table") + F.coalesce(F.length("stash"), F.lit(0)))
            ).collect()[0][0]
            self.layer["cuckoo.table_bytes"] = float(n or 0)
        else:
            n = b.select(F.sum(F.length("bloom"))).collect()[0][0]
            self.layer["bloom.table_bytes"] = float(n or 0)


# -- crawl_fresh ---------------------------------------------------------------
def crawl_fresh(run: Run) -> None:
    from logcrawler_spark.plans import frontier

    pages, seeds, robots = run.crawl_inputs()
    knobs = dict(
        rounds=FRESH_ROUNDS, budget=BUDGET, use_bloom=True,
        probe_confirm="inline", fuse_fetch=True,
    )
    robots_pdf = robots.toPandas()
    want = {"fp": None}

    def crawl():
        return frontier.run_crawl(run.spark, pages, seeds, robots, **knobs)

    def check(state, against_sim: bool) -> bool:
        got = checks.schedule_rows(state.schedule)
        if against_sim:
            ok, msg = checks.check_crawl(
                got, run.sim_pages(), run.seeds_path, robots_pdf,
                FRESH_ROUNDS, BUDGET, None,
                run.sim_cache("fresh", FRESH_ROUNDS, None),
            )
            if ok:
                want["fp"] = checks.fingerprint(got)
        else:
            fp = checks.fingerprint(got)
            ok = fp == want["fp"]
            msg = "" if ok else "schedule differs from the checked crawl"
        run.record(ok, msg)
        return ok

    # warm-up off the clock: a full-size 2-round crawl with the same knobs
    # runs every plan shape of the real crawl at full size once, so worker
    # start-up, imports, code generation and JIT are paid here. (After
    # bench.py's miniature crawl the first timed crawl still ran ~15-25%
    # slower, and by a varying amount.)
    t0 = time.monotonic()
    seq0 = run.mat_seq()
    run.attempt("warm-up crawl", lambda: frontier.run_crawl(
        run.spark, pages, seeds, robots, **{**knobs, "rounds": 2},
    ))
    run.setup["session.warmup_s"] = time.monotonic() - t0
    run.drop_mat_since(seq0)
    if run.traced():
        run.tracer.install()

    last = {"state": None}

    def one_crawl() -> float:
        seq = run.mat_seq()
        if run.traced():
            run.tracer.reset_captures()
        state, dt = run.timed_op(crawl)
        if state is None:
            run.drop_mat_since(seq)
            return 0.0
        f = run.attempt("funnel", lambda: run.funnel(state.metrics))
        if f is not None:
            run.urls_raw += f["raw"]
            run.urls_scheduled += f["scheduled"]
            run.layer.update({f"funnel.{k}": float(v) for k, v in f.items()})
        run.attempt("check", lambda: check(state, want["fp"] is None))
        # the op's scratch stays until the next op starts: the traced
        # prefix plans after the last op read it
        last.update(state=state, seq=seq)
        return dt

    def crawls() -> float:
        total = 0.0
        for _ in range(CRAWLS_PER_UNIT):
            if last["state"] is not None:
                run.drop_mat_since(last["seq"])
                last["state"] = None
            total += one_crawl()
        return total

    run.loop(crawls)
    if last["state"] is not None:
        sched_s = _sched_write_seconds(run)
        run.attempt(
            "trace layers", lambda: run.trace_layers_after_last_op(sched_s)
        )
        run.attempt("filter bytes", lambda: run.table_bytes(last["state"]))
        run.drop_mat_since(last["seq"])
    if run.traced():
        run.tracer.uninstall()
        query_leaves(run)


def _sched_write_seconds(run: Run) -> float | None:
    """Wall time of the last round's schedule write: the first
    ``materialize`` span inside the last ``frontier.round`` span (filter
    maintenance may materialize after it)."""
    if not run.traced():
        return None
    tr = run.tracer
    rounds = [i for i, s in enumerate(tr.spans) if s["name"] == "frontier.round"]
    if not rounds:
        return None
    last = rounds[-1]
    mats = [
        s for s in tr.spans
        if s["name"] == "materialize" and s["parent"] == last
    ]
    if not mats:
        return None
    return mats[0]["end"] - mats[0]["start"]


# -- recrawl_cron ---------------------------------------------------------------
def _catalog_usage(root: str) -> tuple[int, int]:
    """(files, bytes) of a catalog without its ``lineage`` table, whose
    commit timestamps make its encoded size vary by a few bytes from run
    to run; the rest repeats exactly for one seed."""
    files, size = inputs.dir_usage(root)
    lin_files, lin_size = inputs.dir_usage(os.path.join(root, "lineage"))
    return files - lin_files, size - lin_size


def recrawl_cron(run: Run) -> None:
    from logcrawler_spark.catalog import Catalog
    from logcrawler_spark.plans import frontier

    pages, seeds, robots = run.crawl_inputs()
    robots_pdf = robots.toPandas()
    knobs = dict(
        budget=BUDGET, fuse_fetch=True, filter_kind="cuckoo",
        ttl_rounds=CRON_TTL, probe_confirm="auto",
    )
    cat_root = os.path.join(run.run_dir, "catalogs")
    pristine = os.path.join(cat_root, "after-build")
    live = os.path.join(cat_root, "live")

    # set-up: build the 1-round catalog (the first build is also the
    # warm-up); later units restore a copy of it
    t0 = time.monotonic()
    seq0 = run.mat_seq()
    ok = run.attempt("catalog build", lambda: frontier.run_crawl(
        run.spark, pages, seeds, robots, rounds=CRON_BUILD_ROUNDS,
        catalog=Catalog(run.spark, pristine), **knobs,
    ))
    run.setup["session.warmup_s"] = time.monotonic() - t0
    run.drop_mat_since(seq0)
    if ok is None:
        return
    if run.traced():
        run.tracer.install()
    want = {"fp": None}
    last = {"state": None}

    def unit() -> float:
        t_prep = time.monotonic()
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(pristine, live)
        catalog = Catalog(run.spark, live)
        run.prep.append(time.monotonic() - t_prep)
        before = _catalog_usage(live)
        seq = run.mat_seq()
        if run.traced():
            run.tracer.reset_captures()
        total = 0.0
        state = None
        for k in range(CRON_BUILD_ROUNDS + 1, CRON_ROUNDS + 1):
            state, dt = run.timed_op(lambda k=k: frontier.resume_crawl(
                run.spark, pages, robots, catalog, total_rounds=k, **knobs,
            ))
            if state is None:
                break
            total += dt
            run.record(True)
        if state is None:
            run.drop_mat_since(seq)
            return total
        f = run.attempt(
            "funnel", lambda: run.funnel(state.metrics, CRON_BUILD_ROUNDS + 1)
        )
        if f is not None:
            run.urls_raw += f["raw"]
            run.urls_scheduled += f["scheduled"]
            run.layer.update({f"funnel.{k}": float(v) for k, v in f.items()})

        def check() -> None:
            got = checks.schedule_rows(state.schedule)
            fp = checks.fingerprint(got)
            if want["fp"] is None:
                ok, msg = checks.check_crawl(
                    got, run.sim_pages(), run.seeds_path, robots_pdf,
                    CRON_ROUNDS, BUDGET, CRON_TTL,
                    run.sim_cache("cron", CRON_ROUNDS, CRON_TTL),
                )
                if ok:
                    want["fp"] = fp
            else:
                ok = fp == want["fp"]
                msg = "" if ok else "resumed schedule differs between units"
            # the resume calls of a unit are checked together, as one output
            if not ok:
                run.fail(msg)

        run.attempt("check", check)
        after = _catalog_usage(live)
        run.layer["catalog.files_written"] = float(after[0] - before[0])
        run.layer["catalog.bytes_written"] = float(after[1] - before[1])
        n_seen = run.attempt("url_seen count", state.url_seen.count)
        if n_seen:
            run.layer["catalog.bytes_per_url"] = after[1] / n_seen
        last.update(state=state, seq=seq)
        return total

    def unit_with_cleanup() -> float:
        if last["state"] is not None:
            run.drop_mat_since(last["seq"])
            last["state"] = None
        return unit()

    run.loop(unit_with_cleanup)
    if last["state"] is not None:
        run.attempt(
            "trace layers", lambda: run.trace_layers_after_last_op(
                _sched_write_seconds(run)
            )
        )
        run.attempt("filter bytes", lambda: run.table_bytes(last["state"]))
        run.drop_mat_since(last["seq"])
    shutil.rmtree(cat_root, ignore_errors=True)


# -- query leaves (traced crawl_fresh only) ---------------------------------
def query_leaves(run: Run) -> None:
    """One checked pass over the 12 leaves (each collected and compared
    with its oracle), then one pass to ``noop`` sinks whose times become
    ``query.<leaf>_s``. Leaf order comes from the seed."""
    import __spark_entry__ as entry_mod

    sf_dir, _hit = inputs.tables_dir(run.root, inputs.QUERY_SCALE)
    leaves = list(QUERY_LEAVES)
    random.Random(run.seed).shuffle(leaves)
    queries = entry_mod.queries()
    con = checks.duckdb_views(sf_dir)
    try:
        for name in leaves:
            got = run.attempt(
                name, lambda: queries[name](run.spark, sf_dir).toPandas()
            )
            if got is not None:
                run.attempt(
                    f"{name} check",
                    lambda: run.record(*checks.check_leaf(name, got, sf_dir, con)),
                )
    finally:
        con.close()
    for name in leaves:
        seq = run.mat_seq()
        t0 = time.monotonic()
        ok = run.attempt(
            name,
            lambda: queries[name](run.spark, sf_dir)
            .write.format("noop").mode("overwrite").save() or True,
        )
        if ok:
            run.layer[f"query.{name}_s"] = time.monotonic() - t0
        run.drop_mat_since(seq)


WORKLOADS = {
    "crawl_fresh": crawl_fresh,
    "recrawl_cron": recrawl_cron,
}


def span_layers(run: Run) -> None:
    """Per-layer figures from the tracer's spans and the event log."""
    tr = run.tracer
    L = run.layer
    L["materialize.calls"] = float(tr.count("materialize"))
    L["materialize.s"] = tr.total("materialize")
    L["materialize.bytes"] = float(tr.materialize_bytes)
    L["catalog.commit_s"] = tr.total("catalog.commit")
    L["catalog.write_calls"] = float(tr.count("catalog.write"))
    L["frontier.final_flush_s"] = tr.total("frontier.flush")
    read_s = 0.0
    for i, s in enumerate(tr.spans):
        if s["name"] != "frontier.resume" or s["end"] is None:
            continue
        kids = [
            c["start"] for c in tr.spans
            if c["parent"] == i and c["name"] == "frontier.round"
        ]
        read_s += (min(kids) if kids else s["end"]) - s["start"]
    L["catalog.read_s"] = read_s
    n_rounds = tr.count("frontier.round")
    L["frontier.rounds"] = float(n_rounds)
    ev = os.path.join(run.run_dir, "eventlog")
    m, jobs = event_log_metrics(ev, run.windows)
    L.update(m)
    L["frontier.driver_gap_s"] = max(0.0, sum(run.ops) - L["exec.job_busy_s"])
    rounds = tr.intervals("frontier.round")
    in_rounds = [
        (max(a, ra), min(b, rb))
        for a, b in jobs for ra, rb in rounds if a < rb and b > ra
    ]
    L["frontier.plan_build_s"] = max(
        0.0, sum(b - a for a, b in rounds) - union_length(in_rounds)
    )
    L["frontier.jobs_per_round"] = (
        sum(1 for a, _b in jobs if any(ra <= a <= rb for ra, rb in rounds))
        / n_rounds if n_rounds else 0.0
    )
    udf = {"eval_s": 0.0, "arrow_bytes_in": 0.0, "arrow_bytes_out": 0.0}
    for k in list(L):
        for suffix in udf:
            if k.startswith("udf.") and k.endswith("." + suffix):
                udf[suffix] += L[k]
    L.update({f"udf.{k}": v for k, v in udf.items()})
