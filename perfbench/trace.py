"""Per-layer tracing from outside the engine.

Three sources, all enabled only in a traced run:

1. **Spans around public calls.** :class:`Tracer` wraps functions by module
   attribute (``utils.materialize``, ``Catalog`` methods, ``crawl_round``,
   ``finalize_crawl``, ``_commit_round``, ``resume_crawl``) and records
   name, start, end and parent; a span nested in one of the same name is
   not counted twice. The wrappers also keep the latest
   arguments and results of the plan builders (``canonicalize_candidates``,
   ``filter_not_seen``, ``apply_robots``, ``politeness_rank``,
   ``_fetch_extract_plan``, cuckoo ``insert_keys`` / ``delete_keys``) so
   the layers that share one Spark job can be timed as prefix plans.
2. **Prefix plans.** Layers fused into one job cannot be told apart by wall
   clock, so after the last timed operation each captured prefix of the
   round's plan (fetch join, extract, outlinks, canonicalize, probe,
   robots, politeness) runs to a ``noop`` sink, twice, keeping the faster
   run. A layer's time is its prefix's time minus the previous prefix's.
3. **Spark's event log**, parsed after the session stops: task CPU, GC,
   shuffle and scan bytes, job counts, and the SQL metrics of the Python
   nodes (time in Python workers, bytes sent and returned), restricted to
   the timed windows.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans and counters kept in memory; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.captured: dict[str, object] = {}
        self.fetch_plans: dict[int, tuple] = {}
        self._undo: list[tuple[object, str, object]] = []
        self.paused = False
        self.materialize_bytes = 0

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if self.paused:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None,
             "parent": parent}
        )
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def pause(self):
        """Off-clock work (checks, prefix plans) records no spans."""
        was, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = was

    def total(self, name: str, outermost: bool = True) -> float:
        """Summed duration of spans called ``name``; with ``outermost``
        a span nested in another span of the same name is not counted
        twice."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if outermost and self._has_ancestor(s, name):
                continue
            out += s["end"] - s["start"]
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def _has_ancestor(self, span: dict, name: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [
            (s["start"], s["end"])
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def _timed(self, name: str, capture: str | None = None):
        def wrap(fn):
            def inner(*a, **kw):
                if capture and not self.paused:
                    self.captured[capture] = (a, kw, None)
                with self.span(name):
                    return fn(*a, **kw)

            return inner

        return wrap

    def _capture(self, key: str):
        def wrap(fn):
            def inner(*a, **kw):
                out = fn(*a, **kw)
                if not self.paused:
                    self.captured[key] = (a, kw, out)
                return out

            return inner

        return wrap

    def install(self) -> None:
        """Wrap the engine's public entry points by module attribute."""
        from logcrawler_spark import utils
        from logcrawler_spark.catalog import Catalog
        from logcrawler_spark.plans import cuckoo, frontier

        tracer = self

        def wrap_materialize(fn):
            def inner(df):
                with tracer.span("materialize"):
                    out = fn(df)
                if not tracer.paused and utils._MAT_DIR is not None:
                    from perfbench.inputs import dir_usage

                    path = f"{utils._MAT_DIR}/m{utils._MAT_SEQ:05d}"
                    tracer.materialize_bytes += dir_usage(path)[1]
                return out

            return inner

        self._patch(utils, "materialize", wrap_materialize)
        for attr in ("append", "overwrite", "overwrite_local", "append_local",
                     "truncate_tags", "expire_tags", "merge_into", "rebucket"):
            self._patch(Catalog, attr, self._timed("catalog.write"))
        for attr in ("read", "read_tag", "read_at"):
            self._patch(Catalog, attr, self._timed("catalog.read"))
        self._patch(
            frontier, "crawl_round", self._timed("frontier.round", "round")
        )
        self._patch(frontier, "resume_crawl", self._timed("frontier.resume"))
        self._patch(frontier, "_commit_round", self._timed("catalog.commit"))
        self._patch(frontier, "finalize_crawl", self._timed("frontier.flush"))
        self._patch(
            frontier, "_finalize_with_catalog", self._timed("frontier.flush")
        )
        for attr, key in (
            ("canonicalize_candidates", "canonicalize"),
            ("apply_robots", "robots"),
            ("politeness_rank", "politeness"),
            ("build_bloom_table", "bloom_delta"),
        ):
            self._patch(frontier, attr, self._capture(key))
        # in "join" confirm mode the probe pins its output inside the call,
        # so the call's span is the probe's execution time
        for owner, attr in ((frontier, "filter_not_seen"),
                            (cuckoo, "filter_not_seen_cuckoo")):
            self._patch(owner, attr, lambda fn: self._timed("frontier.probe")(
                self._capture("probe")(fn)
            ))
        self._patch(cuckoo, "insert_keys", self._capture("cuckoo_insert"))
        self._patch(cuckoo, "delete_keys", self._capture("cuckoo_delete"))

        def wrap_fetch(fn):
            def inner(pages_c, sched, rnd, *a, **kw):
                out = fn(pages_c, sched, rnd, *a, **kw)
                if not tracer.paused:
                    tracer.fetch_plans[rnd] = (pages_c, sched, out[0])
                return out

            return inner

        self._patch(frontier, "_fetch_extract_plan", wrap_fetch)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def reset_captures(self) -> None:
        self.captured.clear()
        self.fetch_plans.clear()


def _noop_seconds(df, repeat: int = 2) -> float:
    """Fastest of ``repeat`` executions of ``df`` to a ``noop`` sink."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def prefix_layers(tracer: Tracer, sched_write_s: float | None) -> dict:
    """Time the last captured round's plan as cumulative prefixes run to
    ``noop`` sinks; each layer is its prefix minus the previous one.

    The chain follows the fused job of one round: the previous round's
    fetch join, extract and outlink explode (this round's candidates),
    then canonicalize, probe, robots and politeness. ``sched_write_s`` is
    the measured wall time of the real schedule materialize; the write
    layer is that minus the politeness prefix."""
    from pyspark.sql import functions as F

    from logcrawler_spark.extraction import extract_text_and_links

    out = {k: 0.0 for k in (
        "layer.fetch_join_s", "layer.extract_s", "layer.outlink_s",
        "layer.canonicalize_s", "layer.probe_s", "layer.robots_s",
        "layer.politeness_s", "layer.sched_write_s",
    )}
    cap = tracer.captured
    if "politeness" not in cap:
        return out
    chain: list[tuple[str, object]] = []
    # in fused mode a round's candidates are the previous round's lazy
    # fetch plan, so the last round's chain starts at that fetch
    fetch = None
    if tracer.fetch_plans:
        fetch = tracer.fetch_plans.get(max(tracer.fetch_plans) - 1)
    with tracer.pause():
        if fetch is not None:
            pages_c, sched, outlinks = fetch
            joined = pages_c.join(
                F.broadcast(sched.select("canonical_url", "priority")),
                on="canonical_url",
            )
            ex = extract_text_and_links(F.col("html"))
            chain.append(("layer.fetch_join_s", joined))
            chain.append((
                "layer.extract_s",
                joined.select(ex["text"].alias("t"), ex["hrefs"].alias("h")),
            ))
            chain.append(("layer.outlink_s", outlinks))
        if "canonicalize" in cap:
            chain.append(("layer.canonicalize_s", cap["canonicalize"][2]))
        if "probe" in cap:
            probe_out = cap["probe"][2]
            if isinstance(probe_out, tuple):
                # "join" confirm: the call itself ran the probe and pinned it
                # to parquet, so its span is the cumulative time up to and
                # including the probe, and later prefixes start from there
                probe_out = _last_span(tracer, "frontier.probe")
            chain.append(("layer.probe_s", probe_out))
        if "robots" in cap:
            chain.append(("layer.robots_s", cap["robots"][2]))
        chain.append(("layer.politeness_s", cap["politeness"][2]))
        prev = 0.0
        for name, df in chain:
            if isinstance(df, float):
                out[name] = max(0.0, df - prev)
                prev = 0.0
                continue
            t = _noop_seconds(df)
            out[name] = max(0.0, t - prev)
            prev = max(prev, t)
    if sched_write_s is not None:
        out["layer.sched_write_s"] = max(0.0, sched_write_s - prev)
    return out


def _last_span(tracer: Tracer, name: str) -> float:
    spans = tracer.intervals(name)
    return spans[-1][1] - spans[-1][0] if spans else 0.0


def filter_quality(tracer: Tracer) -> dict:
    """Filter positives and false-positive rate of the last captured
    probe, measured off the clock with ``return_flagged=True``.

    A positive is false when its key is not in the filter at probe time:
    all of ``url_seen`` for Bloom; for cuckoo with a TTL, the keys first
    seen after round ``rnd - ttl - 1`` (aged keys leave the filter only
    after the probe). The rate is false positives over candidates whose
    key is not in the filter."""
    from pyspark.sql import functions as F

    from logcrawler_spark.plans import bloom, cuckoo

    out = {
        "bloom.positive_rows": 0, "bloom.fp_rate": 0.0,
        "cuckoo.positive_rows": 0, "cuckoo.fp_rate": 0.0,
    }
    cap, rnd_cap = tracer.captured.get("probe"), tracer.captured.get("round")
    if cap is None or rnd_cap is None or cap[0][2] is None:
        return out
    (cands, seen, table, *_), kw, _ = cap
    state, ttl = rnd_cap[0][0], rnd_cap[1].get("ttl_rounds")
    kind = "cuckoo" if "m_rows" in table.columns else "bloom"
    probe = cuckoo.filter_not_seen_cuckoo if kind == "cuckoo" else bloom.filter_not_seen
    keys = kw.get("key_cols") or ["url_hash"]
    in_filter = state.url_seen
    if ttl is not None:
        # the probing round is state.round_no + 1
        in_filter = in_filter.filter(
            F.col("first_seen_round") > state.round_no - ttl
        )
    in_filter = in_filter.select(*keys).distinct()
    args = {k: v for k, v in kw.items() if k not in ("confirm", "return_flagged")}
    with tracer.pause():
        _unseen, flagged = probe(
            cands, seen, table, **args, return_flagged=True, confirm="join"
        )
        pos = flagged.filter(F.col("__maybe"))
        n_pos = pos.count()
        n_pos_in = pos.join(in_filter, on=keys, how="left_semi").count()
        n_out = flagged.join(in_filter, on=keys, how="left_anti").count()
    out[f"{kind}.positive_rows"] = n_pos
    out[f"{kind}.fp_rate"] = (n_pos - n_pos_in) / n_out if n_out else 0.0
    return out


def filter_prefix_times(tracer: Tracer) -> dict:
    """Maintenance time of the URL-seen filter, from the last round's
    captured plans run to ``noop`` sinks: the Bloom delta build, and the
    cuckoo delete then insert (insert includes the delete it reads)."""
    out = {"bloom.maint_s": 0.0, "cuckoo.delete_s": 0.0, "cuckoo.insert_s": 0.0}
    cap = tracer.captured
    with tracer.pause():
        if "bloom_delta" in cap:
            out["bloom.maint_s"] = _noop_seconds(cap["bloom_delta"][2])
        t_del = 0.0
        if "cuckoo_delete" in cap:
            t_del = _noop_seconds(cap["cuckoo_delete"][2])
            out["cuckoo.delete_s"] = t_del
        if "cuckoo_insert" in cap:
            out["cuckoo.insert_s"] = max(
                0.0, _noop_seconds(cap["cuckoo_insert"][2]) - t_del
            )
    return out


# -- event log -------------------------------------------------------------
_PY_NODES = {
    "FlatMapCoGroupsInPandas": "udf.cogroup",
    "ArrowEvalPython": "udf.arrow_eval",
    "FlatMapGroupsInPandas": "udf.groups",
}
_PY_METRICS = {
    "time to run Python workers": ("eval_s", 1e-3),
    "data sent to Python workers": ("arrow_bytes_in", 1),
    "data returned from Python workers": ("arrow_bytes_out", 1),
}
_WANTED = (
    '{"Event":"SparkListenerTaskEnd"',
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"',
)


def event_log_metrics(
    ev_dir: str, windows: list[tuple[float, float]]
) -> tuple[dict, list[tuple[float, float]]]:
    """Task and SQL metrics from the event log, counting only tasks and
    jobs that started inside one of ``windows`` (epoch seconds); also
    returns the (start, end) of each such job."""
    out = {
        "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
        "scan.bytes_read": 0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.0,
        "exec.jobs": 0, "exec.job_busy_s": 0.0,
    }
    for prefix in set(_PY_NODES.values()):
        for suffix, _scale in _PY_METRICS.values():
            out[f"{prefix}.{suffix}"] = 0
    files = sorted(glob.glob(os.path.join(ev_dir, "*")))
    if not files:
        return out, []
    acc_node: dict[int, tuple[str, str]] = {}

    def walk(plan: dict) -> None:
        prefix = _PY_NODES.get(plan.get("nodeName", ""))
        for m in plan.get("metrics", []):
            if prefix and m["name"] in _PY_METRICS:
                acc_node[m["accumulatorId"]] = (prefix, m["name"])
        for c in plan.get("children", []):
            walk(c)

    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs: dict[int, float] = {}
    busy: list[tuple[float, float]] = []
    with open(files[0]) as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                walk(e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                if inside(e["Submission Time"]):
                    jobs[e["Job ID"]] = e["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                start = jobs.get(e["Job ID"])
                if start is not None:
                    busy.append((start, e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                if not inside(info["Launch Time"]):
                    continue
                tm = e.get("Task Metrics") or {}
                out["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics", {})
                out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                out["shuffle.read_bytes"] += sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                out["scan.bytes_read"] += tm.get("Input Metrics", {}).get(
                    "Bytes Read", 0
                )
                for acc in info.get("Accumulables", []):
                    hit = acc_node.get(acc.get("ID"))
                    if hit is None:
                        continue
                    prefix, name = hit
                    suffix, scale = _PY_METRICS[name]
                    try:
                        out[f"{prefix}.{suffix}"] += float(acc["Update"]) * scale
                    except (KeyError, TypeError, ValueError):
                        continue
    out["exec.jobs"] = len(jobs)
    out["exec.job_busy_s"] = union_length(busy)
    return out, busy


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
