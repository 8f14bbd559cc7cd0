#!/usr/bin/env python3
"""Frontier benchmark: one workload, one seed, one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_fresh --seed 1 \\
        --seconds 20 --trace 0

Workloads: ``crawl_fresh`` and ``recrawl_cron`` (see
``perfbench/README.md``). With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` the per-layer metrics. The last
line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
progress, host facts and errors go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "urls_per_s": "URL/s",
    "scheduled_per_s": "URL/s",
    "worker_rss_max_mb": "MB",
}
_LEAF_METRICS = [
    f"query.{n}_s" for n in (
        "q_pricing_summary", "q_merge_join_large", "q_top_revenue_orders",
        "q_asof_nearest", "q_politeness_window", "q_dedup_exact",
        "q_minhash_lsh_pairs", "q_ann_topk_bruteforce", "q_text_stats",
        "q_corpus_curation", "q_image_stats", "q_tree_flatten",
    )
]
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.corpus_s": "s",
    "sources.corpus_cache_hit": "bool",
    "frontier.rounds": "count",
    "frontier.plan_build_s": "s",
    "frontier.jobs_per_round": "count",
    "frontier.driver_gap_s": "s",
    "frontier.final_flush_s": "s",
    "funnel.raw": "count",
    "funnel.deduped": "count",
    "funnel.scheduled": "count",
    "funnel.fetched": "count",
    "funnel.bytes_extracted": "B",
    "funnel.join_rounds": "count",
    "layer.fetch_join_s": "s",
    "layer.extract_s": "s",
    "layer.outlink_s": "s",
    "layer.canonicalize_s": "s",
    "layer.probe_s": "s",
    "layer.robots_s": "s",
    "layer.politeness_s": "s",
    "layer.sched_write_s": "s",
    "bloom.positive_rows": "count",
    "bloom.fp_rate": "fraction",
    "bloom.table_bytes": "B",
    "bloom.maint_s": "s",
    "cuckoo.positive_rows": "count",
    "cuckoo.fp_rate": "fraction",
    "cuckoo.insert_s": "s",
    "cuckoo.delete_s": "s",
    "cuckoo.table_bytes": "B",
    "udf.eval_s": "s",
    "udf.arrow_bytes_in": "B",
    "udf.arrow_bytes_out": "B",
    "udf.cogroup.eval_s": "s",
    "udf.cogroup.arrow_bytes_in": "B",
    "udf.cogroup.arrow_bytes_out": "B",
    "udf.arrow_eval.eval_s": "s",
    "udf.arrow_eval.arrow_bytes_in": "B",
    "udf.arrow_eval.arrow_bytes_out": "B",
    "udf.groups.eval_s": "s",
    "udf.groups.arrow_bytes_in": "B",
    "udf.groups.arrow_bytes_out": "B",
    "catalog.read_s": "s",
    "catalog.commit_s": "s",
    "catalog.write_calls": "count",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.bytes_per_url": "B/URL",
    "materialize.calls": "count",
    "materialize.s": "s",
    "materialize.bytes": "B",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "scan.bytes_read": "B",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.jobs": "count",
    "exec.job_busy_s": "s",
    **{m: "s" for m in _LEAF_METRICS},
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _reference_path(root: str, workload: str, seed: int) -> str:
    """Where an untraced run leaves its op median for the traced run of
    the same workload, seed and code (the tracing-overhead reference)."""
    from perfbench import inputs

    pkg = os.path.join(root, "logcrawler_spark")
    key = inputs.code_key(
        *sorted(
            os.path.join(base, f)
            for base, _d, files in os.walk(pkg)
            for f in files if f.endswith(".py")
        ),
        f"{workload} seed={seed}",
    )
    return os.path.join(root, inputs.WORK, "data", "untraced", f"{key}.json")


def main() -> int:
    args = _parse()
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "logcrawler_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        _log("run from the root of a checkout of the engine")
        return 2
    sys.path.insert(0, root)
    from perfbench import inputs, procs, workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    work = os.path.join(root, inputs.WORK)
    inputs.remove_stale_runs(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    before = inputs.dir_usage(run_dir)
    host = inputs.fit_host(root, run_dir, bool(args.trace))
    import pyspark

    host["pyspark"] = pyspark.__version__
    _log(f"host {json.dumps(host)}")

    run = workloads.Run(root, run_dir, args.seed, args.seconds,
                        bool(args.trace))
    from logcrawler_spark.session import get_spark

    t0 = time.monotonic()
    run.spark = get_spark(
        host["cores"], f"perfbench-{args.workload}",
        shuffle_partitions=max(host["cores"], 8),
    )
    run.setup["session.start_s"] = time.monotonic() - t0
    try:
        with procs.WorkerRss() as rss:
            workloads.WORKLOADS[args.workload](run)
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()
        procs.stop_spark(run.spark)
    if run.tracer is not None and run.ops:
        run.attempt("event log", lambda: workloads.span_layers(run))

    # scratch lifecycle: everything the run wrote under run_dir goes, and
    # the run dir must be back to its pre-run usage
    scratch = inputs.dir_usage(run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    after = inputs.dir_usage(run_dir)
    _log(f"scratch: {scratch[0]} files, {scratch[1]} bytes removed")
    if after != before:
        run.fail(f"scratch not cleaned: {after} vs {before} before the run")

    if not run.ops:
        _log("no operation completed; no result")
        for e in run.errors:
            _log(e)
        return 1

    setup = (
        run.setup.get("session.start_s", 0.0)
        + run.setup.get("sources.corpus_s", 0.0)
        + run.setup.get("session.warmup_s", 0.0)
        + (statistics.median(run.prep) if run.prep else 0.0)
    )
    # rates are the mean work of an operation over the median operation
    # time, so one operation slowed by the host does not move them
    op_p50 = statistics.median(run.ops)
    n_ops = len(run.ops)
    e2e = {
        "setup_s": setup,
        "op_p50_s": op_p50,
        "urls_per_s": run.urls_raw / n_ops / op_p50,
        "scheduled_per_s": run.urls_scheduled / n_ops / op_p50,
        "worker_rss_max_mb": rss.peak_mb,
    }
    ref = _reference_path(root, args.workload, args.seed)
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({k: v for k, v in run.setup.items() if k in PER_LAYER})
        layer.update({k: v for k, v in run.layer.items() if k in PER_LAYER})
        layer["trace.op_p50_s"] = op_p50
        if os.path.exists(ref):
            with open(ref) as f:
                layer["trace.overhead_s"] = op_p50 - json.load(f)["op_p50_s"]
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]}
                   for k, v in layer.items()}
    else:
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        with open(ref, "w") as f:
            json.dump({"op_p50_s": op_p50}, f)
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "ops": [round(t, 3) for t in run.ops],
        "steal_s": [round(t, 2) for t in run.steal],
        "urls_raw": run.urls_raw, "urls_scheduled": run.urls_scheduled,
        "error_rate": run.failed / max(run.attempted, 1),
        "setup_parts": run.setup, "errors": run.errors[:5],
        **{k: round(v, 4) for k, v in e2e.items()},
    }
    _log(f"summary {json.dumps(summary)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
