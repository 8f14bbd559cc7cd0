#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north rule).

No real cluster exists in this sandbox, so per BASELINE.md the N->4N
executor criterion is evidenced by running the IDENTICAL job at two local
parallelism levels on the same input and reporting throughput at both plus
scaling efficiency = (T_4N / T_N) / 4.

Two workloads, each in fresh subprocess JVMs, ``repeats`` runs per level,
medians reported (single local runs vary ~2x with background load):

1. ``crawl``  — the full frontier pipeline (bench.py BENCH_CRAWL_ONLY).
2. ``kernel`` — the CPU-bound MinHash signature kernel (BENCH_KERNEL):
   embarrassingly parallel, isolates compute scaling from the pipeline's
   driver-orchestration floor.

Host caveat (measured): this sandbox is a Firecracker microVM reporting 32
vCPUs, but >8 concurrent threads REGRESS even pure-codegen kernels (load
average ~17 at idle CPU) — the hypervisor oversubscribes vCPUs. The N->4N
claim therefore uses local[2] -> local[8]; local[32] numbers are reported
for transparency.

Writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEVELS = [2, 8, 32]
REPEATS = int(os.environ.get("SCALING_REPEATS", "3"))


def run_once(cpus: int, kernel: bool) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        BENCH_EXPLODE=os.environ.get("BENCH_EXPLODE", "1024"),
        BENCH_ROUNDS=os.environ.get("BENCH_ROUNDS", "2"),
        BENCH_BUDGET=os.environ.get("BENCH_BUDGET", "256"),
        BENCH_HTML_PAD=os.environ.get("BENCH_HTML_PAD", "32"),
    )
    if kernel:
        env["BENCH_KERNEL"] = "1"
    else:
        env["BENCH_CRAWL_ONLY"] = "1"
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=1200,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    # INTERLEAVED legs (VERDICT r05 item 4): every repeat cycles through
    # all (workload, level) cells — A/B/A/B, never sequential blocks — so
    # slow host-minutes hit every cell evenly instead of biasing whichever
    # block they land on; the kernel rows double as the in-run noise
    # control (its code is parallelism-invariant).
    results: dict[str, dict[int, list[dict]]] = {
        "crawl": {c: [] for c in LEVELS},
        "kernel": {c: [] for c in LEVELS},
    }
    for r in range(REPEATS):
        for workload in ["crawl", "kernel"]:
            for cpus in LEVELS:
                res = run_once(cpus, workload == "kernel")
                results[workload][cpus].append(res)
                print(
                    f"{workload} local[{cpus}] run {r + 1}/{REPEATS}: "
                    f"{res['value']} {res['unit']} ({res['total_sec']}s)",
                    file=sys.stderr,
                )

    med = {
        w: {
            c: statistics.median(x["value"] for x in runs)
            for c, runs in by_level.items()
        }
        for w, by_level in results.items()
    }
    sample = results["crawl"][LEVELS[0]][0]

    def eff(w: str, lo: int, hi: int) -> float:
        return (med[w][hi] / med[w][lo]) / (hi / lo)

    lines = [
        "# BENCH — measured baseline & scaling evidence",
        "",
        f"Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} "
        f"by BENCH/run_scaling.py ({REPEATS} repeats per level, medians, "
        "legs interleaved A/B/A/B across levels per repeat).",
        "",
        "## Workloads",
        "",
        "1. **crawl** — full frontier pipeline (canonicalize -> batch dedup",
        "   -> exact URL-seen anti-join ->",
        "   robots broadcast join ->",
        "   per-host politeness rank -> broadcast fetch join over the",
        f"   {sample['explode_factor']}x-amplified parquet corpus ->",
        "   vectorized extract + outlink expansion), "
        f"sf={sample['sf']}, rounds={sample['rounds']}, "
        f"budget={sample['budget']};",
        f"   {sample['urls_processed']} frontier URLs processed, "
        f"{sample['urls_scheduled']} scheduled per run.",
        "2. **kernel** — MinHash signature stage (shingle explode + 8x md5",
        "   + map-side partial min-agg) over 320k documents: isolates",
        "   CPU-kernel scaling from the pipeline's driver-orchestration",
        "   floor.",
        "",
        "## Throughput by parallelism (same input, identical job)",
        "",
        "| parallelism | crawl median URLs/s | kernel median docs/s |",
        "|---|---|---|",
    ]
    for c in LEVELS:
        lines.append(
            f"| local[{c}] | {med['crawl'][c]:.0f} | {med['kernel'][c]:.0f} |"
        )
    lines += [
        "",
        "## Scaling efficiency (north rule: >= 0.8 from N to 4N)",
        "",
        "| workload | N -> 4N | speedup | efficiency |",
        "|---|---|---|---|",
        f"| kernel | local[2] -> local[8] | "
        f"{med['kernel'][8] / med['kernel'][2]:.2f}x | {eff('kernel', 2, 8):.2f} |",
        f"| crawl | local[2] -> local[8] | "
        f"{med['crawl'][8] / med['crawl'][2]:.2f}x | {eff('crawl', 2, 8):.2f} |",
        f"| kernel | local[8] -> local[32] | "
        f"{med['kernel'][32] / med['kernel'][8]:.2f}x | {eff('kernel', 8, 32):.2f} |",
        f"| crawl | local[8] -> local[32] | "
        f"{med['crawl'][32] / med['crawl'][8]:.2f}x | {eff('crawl', 8, 32):.2f} |",
        "",
        "## Host caveat (why N=2, 4N=8)",
        "",
        "This sandbox is a single Firecracker microVM (kernel 6.18.5-fc)",
        "reporting 32 vCPUs, but beyond ~8 concurrent threads even pure",
        "WholeStageCodegen kernels REGRESS (load average ~17 while /proc/stat",
        "shows idle), i.e. the hypervisor oversubscribes vCPUs. Scaling past",
        "8 threads measures the hypervisor, not the engine, so the N->4N",
        "evidence uses local[2] -> local[8]; local[32] rows are kept for",
        "transparency. On a real multi-executor cluster the per-round",
        "driver-orchestration floor (1 materializing job/round in the",
        "fused default + one final flush, constant) additionally amortizes",
        "over much larger per-round batches.",
        "",
        "## Raw runs",
        "",
        "```json",
    ]
    for w in ["crawl", "kernel"]:
        for c in LEVELS:
            for r in results[w][c]:
                lines.append(json.dumps(r))
    lines += ["```", ""]
    # the hand-maintained decomposition evidence survives regeneration
    floor = os.path.join(REPO, "BENCH", "FLOOR.md")
    if os.path.exists(floor):
        with open(floor) as f:
            lines += [f.read()]
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "medians": med,
                "eff_kernel_2_to_8": round(eff("kernel", 2, 8), 3),
                "eff_crawl_2_to_8": round(eff("crawl", 2, 8), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
