"""Work-directory layout, host sizing and the cached benchmark inputs.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
checkout it runs from:

- ``data/`` keeps inputs across runs. Each entry is keyed by a hash of the
  code that produced it, so an A/B between two commits never reuses the
  other side's corpus (a corpus holds ``canonical_url`` values computed by
  the commit's own ``canonicalize_url``).
- ``run-<pid>/`` is one run's scratch: ``TMPDIR`` (so ``utils.materialize``
  and the catalogs land here), Spark's local dirs, and the event log. It is
  deleted when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

WORK = ".perfbench_work"
CRAWL_SCALE = 0.1  # documents table scale behind the page corpus
QUERY_SCALE = 0.01  # scale of the tables the query pack reads
N_HOSTS = 500
EXPLODE = 64
HTML_PAD = 32
SEED_KEEP_OF = 4  # a seed keeps 3 of every 4 generated start URLs

HERE = os.path.dirname(os.path.abspath(__file__))


def code_key(*parts: str) -> str:
    """Short hash over file contents (parts that are file paths) and
    literal strings (the other parts)."""
    h = hashlib.sha256()
    for p in parts:
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
        else:
            h.update(p.encode())
    return h.hexdigest()[:16]


def host_spec() -> dict:
    """vCPUs and MemTotal of this host, as the benchmark sees them."""
    with open("/proc/meminfo") as f:
        mem_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    return {
        "vcpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
    }


def heap_mb(mem_total_mb: int) -> int:
    """Driver heap: 60% of physical memory, capped at 4 GiB so the
    benchmark stays small on a shared host."""
    return min(4096, int(mem_total_mb * 0.6))


def fit_host(root: str, run_dir: str, trace: bool) -> dict:
    """Set the environment the engine reads before ``get_spark`` runs.

    Sizes the session to this host (cores = vCPUs, heap from MemTotal),
    puts the checkout on the Python workers' path, and keeps every scratch
    write inside ``run_dir``."""
    spec = host_spec()
    heap = heap_mb(spec["mem_total_mb"])
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spec["vcpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM's own temp files and perf-data file would otherwise go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{ev}",
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.compress=false",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {**spec, "heap_mb": heap, "cores": spec["vcpus"]}


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    n = size = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                size += os.lstat(os.path.join(base, name)).st_size
            except FileNotFoundError:
                continue
            n += 1
    return n, size


def remove_stale_runs(work: str) -> None:
    """Delete ``run-<pid>`` dirs left by runs whose process is gone."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        if name.startswith("run-"):
            pid = name[4:]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def _publish(build, final: str) -> None:
    """Build into a temp dir next to ``final`` and rename it into place."""
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)


def tables_dir(root: str, scale: float) -> tuple[str, bool]:
    """Path of the generated tables at ``scale``; (path, cache_hit)."""
    from perfbench import datagen

    key = code_key(os.path.join(HERE, "datagen.py"), f"scale={scale}")
    path = os.path.join(root, WORK, "data", f"tables-{key}")
    hit = os.path.isdir(path)
    _publish(lambda d: datagen.write_tables(d, scale), path)
    return path, hit


def corpus_key(root: str, tables: str) -> str:
    pkg = os.path.join(root, "logcrawler_spark")
    return code_key(
        os.path.basename(tables),
        os.path.join(pkg, "sources", "pages.py"),
        os.path.join(pkg, "functions", "urls.py"),
        f"hosts={N_HOSTS} explode={EXPLODE} pad={HTML_PAD}",
    )


def corpus_dir(spark, root: str, tables: str) -> tuple[str, bool]:
    """The page corpus (parquet, with ``canonical_url`` stored at ingest,
    as ``bench.py`` builds it), the full generated seed list, and an
    unpadded twin of the pages for the simulator. (path, cache_hit)."""
    path = os.path.join(
        root, WORK, "data", f"corpus-{corpus_key(root, tables)}"
    )
    hit = os.path.isdir(path)

    def build(d: str) -> None:
        from pyspark.sql import functions as F

        from logcrawler_spark.functions.urls import canonicalize_url
        from logcrawler_spark.sources.pages import (
            generate_pages,
            generate_seeds,
        )

        generate_pages(
            spark, tables, N_HOSTS, explode_factor=EXPLODE, html_pad=HTML_PAD
        ).withColumn("canonical_url", canonicalize_url(F.col("url"))).repartition(
            64
        ).write.parquet(f"{d}/pages")
        # the simulator reads html without the filler blocks: same urls,
        # text and links (the filler is markup the extraction skips)
        generate_pages(
            spark, tables, N_HOSTS, explode_factor=EXPLODE, html_pad=0
        ).select("url", "warc_ts", "html").coalesce(8).write.parquet(
            f"{d}/sim_pages"
        )
        generate_seeds(
            spark, tables, N_HOSTS, explode_factor=EXPLODE
        ).coalesce(1).write.parquet(f"{d}/seeds")

    _publish(build, path)
    return path, hit


def choose_seeds(corpus: str, seed: int, out_path: str) -> int:
    """Write the start URLs for ``seed`` (3 of every 4 generated seeds,
    chosen by a CRC of seed and URL) to ``out_path``; returns the count."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tbl = ds.dataset(f"{corpus}/seeds", format="parquet").to_table()
    keep = [
        zlib.crc32(f"{seed}:{u}".encode()) % SEED_KEEP_OF != 0
        for u in tbl.column("url").to_pylist()
    ]
    out = tbl.filter(pa.array(keep))
    pq.write_table(out, out_path)
    return out.num_rows
