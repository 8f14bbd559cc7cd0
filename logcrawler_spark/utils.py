"""Small plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


_MAT_DIR: str | None = None
_MAT_SEQ = 0


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute and pin a DataFrame via a scratch-parquet round trip.

    Used where a derived column is expensive (minhash signatures, pandas-UDF
    fingerprints) AND the plan references it multiple times (self-joins,
    band explosion): Catalyst's CollapseProject would otherwise inline the
    expression into every consumer and recompute it per reference (measured
    16x slowdown on MinHash-LSH). On a cluster this is where the signature
    table would be persisted as a real artifact for reuse across runs.

    Deliberately NOT ``localCheckpoint``: its Dataset->RDD conversion drops
    WholeStageCodegen and re-evaluates the plan's expressions interpreted,
    measured up to 30x slower at 32 threads (see plans/frontier.py).
    """
    global _MAT_DIR, _MAT_SEQ
    import atexit
    import shutil
    import tempfile

    if _MAT_DIR is None:
        _MAT_DIR = tempfile.mkdtemp(prefix="logcrawler-mat-")
        atexit.register(shutil.rmtree, _MAT_DIR, ignore_errors=True)
    _MAT_SEQ += 1
    path = f"{_MAT_DIR}/m{_MAT_SEQ:05d}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def ensure_min_partitions(
    df: DataFrame,
    n: int | None = None,
    min_split_bytes: int | None = None,
) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than the
    session's parallelism.

    Why: Spark packs small files into few input splits
    (``spark.sql.files.maxPartitionBytes``), so a compute-heavy per-row
    kernel (minhash signatures, simhash, embedding folds, extraction) over
    a small-file table would run on ONE core while 31 idle. At cluster
    scale inputs have enough splits and this is a no-op — the check costs
    one ``getNumPartitions`` on the logical plan, no job.

    ``min_split_bytes`` gates the repartition by *input size* for kernels
    whose per-row cost is small (e.g. one md5 per row): there the exchange
    only pays for itself when a single task would otherwise chew through
    many MB.  When set, the target partition count is derived from the
    on-disk bytes of the backing files (driver-side ``getsize``, no job) as
    ``ceil(bytes / min_split_bytes)``, capped at ``n`` — so tiny local
    inputs skip the shuffle entirely while a 100-TB table still splits.
    Inputs not all backed by local files (or not statable) fall back to
    the unconditional behavior.
    """
    spark = df.sparkSession
    if n is None:
        n = spark.sparkContext.defaultParallelism
    if min_split_bytes is not None:
        import os as _os
        from urllib.parse import unquote

        files = df.inputFiles()
        if files and all(f.startswith("file:") for f in files):
            try:
                total = sum(
                    _os.path.getsize(unquote(f[len("file:"):]))
                    for f in files
                )
                n = min(n, max(1, -(-total // min_split_bytes)))
            except OSError:
                pass  # size unknown -> keep the unconditional target
    if n <= 1:
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
