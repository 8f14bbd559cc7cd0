"""Snapshot-committed parquet tables — the sandbox analog of Iceberg.

The production design (SURVEY.md §1.3, §4 R11) targets Iceberg: bucketed
partitioning on ``url_hash``, ``MERGE INTO`` for frontier upserts, snapshot
isolation for all-or-nothing commits (reference analog: delete-output-on-
failure atomicity, ``02_combine_logs.py:156-162``). The Iceberg runtime jar
is not in this image, so this module provides the same API shape over plain
parquet with an atomic manifest commit:

    root/<table>/snap-00001-<uuid>/part-*.parquet   (immutable data dirs)
    root/<table>/HEAD                                (manifest: one data dir
                                                      per line, optional
                                                      ``\\t<tag>``; atomic
                                                      os.replace swap)

Readers resolve HEAD once and read the immutable directories it lists —
writers never mutate a committed directory, so a crash mid-write leaves
HEAD untouched and the table readable (snapshot isolation).

``append`` is a TRUE incremental append (Iceberg-manifest style): it writes
only the delta as a new data dir and commits a manifest referencing old
dirs + new — O(delta) IO, never a rewrite of the table (VERDICT r01 weak
#3). An integer ``tag`` (the crawl round) makes appends idempotent per
tag: re-appending tag N first drops any manifest entries with tag >= N, so
a crashed attempt's partial commit is replaced, not duplicated.

``merge_into`` implements last-writer-wins upsert semantics (reference
analog: ``HashMap::insert`` keeping the last record per frame,
``src/lib.rs:97``; ``bulk_update`` sinks, ``13_calculate_image_stats.py:
109-124``) as merge-on-read: each merge appends O(delta) rows, reads
resolve conflicts by data-dir recency under a TOTAL order (dir seq,
order_col, stable hash of remaining columns), and a compaction pass
rewrites once per ``compact_after`` merges.

On a real cluster this module is swapped for ``df.writeTo(tbl)`` /
``MERGE INTO`` with ``IcebergSparkSessionExtensions``; every call site goes
through this facade so the swap is one module.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class Catalog:
    """A directory of snapshot-committed tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshot plumbing -------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _head_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "HEAD")

    def _read_manifest(self, table: str) -> list[tuple[str, int | None]]:
        """[(data_dir_name, tag)] in commit order; [] if no commit."""
        head = self._head_path(table)
        if not os.path.exists(head):
            return []
        out: list[tuple[str, int | None]] = []
        with open(head) as f:
            for line in f.read().splitlines():
                line = line.strip()
                if not line:
                    continue
                if "\t" in line:
                    name, tag = line.split("\t", 1)
                    out.append((name, int(tag)))
                else:
                    out.append((line, None))
        return out

    def current_dirs(self, table: str) -> list[str]:
        tdir = self._table_dir(table)
        return [os.path.join(tdir, n) for n, _t in self._read_manifest(table)]

    def current_snapshot(self, table: str) -> str | None:
        """Latest data dir (back-compat accessor; tables may span several)."""
        dirs = self.current_dirs(table)
        return dirs[-1] if dirs else None

    def exists(self, table: str) -> bool:
        return bool(self._read_manifest(table))

    def _commit(
        self, table: str, entries: list[tuple[str, int | None]]
    ) -> None:
        """Atomic manifest swap — the all-or-nothing commit point."""
        head = self._head_path(table)
        tmp = head + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            for name, tag in entries:
                f.write(name if tag is None else f"{name}\t{tag}")
                f.write("\n")
        os.replace(tmp, head)  # atomic on POSIX

    def _write_data_dir(self, table: str, df: DataFrame) -> str:
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        n = len([d for d in os.listdir(tdir) if d.startswith("snap-")])
        snap_name = f"snap-{n + 1:05d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(os.path.join(tdir, snap_name))
        return snap_name

    # -- merge-on-read metadata ---------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "MERGE_META")

    def _read_meta(self, table: str) -> dict | None:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_meta(self, table: str, meta: dict) -> None:
        os.makedirs(self._table_dir(table), exist_ok=True)
        p = self._meta_path(table)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)

    def _resolve_merged(
        self, dirs: list[str], meta: dict
    ) -> DataFrame:
        """Merge-on-read LWW resolution: newer data dirs win per key; within
        a dir the greatest order_col wins; remaining ties break on a stable
        hash of the non-key columns — a TOTAL order, so the survivor is
        independent of partitioning/arrival (CLAUDE.md determinism rule)."""
        key_cols = meta["key_cols"]
        order_col = meta.get("order_col")
        parts = [
            self.spark.read.parquet(d).withColumn("__seq", F.lit(i))
            for i, d in enumerate(dirs)
        ]
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        out_cols = [c for c in unioned.columns if c != "__seq"]
        tb_cols = [c for c in out_cols if c not in key_cols]
        order = [F.col("__seq").desc()]
        if order_col:
            order.append(F.col(order_col).desc())
        if tb_cols:
            order.append(F.xxhash64(*tb_cols).desc())
        w = Window.partitionBy(*key_cols).orderBy(*order)
        return (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*out_cols)
        )

    # -- public API (Iceberg-shaped) ---------------------------------------
    def read(self, table: str) -> DataFrame:
        dirs = self.current_dirs(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        meta = self._read_meta(table)
        if meta is not None:
            names = [n for n, _t in self._read_manifest(table)]
            if names != [meta.get("compacted_snap")]:
                return self._resolve_merged(dirs, meta)
        return self.spark.read.parquet(*dirs)

    def tags(self, table: str) -> list[int]:
        """Distinct commit tags (crawl rounds) in order — the table's
        time-travel axis."""
        seen: dict[int, None] = {}
        for _n, t in self._read_manifest(table):
            if t is not None:
                seen[t] = None
        return list(seen)

    def read_tag(self, table: str, tag: int) -> DataFrame | None:
        """Rows of the data dirs committed at EXACTLY ``tag`` (None when
        no such dir exists) — the content a tag-replacing re-append at
        that tag would drop, so writers that must PRESERVE it can union
        it into the replacement (the fused crawl's finalize flush)."""
        entries = [n for n, t in self._read_manifest(table) if t == tag]
        if not entries:
            return None
        tdir = self._table_dir(table)
        return self.spark.read.parquet(
            *[os.path.join(tdir, n) for n in entries]
        )

    def read_at(self, table: str, as_of_tag: int) -> DataFrame:
        """Tag-based time travel (the Iceberg snapshot-as-of analog).

        Returns the table as committed at tag (crawl round) <= ``as_of_tag``:
        untagged base snapshots always participate; tagged appends after
        the requested tag are excluded — a pure manifest filter, no data
        IO beyond the selected immutable dirs. Supported for append-tagged
        tables (the crawl's url_seen/schedule/metrics/lineage); merge-on-
        read tables commit their dirs UNTAGGED, so no historical point is
        identifiable and the call raises rather than silently returning
        current data labeled as historical.
        """
        if self._read_meta(table) is not None:
            raise ValueError(
                f"table {table!r} is merge-on-read: its data dirs carry no"
                " tags, so tag-based time travel cannot reconstruct a past"
                " state — read() returns the current resolved table"
            )
        entries = [
            (n, t)
            for n, t in self._read_manifest(table)
            if t is None or t <= as_of_tag
        ]
        if not entries:
            raise FileNotFoundError(
                f"table {table!r} has no snapshot at or before tag"
                f" {as_of_tag}"
            )
        tdir = self._table_dir(table)
        dirs = [os.path.join(tdir, n) for n, _t in entries]
        return self.spark.read.parquet(*dirs)

    def overwrite(self, table: str, df: DataFrame, n_buckets: int | None = None,
                  bucket_col: str | None = None) -> None:
        """Replace table contents in a new snapshot.

        ``n_buckets``/``bucket_col``: hash-cluster the files by a key column
        (the parquet stand-in for Iceberg ``bucket(url_hash)`` partitioning)
        so later joins/anti-joins on that key shuffle both sides evenly.
        """
        if n_buckets and bucket_col:
            df = df.repartition(n_buckets, F.pmod(F.col(bucket_col), F.lit(n_buckets)))
        snap_name = self._write_data_dir(table, df)
        # overwrite replaces contents VERBATIM: stale merge metadata would
        # re-apply LWW over the new rows and silently drop duplicates.
        # Ordering is crash-safe in BOTH windows: meta is re-pointed at the
        # new snapshot BEFORE the manifest swap (crash between the two
        # leaves the OLD manifest, whose dirs != [new snap], so reads still
        # resolve LWW with the old key_cols — correct old contents); after
        # the swap, manifest == [compacted_snap] and reads are verbatim.
        # Deleting meta after the swap instead would leave a window where
        # the NEW table is silently LWW-deduped.
        meta = self._read_meta(table)
        if meta is not None:
            self._write_meta(table, {**meta, "compacted_snap": snap_name})
        self._commit(table, [(snap_name, None)])

    def overwrite_local(
        self, table: str, rows: list[tuple], schema: str
    ) -> None:
        """Replace a TINY control table (a marker row, a handful of
        counters) with a driver-side pyarrow parquet write — no Spark job.

        The crawl writes such tables (``round_marker``, ``fused_pending``,
        ``crawl_config``); routing a 1-row literal through a full Spark
        write job cost ~0.3-0.4s of fixed job latency per table per round
        at the bench config (r6 durable-floor measurement). The resulting
        file is a plain parquet dir, read by ``read()`` exactly like a
        Spark-written snapshot. ``schema`` uses Spark DDL ("a int, b
        string"); commit semantics match :meth:`overwrite`.
        """
        snap_name = self._write_local_snap(table, rows, schema)
        meta = self._read_meta(table)
        if meta is not None:
            self._write_meta(table, {**meta, "compacted_snap": snap_name})
        self._commit(table, [(snap_name, None)])

    def read_local(self, table: str) -> list[dict]:
        """Rows of a TINY control table as dicts, read driver-side with
        pyarrow — no Spark job (the read twin of :meth:`overwrite_local`).
        """
        import pyarrow.parquet as pq

        dirs = self.current_dirs(table)
        if not dirs:
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshot"
            )
        return [row for d in dirs for row in pq.read_table(d).to_pylist()]

    def append_local(
        self, table: str, rows: list[tuple], schema: str, tag: int
    ) -> None:
        """Tagged-append twin of :meth:`overwrite_local` (same idempotent
        tag-replacement semantics as :meth:`append`)."""
        snap_name = self._write_local_snap(table, rows, schema)
        entries = [
            e for e in self._read_manifest(table)
            if e[1] is None or e[1] < tag
        ]
        self._commit(table, entries + [(snap_name, tag)])

    def _write_local_snap(
        self, table: str, rows: list[tuple], schema: str
    ) -> str:
        """Write ``rows`` as one pyarrow parquet file in a fresh snap dir
        (driver-side, no Spark job); returns the snap name, uncommitted."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "int": pa.int32(),
            "bigint": pa.int64(),
            "long": pa.int64(),
            "string": pa.string(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
        }
        fields = []
        for part in schema.split(","):
            name, typ = part.strip().split()
            fields.append(pa.field(name, _PA[typ.lower()]))
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        tbl = pa.table(
            {f.name: pa.array(list(c), type=f.type)
             for f, c in zip(fields, cols)}
        )
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        n = len([d for d in os.listdir(tdir) if d.startswith("snap-")])
        snap_name = f"snap-{n + 1:05d}-{uuid.uuid4().hex[:8]}"
        ddir = os.path.join(tdir, snap_name)
        os.makedirs(ddir)
        pq.write_table(tbl, os.path.join(ddir, "part-00000.parquet"))
        return snap_name

    def append(self, table: str, df: DataFrame, tag: int | None = None,
               n_buckets: int | None = None,
               bucket_col: str | None = None) -> None:
        """Append ``df`` as a new immutable data dir — O(delta) IO.

        With a ``tag`` (monotone int, e.g. the crawl round), the commit is
        idempotent per tag: manifest entries with tag >= the new tag are
        dropped first, so re-running a crashed round replaces its partial
        append instead of duplicating rows.

        ``n_buckets``/``bucket_col``: hash-cluster the delta's files by the
        key column, keeping the whole table's layout bucket-aligned across
        appends (the Iceberg ``bucket(url_hash)`` stand-in, as in
        :meth:`overwrite`).
        """
        if n_buckets and bucket_col:
            df = df.repartition(
                n_buckets, F.pmod(F.col(bucket_col), F.lit(n_buckets))
            )
        snap_name = self._write_data_dir(table, df)
        entries = self._read_manifest(table)
        if tag is not None:
            entries = [e for e in entries if e[1] is None or e[1] < tag]
        self._commit(table, entries + [(snap_name, tag)])

    def truncate_tags(self, table: str, from_tag: int) -> None:
        """Drop manifest entries tagged >= ``from_tag`` without writing any
        data — a pure manifest commit, zero Spark jobs.

        Crash/mode-switch hygiene for tagged tables whose NEW commit point
        writes no data dir (the fused crawl's pending-fetch marker
        supersedes the eager pending_candidates rows and vice versa): the
        idempotent-append path clears stale tags by appending, which needs
        a frame to write; this clears them by manifest filter alone. No-op
        when the table doesn't exist or nothing matches."""
        entries = self._read_manifest(table)
        keep = [e for e in entries if e[1] is None or e[1] < from_tag]
        if entries and keep != entries:
            self._commit(table, keep)

    def expire_tags(self, table: str, before_tag: int) -> None:
        """Drop manifest entries tagged < ``before_tag`` (untagged entries
        kept) — the mirror of :meth:`truncate_tags`, for tables whose old
        tags become stale by definition once a newer commit point lands
        (the fused crawl's per-round pending marker). Manifest-only, zero
        Spark jobs; no-op when nothing matches."""
        entries = self._read_manifest(table)
        keep = [e for e in entries if e[1] is None or e[1] >= before_tag]
        if entries and keep != entries:
            self._commit(table, keep)

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        key_cols: list[str],
        order_col: str | None = None,
        compact_after: int = 16,
    ) -> None:
        """MERGE INTO: upsert ``source`` by ``key_cols``, last-writer-wins —
        O(delta) per call (reference semantics: ``src/lib.rs:97``,
        ``13_calculate_image_stats.py:109-124``).

        When both target and source hold a key, the source row wins; among
        duplicate source rows, the greatest ``order_col`` wins, remaining
        ties broken by a stable hash of the non-key columns (a TOTAL order —
        the survivor never depends on partition-arrival order).

        Write path is merge-on-read (the Iceberg MOR analog): each call
        writes ONLY the source rows as a new immutable data dir + merge
        metadata; conflicts resolve at read time by data-dir recency. Once
        the manifest exceeds ``compact_after`` dirs, the resolved table is
        compacted back to a single dir — copy-on-write cost amortized over
        many O(delta) merges, after which reads skip resolution entirely.
        """
        meta = self._read_meta(table) or {
            "key_cols": key_cols,
            "order_col": order_col,
        }
        if meta["key_cols"] != key_cols or meta.get("order_col") != order_col:
            names = [n for n, _t in self._read_manifest(table)]
            if names == [meta.get("compacted_snap")]:
                # fully compacted (e.g. just overwritten): contents are
                # verbatim, no pending resolution depends on the old keys —
                # the table may be re-keyed
                meta = {"key_cols": key_cols, "order_col": order_col}
            else:
                raise ValueError(
                    f"merge keys for {table!r} differ from the table's merge"
                    f" metadata {meta}"
                )
        self._write_meta(table, meta)
        snap_name = self._write_data_dir(table, source)
        entries = self._read_manifest(table) + [(snap_name, None)]
        self._commit(table, entries)
        if len(entries) > compact_after:
            self.compact(table)

    def rebucket(
        self,
        table: str,
        n_buckets: int,
        bucket_col: str,
        up_to_tag: int | None = None,
    ) -> None:
        """Rewrite committed data dirs hash-clustered at ``n_buckets`` —
        the STORAGE side of a bucket-count-policy step-up (r4): after the
        membership filter re-buckets, the table's files migrate to the
        same pmod layout so probe-side buckets keep a bounded file set.

        All dirs with tag <= ``up_to_tag`` (default: the max committed
        tag) plus untagged dirs consolidate into ONE dir carrying
        ``up_to_tag``. Safe with the crawl's tagged-append idempotency:
        resume only ever re-appends tags ABOVE the round marker, and the
        tag filter (``e.tag < new_tag``) keeps the consolidated dir.
        Trade (documented, the Iceberg snapshot-expiry analog):
        ``read_at`` time travel below the consolidation tag is collapsed
        — those per-round dirs no longer exist. Refuses merge-on-read
        tables (their dirs are resolution inputs, not plain rows).
        """
        if self._read_meta(table) is not None:
            raise ValueError(
                f"rebucket({table!r}): merge-on-read tables resolve by dir"
                " recency — use compact() first"
            )
        entries = self._read_manifest(table)
        tags = [t for _n, t in entries if t is not None]
        if up_to_tag is None:
            up_to_tag = max(tags, default=None)
        merge = [
            (n, t)
            for n, t in entries
            if t is None or (up_to_tag is not None and t <= up_to_tag)
        ]
        if not merge:
            return
        keep = [e for e in entries if e not in merge]
        tdir = self._table_dir(table)
        df = self.spark.read.parquet(
            *[os.path.join(tdir, n) for n, _t in merge]
        )
        df = df.repartition(
            n_buckets, F.pmod(F.col(bucket_col), F.lit(n_buckets))
        )
        snap_name = self._write_data_dir(table, df)
        # manifest swap is the commit point; the merged dirs become
        # unreferenced. They are NOT deleted here: lazy DataFrames handed
        # out by earlier read()s (e.g. the resume path's url_seen frame)
        # captured the old file listing and would hit FileNotFound mid-job.
        # Reclaim is an explicit maintenance step — see :meth:`vacuum`
        # (the Iceberg expire-snapshots retention analog, ADVICE r04).
        self._commit(table, [(snap_name, up_to_tag)] + keep)

    def vacuum(self, table: str) -> list[str]:
        """Delete data dirs no longer referenced by the table's manifest,
        reclaiming the orphans left by :meth:`rebucket` / :meth:`compact` /
        :meth:`overwrite` rewrites — repeated bucket-policy step-ups over a
        long crawl would otherwise accumulate full stale copies of
        url_seen on disk.

        Run this as an explicit maintenance step once no reader of
        pre-rewrite snapshots remains (snapshot-isolation retention: a lazy
        DataFrame from an earlier ``read()`` still lists the old files),
        and with NO CONCURRENT WRITER on the table: append/overwrite write
        their data dir BEFORE the manifest commit, so a vacuum racing an
        in-flight write would delete the about-to-be-committed dir
        (ADVICE r05 — safe under this module's single-process contract).
        Returns the deleted dir paths; best-effort per dir.
        """
        import shutil

        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        referenced = {n for n, _t in self._read_manifest(table)}
        deleted = []
        for name in os.listdir(tdir):
            if name.startswith("snap-") and name not in referenced:
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
                deleted.append(os.path.join(tdir, name))
        return deleted

    def compact(self, table: str) -> None:
        """Rewrite a merged table's resolved rows into one data dir; reads
        then skip merge-on-read resolution until the next merge."""
        meta = self._read_meta(table)
        if meta is None or len(self.current_dirs(table)) <= 1:
            return
        # the resolved frame is computed from the OLD dirs while writing the
        # new one; the manifest swap after the write is the commit point
        snap_name = self._write_data_dir(table, self.read(table))
        self._commit(table, [(snap_name, None)])
        self._write_meta(table, {**meta, "compacted_snap": snap_name})
