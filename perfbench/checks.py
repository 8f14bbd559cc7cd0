"""Output checks against the repository's oracles.

- A crawl's schedule must equal ``oracles.frontier_sim.simulate_crawl`` on
  the same pages, seeds and robots rules, row for row: round, host,
  priority, canonical URL, host rank and politeness slot.
- A query leaf must equal its DuckDB ``oracle_sql()`` over the same
  parquet, compared as an order-insensitive multiset of normalized rows
  (the contract of ``tests/test_oracle_parity.py``). The two leaves whose
  oracle is a Python walk stored as a fixture are compared with that walk
  directly.

The simulator is fed only the pages whose URL (canonicalized by the
simulator itself) the engine scheduled. That is exact: if the two
schedules are equal, every page the simulator needed was present, so it
ran as it would have on the whole corpus; if they differ, the check fails
either way.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd

SCHEDULE_COLS = [
    "round", "host", "priority", "canonical_url", "host_rank", "slot_ms",
]


def schedule_rows(schedule_df) -> list[tuple]:
    """The engine's schedule in the simulator's tuple layout and order."""
    pdf = schedule_df.select(*SCHEDULE_COLS).toPandas()
    rows = [
        (int(r[0]), r[1], float(r[2]), r[3], int(r[4]), int(r[5]))
        for r in pdf.itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda t: (t[0], t[1], -t[2], t[3]))
    return rows


def fingerprint(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def sim_canonical_pages(corpus: str, cache: str) -> pd.DataFrame:
    """(canonical, url, warc_ts, html) of the unpadded corpus twin, with
    the canonical URL computed by the simulator; cached as parquet."""
    from logcrawler_spark.oracles.frontier_sim import canonicalize

    if os.path.exists(cache):
        return pd.read_parquet(cache)
    pdf = pd.read_parquet(f"{corpus}/sim_pages")
    pdf["canonical"] = [canonicalize(u) for u in pdf["url"]]
    tmp = f"{cache}.tmp-{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, cache)
    return pdf


def check_crawl(
    got: list[tuple],
    pages: pd.DataFrame,
    seeds_path: str,
    robots_pdf: pd.DataFrame,
    rounds: int,
    budget: int,
    ttl_rounds: int | None,
    cache_path: str,
) -> tuple[bool, str]:
    """Compare an engine schedule with the simulator. A passing expected
    fingerprint is cached at ``cache_path`` (keyed by the caller on code,
    inputs and knobs), so a repeated seed skips the simulation."""
    fp = fingerprint(got)
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            want = json.load(f)
        ok = want["fingerprint"] == fp
        return ok, "" if ok else (
            f"schedule fingerprint {fp[:12]} != cached oracle"
            f" {want['fingerprint'][:12]} ({len(got)} vs {want['rows']} rows)"
        )
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl

    scheduled = {r[3] for r in got}
    sub = pages[pages["canonical"].isin(scheduled)]
    sim = simulate_crawl(
        sub[["url", "warc_ts", "html"]],
        pd.read_parquet(seeds_path),
        robots_pdf,
        rounds=rounds,
        budget=budget,
        ttl_rounds=ttl_rounds,
    )
    want = [
        (int(t[0]), t[1], float(t[2]), t[3], int(t[4]), int(t[5]))
        for t in sim.schedule
    ]
    if want != got:
        diff = next(
            (i for i, (a, b) in enumerate(zip(got, want)) if a != b),
            min(len(got), len(want)),
        )
        return False, (
            f"schedule differs from simulator at row {diff}:"
            f" {len(got)} engine rows vs {len(want)} oracle rows"
        )
    tmp = f"{cache_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"fingerprint": fp, "rows": len(want)}, f)
    os.replace(tmp, cache_path)
    return True, ""


# -- query leaves -----------------------------------------------------------
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if not isinstance(v, (list, tuple, dict, bytes)) and pd.isna(v):
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "tolist"):
        return tuple(v.tolist())
    return v


def normalize(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def _python_oracle(name: str, sf_dir: str, con) -> pd.DataFrame | None:
    """Expected rows of the leaves whose oracle is a Python walk stored as
    a parquet fixture for one scale only. Recomputed here for ``sf_dir``
    and read back through DuckDB with the fixture writer's dtypes, as the
    leaf's own ``oracle_sql()`` reads its fixture."""
    import tempfile

    from logcrawler_spark.oracles.imagesim import stride_log_stats_py
    from logcrawler_spark.oracles.treesim import flatten_tree_py, make_tree

    if name == "q_tree_flatten":
        ids = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        ids = sorted(int(i) for i in ids["doc_id"] if i < 80)
        rows = [r for i in ids for r in flatten_tree_py(i, make_tree(i))]
        pdf = pd.DataFrame(
            rows,
            columns=["doc_id", "node_id", "parent_id", "depth", "path", "state"],
        ).astype({"depth": "int32", "parent_id": "float64"}).astype(
            {"parent_id": "Int64"}
        )
    elif name == "q_image_stats":
        path = os.path.join(
            tempfile.gettempdir(), f"imglog_q_{os.path.basename(sf_dir)}.log"
        )
        with open(path, "rb") as f:
            pdf = pd.DataFrame(stride_log_stats_py(f.read(), 256, 16, 8)).astype({
                "frame_number": "int64", "width": "int32", "height": "int32",
                "n_pix": "int64", "sum_y": "int64", "sum_lap": "int64",
                "sum_lap_sq": "int64",
            })
    else:
        return None
    fixture = os.path.join(tempfile.gettempdir(), f"oracle-{name}.parquet")
    pdf.to_parquet(fixture, index=False)
    return con.sql(f"SELECT * FROM read_parquet('{fixture}')").df()


def check_leaf(name: str, got: pd.DataFrame, sf_dir: str, con) -> tuple[bool, str]:
    """Compare one leaf's Spark result with its oracle."""
    import __spark_entry__ as entry_mod

    want = _python_oracle(name, sf_dir, con)
    if want is None:
        sql = entry_mod.oracle_sql().get(name)
        if sql is None:
            return False, f"{name}: no oracle"
        want = con.sql(sql).df()
    got_cols, got_rows = normalize(got)
    want_cols, want_rows = normalize(want)
    if got_cols != want_cols:
        return False, f"{name}: columns {got_cols} != {want_cols}"
    if got_rows != want_rows:
        return False, (
            f"{name}: {len(got_rows)} rows differ from the oracle's"
            f" {len(want_rows)}"
        )
    return True, ""


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
