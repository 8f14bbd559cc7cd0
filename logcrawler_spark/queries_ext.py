"""Extended operator pack: as-of join, theta/overlap joins, politeness
windows, dedup family, similarity search, text analysis, multimodal
plumbing, SURT canonicalization, and the crawl round itself.

Float discipline for oracle parity: every accumulation is either exact
integer arithmetic or a left fold identical to DuckDB's
``list_reduce(list_prepend(0.0, ...))`` (bit-identical IEEE ops in both
engines), so even double outputs hash-match without tolerance.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logcrawler_spark.queries import _t, register

# ------------------------------------------------------------- as-of join
@register(
    "q_asof_nearest",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events
               WHERE user_id < 30 AND event_type = 'click'),
         r AS (SELECT event_id, user_id, ts FROM events
               WHERE user_id < 30 AND event_type = 'purchase')
    SELECT l.event_id,
           (SELECT r.event_id FROM r
            WHERE r.user_id = l.user_id
            ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)), r.event_id
            LIMIT 1) AS closest_id
    FROM l
    """,
)
def q_asof_nearest(spark, sf_dir):
    """J3: nearest-neighbor time join, both-direction window formulation vs
    the oracle's naive per-row scan (14_calculate_closest_frames.py:38-83
    vs :7-34). Tie at equal |dt| -> smaller right id (:70)."""
    from logcrawler_spark.operators.asof_join import asof_nearest_join

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    left = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_nearest_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_id="event_id",
    ).select("event_id", "closest_id")


# ------------------------------------------------------ theta/overlap joins
@register(
    "q_interval_overlap",
    """
    WITH a AS (SELECT event_id AS id_a, value AS lo_a, value + 15 AS hi_a
               FROM events WHERE user_id < 4),
         b AS (SELECT event_id AS id_b, value AS lo_b, value + 15 AS hi_b
               FROM events WHERE user_id < 4)
    SELECT id_a, id_b FROM a JOIN b
      ON id_a < id_b AND lo_a <= hi_b AND lo_b <= hi_a
    """,
)
def q_interval_overlap(spark, sf_dir):
    """J6: all-pairs interval overlap via banded equi-join — the O(n^2)
    bbox task generator (check_bbox_overlap_tasks.py:68-87) without the
    O(n^2)."""
    from logcrawler_spark.operators.theta_join import interval_overlap_join

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 4)
    a = e.select(
        F.col("event_id").alias("id_a"),
        F.col("value").alias("lo_a"),
        (F.col("value") + 15).alias("hi_a"),
    )
    b = e.select(
        F.col("event_id").alias("id_b"),
        F.col("value").alias("lo_b"),
        (F.col("value") + 15).alias("hi_b"),
    )
    return interval_overlap_join(
        a, b, "lo_a", "hi_a", "lo_b", "hi_b", band_width=16,
        extra_pred=F.col("l.id_a") < F.col("r.id_b"),
    ).select("id_a", "id_b")


@register(
    "q_argmax_overlap",
    """
    WITH a AS (SELECT event_id AS id_a, value AS lo_a, value + 15 AS hi_a
               FROM events WHERE user_id < 2),
         b AS (SELECT event_id AS id_b, value AS lo_b, value + 15 AS hi_b
               FROM events WHERE user_id >= 2 AND user_id < 4),
         pairs AS (
           SELECT id_a, id_b,
                  least(hi_a, hi_b) - greatest(lo_a, lo_b) AS overlap_len,
                  row_number() OVER (PARTITION BY id_a
                                     ORDER BY least(hi_a, hi_b)
                                              - greatest(lo_a, lo_b) DESC,
                                              id_b) AS rn
           FROM a JOIN b ON lo_a <= hi_b AND lo_b <= hi_a)
    SELECT id_a, id_b, overlap_len FROM pairs WHERE rn = 1
    """,
)
def q_argmax_overlap(spark, sf_dir):
    """J7/A8: max-overlap argmax join (PatchExecutor.py:178-209) — banded
    join + top-1-per-group window."""
    from logcrawler_spark.operators.theta_join import argmax_overlap_join

    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("user_id") < 2).select(
        F.col("event_id").alias("id_a"),
        F.col("value").alias("lo_a"),
        (F.col("value") + 15).alias("hi_a"),
    )
    b = e.filter((F.col("user_id") >= 2) & (F.col("user_id") < 4)).select(
        F.col("event_id").alias("id_b"),
        F.col("value").alias("lo_b"),
        (F.col("value") + 15).alias("hi_b"),
    )
    return argmax_overlap_join(
        a, b, "id_a", "lo_a", "hi_a", "id_b", "lo_b", "hi_b", band_width=16
    ).select("id_a", "id_b", "overlap_len")


# ------------------------------------------------- politeness / event windows
@register(
    "q_politeness_window",
    """
    SELECT event_id, slot FROM (
      SELECT event_id,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY value DESC, event_id) AS slot
      FROM events)
    WHERE slot <= 2
    """,
)
def q_politeness_window(spark, sf_dir):
    """T4/O4: per-key budget in tumbling event-time windows — the
    sleep(0.5) politeness analog (12_input_images.py:79), two-phase salted
    rank for skew."""
    from logcrawler_spark.operators.politeness import politeness_budget

    e = _t(spark, sf_dir, "events")
    return politeness_budget(
        e,
        host_col="user_id",
        ts_col="ts",
        budget=2,
        window_duration="1 hour",
        order=[F.col("value").desc(), F.col("event_id")],
    ).select("event_id", "slot")


@register(
    "q_event_window_agg",
    """
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
    FROM events GROUP BY win_start, event_type
    """,
)
def q_event_window_agg(spark, sf_dir):
    """T4/T7: tumbling event-time window aggregation — the batch twin of
    the Structured Streaming pipeline in streaming/ (same plan, same
    results; see tests/test_streaming.py)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour").start.alias("win_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )


# ------------------------------------------------------------- dedup family
@register(
    "q_dedup_exact",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY fp
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content fingerprint (U3/U4 analog)."""
    from logcrawler_spark.utils import ensure_min_partitions

    # md5-per-row is a CHEAP kernel: the pre-agg exchange only pays for
    # itself on large single-split inputs (interleaved A/B at sf0.1:
    # unconditional RR 0.723s vs direct scan 0.225s), so gate the split on
    # input bytes — a no-op locally, still splits an unsplittable big file
    return (
        ensure_min_partitions(
            _t(spark, sf_dir, "documents"), min_split_bytes=32 << 20
        )
        .groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _minhash_sql(src: str = "documents") -> str:
    """Banded MinHash-LSH candidate pairs over any (doc_id, text) relation."""
    return _MINHASH_ORACLE.replace("FROM documents", f"FROM {src}")


_MINHASH_ORACLE = """
    WITH words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')
               AS w
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(w[i:i+2], ' ') AS shingle
      FROM words,
           LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i)),
    mh AS (
      SELECT doc_id, j,
             min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS sig
      FROM grams CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
      GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, CAST(j // 2 AS INT) AS band,
             md5(string_agg(sig, '|' ORDER BY j)) AS band_hash
      FROM mh GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
"""


@register("q_minhash_lsh_pairs", _MINHASH_ORACLE)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates: shingle -> 8 md5-minhashes -> 4
    bands -> band-hash equi-self-join (no O(n^2) compare)."""
    from logcrawler_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", k=8, bands=4, n=3)


@register(
    "q_ngram_jaccard_pairs",
    f"""
    WITH cand AS ({_MINHASH_ORACLE}),
    words AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')
               AS w
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_sort(list_distinct(
               [array_to_string(w[i:i+2], ' ')
                FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS s
      FROM words)
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) AS jaccard
    FROM cand c JOIN sh a ON c.id_a = a.doc_id
                JOIN sh b ON c.id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(a.s || b.s)) >= 0.2
    """,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard over the LSH candidate pairs."""
    from logcrawler_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.2, lsh_k=8, lsh_bands=4
    )


from logcrawler_spark.oracles import fixture_sql, oracle_applies


@register("q_simhash_pairs", fixture_sql("q_simhash_pairs"))
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (64-bit, 16-bit band blocking).

    Exact oracle: the pure-Python dual implementation
    (``oracles/textsim.py`` — per-bit vote loops, no numpy) recomputes the
    expected pair set from the raw parquet and materializes it as the
    DuckDB fixture; the Spark side must match rows+schema+values."""
    import pyarrow.parquet as pq

    from logcrawler_spark.operators.dedup import simhash_dup_pairs
    from logcrawler_spark.oracles import write_fixture
    from logcrawler_spark.oracles.textsim import simhash_pairs

    if oracle_applies(sf_dir):
        tbl = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        expected = simhash_pairs(
            list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())),
            max_hamming=16,
            n=3,
        )
        write_fixture(
            "q_simhash_pairs",
            sf_dir,
            pd.DataFrame(
                expected, columns=["id_a", "id_b", "hamming"]
            ).astype({"id_a": "int64", "id_b": "int64", "hamming": "int32"}),
        )


    d = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs(d, "text", "doc_id", max_hamming=16, n=3)


_DOT = """list_reduce(list_prepend(0.0,
            list_transform(range(1, 65),
              i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),
            (acc, x) -> acc + x)"""


def _dot_sql(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


@register(
    "q_embedding_dup_pairs",
    f"""
    WITH e AS (
      SELECT vec_id, embedding,
             concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
               AS bucket,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6)
             AS cosine
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.25
    """,
)
def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: sign-LSH bucket join + exact cosine.
    Left-fold dot products are bit-identical to the DuckDB oracle."""
    from logcrawler_spark.operators.dedup import embedding_cosine_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_dup_pairs(
        e, "embedding", "vec_id", threshold=0.25
    )


_SIGN = "CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END"


def _bucket_sql(positions: tuple[int, ...]) -> str:
    # positions are 0-based; SQL arrays are 1-based
    return "concat(" + ", ".join(_SIGN.format(i=p + 1) for p in positions) + ")"


@register(
    "q_embedding_dup_multitable",
    f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings),
    b AS (
      SELECT vec_id, 0 AS tbl, {_bucket_sql((0, 16, 32, 48))} AS bucket FROM e
      UNION ALL
      SELECT vec_id, 1 AS tbl, {_bucket_sql((1, 17, 33, 49))} AS bucket FROM e),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, p.vec_id AS id_b
      FROM b a JOIN b p
        ON a.tbl = p.tbl AND a.bucket = p.bucket AND a.vec_id < p.vec_id)
    SELECT pr.id_a, pr.id_b,
           round({_dot_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm), 6)
             AS cosine
    FROM pairs pr JOIN e x ON pr.id_a = x.vec_id
                  JOIN e y ON pr.id_b = y.vec_id
    WHERE {_dot_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm) >= 0.25
    """,
)
def q_embedding_dup_multitable(spark, sf_dir):
    """The SCALE path of embedding near-dup (VERDICT r01 weak #2 fix as a
    pack entry): corpus-scaled bucket bits + 2 shifted hyperplane tables
    OR-ed for recall. At sf0.01 ``auto_lsh_tables`` resolves to 4 bits over
    64 dims -> positions (0,16,32,48)/(1,17,33,49), which the static oracle
    SQL mirrors (the driver's gate runs at sf0.01)."""
    from logcrawler_spark.operators.dedup import embedding_cosine_dup_pairs
    from logcrawler_spark.operators.similarity import auto_lsh_tables

    e = _t(spark, sf_dir, "embeddings")
    tabs = auto_lsh_tables(e, "embedding", n_tables=2, target_bucket_size=256)
    return embedding_cosine_dup_pairs(
        e, "embedding", "vec_id", threshold=0.25, tables=tabs
    )


# ------------------------------------------------------- similarity search
@register(
    "q_ann_topk_bruteforce",
    f"""
    WITH c AS (SELECT vec_id, embedding,
                      sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
               FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qe,
                      sqrt({_dot_sql('embedding', 'embedding')}) AS qn
               FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, c.vec_id AS id,
                  round({_dot_sql('c.embedding', 'q.qe')} / (c.nrm * q.qn), 6)
                    AS cosine
           FROM c CROSS JOIN q),
         ranked AS (
           SELECT query_id, id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, id) AS rank
           FROM scored)
    SELECT query_id, rank, id, cosine FROM ranked WHERE rank <= 5
    """,
)
def q_ann_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k: broadcast query side, JVM-side fold, window
    top-k — the ANN baseline."""
    from logcrawler_spark.operators.similarity import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk_bruteforce(
        e, q, "embedding", "vec_id", "vec_id", k=5
    )


@register(
    "q_ann_topk_lsh",
    f"""
    WITH e AS (
      SELECT vec_id, embedding,
             concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                    CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
               AS bucket,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS id,
                  round({_dot_sql('c.embedding', 'q.embedding')}
                        / (c.nrm * q.nrm), 6) AS cosine
           FROM e c JOIN e q ON c.bucket = q.bucket
           WHERE q.vec_id < 5),
         ranked AS (
           SELECT query_id, id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, id) AS rank
           FROM scored)
    SELECT query_id, rank, id, cosine FROM ranked WHERE rank <= 5
    """,
)
def q_ann_topk_lsh(spark, sf_dir):
    """Sign-LSH bucketed ANN top-k — the scale path (bucket equi-join
    replaces the cross join)."""
    from logcrawler_spark.operators.similarity import cosine_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh(e, q, "embedding", "vec_id", "vec_id", k=5)


_DOTD = """list_reduce(list_prepend(0.0,
            list_transform(range(1, 65), i -> {a}[i] * {b}[i])),
            (acc, x) -> acc + x)"""


def _kmeans_ivf_sql(n_centroids: int, iters: int, n_probe: int, k: int) -> str:
    """DuckDB oracle for the kmeans-refined IVF top-k.

    Reproducible across engines because every float accumulation is an
    order-fixed left fold: centroid means fold per component over members
    sorted by id (mirroring the Spark kernel's sort_array + aggregate), so
    the refined centroids are bit-identical and all downstream sim
    comparisons agree exactly.
    """
    dd = _DOTD.format
    parts = [
        f"""base AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt({_dot_sql('embedding', 'embedding')}) AS vn
      FROM embeddings),
    cents0 AS (
      SELECT id AS cell_id, v AS cv, vn AS cn FROM base
      ORDER BY id LIMIT {n_centroids})"""
    ]
    for t in range(iters):
        parts.append(f"""asn{t} AS (
      SELECT id, v, cell_id FROM (
        SELECT b.id, b.v, c.cell_id,
               row_number() OVER (
                 PARTITION BY b.id
                 ORDER BY {dd(a='b.v', b='c.cv')} / (b.vn * c.cn) DESC,
                          c.cell_id) AS rn
        FROM base b CROSS JOIN cents{t} c) WHERE rn = 1),
    mem{t} AS (
      SELECT cell_id,
             list_sort(list(struct_pack(id := id, v := v))) AS ms,
             count(*) AS cnt
      FROM asn{t} GROUP BY cell_id),
    upd{t} AS (
      SELECT cell_id,
             list_transform(range(1, 65),
               j -> list_reduce(
                      list_prepend(0.0, list_transform(ms, m -> m.v[j])),
                      (acc, x) -> acc + x) / cnt) AS cv
      FROM mem{t}),
    cents{t + 1} AS (
      SELECT c.cell_id,
             coalesce(u.cv, c.cv) AS cv,
             CASE WHEN u.cv IS NULL THEN c.cn
                  ELSE sqrt({dd(a='u.cv', b='u.cv')}) END AS cn
      FROM cents{t} c LEFT JOIN upd{t} u USING (cell_id))""")
    fin = f"cents{iters}"
    parts.append(f"""assigned AS (
      SELECT id, v, vn, cell_id FROM (
        SELECT b.id, b.v, b.vn, c.cell_id,
               row_number() OVER (
                 PARTITION BY b.id
                 ORDER BY {dd(a='b.v', b='c.cv')} / (b.vn * c.cn) DESC,
                          c.cell_id) AS rn
        FROM base b CROSS JOIN {fin} c) WHERE rn = 1),
    q AS (SELECT id AS query_id, v AS qv, vn AS qn FROM base WHERE id < 5),
    probes AS (
      SELECT query_id, qv, qn, cell_id FROM (
        SELECT q.query_id, q.qv, q.qn, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {dd(a='q.qv', b='c.cv')} / (q.qn * c.cn) DESC,
                          c.cell_id) AS rn
        FROM q CROSS JOIN {fin} c) WHERE rn <= {n_probe}),
    scored AS (
      SELECT p.query_id, a.id,
             round({dd(a='a.v', b='p.qv')} / (a.vn * p.qn), 6) AS cosine
      FROM assigned a JOIN probes p USING (cell_id)),
    ranked AS (
      SELECT query_id, id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, id) AS rank
      FROM scored)""")
    body = ",\n    ".join(parts)
    return (
        f"WITH {body}\n"
        f"    SELECT query_id, rank, id, cosine FROM ranked WHERE rank <= {k}"
    )


@register("q_ann_topk_ivf_kmeans", _kmeans_ivf_sql(8, 2, 2, 5))
def q_ann_topk_ivf_kmeans(spark, sf_dir):
    """IVF top-k over kmeans-refined centroids (2 deterministic Lloyd
    iterations; order-fixed fold means make the refinement bit-reproducible
    in DuckDB — see ``operators.similarity.kmeans_refine_centroids``)."""
    from logcrawler_spark.operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(
        e, q, "embedding", "vec_id", "vec_id", k=5, n_centroids=8,
        n_probe=2, kmeans_iters=2,
        # the DuckDB oracle reproduces the ORDER-FIXED fold, so this query
        # opts in explicitly; the operator default is the scale-safe
        # free-order aggregate (VERDICT r05 item 6)
        kmeans_bit_exact=True,
    )


@register(
    "q_ann_topk_ivf",
    f"""
    WITH cents AS (
      SELECT vec_id AS cell_id, embedding AS cv,
             sqrt({_dot_sql('embedding', 'embedding')}) AS cn
      FROM embeddings ORDER BY vec_id LIMIT 8),
    base AS (
      SELECT vec_id AS id, embedding AS v,
             sqrt({_dot_sql('embedding', 'embedding')}) AS vn
      FROM embeddings),
    asim AS (
      SELECT b.id, b.v, b.vn, c.cell_id,
             {_dot_sql('b.v', 'c.cv')} / (b.vn * c.cn) AS sim
      FROM base b CROSS JOIN cents c),
    assigned AS (
      SELECT id, v, vn, cell_id FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY sim DESC, cell_id) AS rn
        FROM asim) WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             sqrt({_dot_sql('embedding', 'embedding')}) AS qn
      FROM embeddings WHERE vec_id < 5),
    qsim AS (
      SELECT q.query_id, q.qv, q.qn, c.cell_id,
             {_dot_sql('q.qv', 'c.cv')} / (q.qn * c.cn) AS sim
      FROM q CROSS JOIN cents c),
    probes AS (
      SELECT query_id, qv, qn, cell_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cell_id) AS rn
        FROM qsim) WHERE rn <= 2),
    scored AS (
      SELECT p.query_id, a.id,
             round({_dot_sql('a.v', 'p.qv')} / (a.vn * p.qn), 6) AS cosine
      FROM assigned a JOIN probes p USING (cell_id)),
    ranked AS (
      SELECT query_id, id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, id) AS rank
      FROM scored)
    SELECT query_id, rank, id, cosine FROM ranked WHERE rank <= 5
    """,
)
def q_ann_topk_ivf(spark, sf_dir):
    """IVF-partitioned approximate top-k — the partition-pruning scale
    path (probe n nearest cells only)."""
    from logcrawler_spark.operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(
        e, q, "embedding", "vec_id", "vec_id", k=5, n_centroids=8, n_probe=2
    )


# ---------------------------------------------------------- text analysis
@register(
    "q_text_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')
               AS t
      FROM documents),
    scored AS (
      SELECT doc_id, text, len(t) AS n_tokens,
             len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_ish,
             CAST(len(list_filter(t, x -> x IN
               ('the','and','of','to','in','is','it','for'))) AS DOUBLE)
               / len(t) AS sw_en,
             CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                  AS DOUBLE) / len(text) AS punct
      FROM toks WHERE len(t) > 0)
    SELECT doc_id, n_tokens, n_bpe_ish,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           round(greatest(
             (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                   THEN 0.5 ELSE 0.0 END)
             + least(sw_en * 2.0, 0.4) - least(punct * 2.0, 0.3),
             0.0), 6) AS quality
    FROM scored
    """,
)
def q_text_stats(spark, sf_dir):
    """Text-analysis pack: token counts, BPE-ish count, fingerprint,
    quality score — all JVM-side expressions."""
    from logcrawler_spark.functions.text import (
        bpe_ish_token_count,
        fingerprint,
        quality_score_from,
        with_tokens,
    )

    from logcrawler_spark.utils import ensure_min_partitions

    # documents.parquet is one row group at every local SF — unsplittable,
    # so the whole tokenize/score pipeline would run in ONE scan task
    # (guide §2.5 input skew: repartition right after the read; no-op on a
    # many-split production table)
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    # one regex split per row (with_tokens Generate barrier) instead of
    # re-splitting inside each of token_count/quality_score
    tk = F.col("toks")
    return with_tokens(d).filter(F.size(tk) > 0).select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_ish"),
        fingerprint(t).alias("fp"),
        quality_score_from(tk, t).alias("quality"),
    )


@register(
    "q_lang_id",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')
               AS t
      FROM documents),
    s AS (
      SELECT doc_id,
        CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> x IN
          ('der','die','und','das','ist','nicht','ein','zu'))) AS DOUBLE)
          / len(t) END AS s_de,
        CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> x IN
          ('the','and','of','to','in','is','it','for'))) AS DOUBLE)
          / len(t) END AS s_en,
        CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> x IN
          ('el','la','de','los','es','un','para','por'))) AS DOUBLE)
          / len(t) END AS s_es,
        CASE WHEN len(t) = 0 THEN 0.0 ELSE CAST(len(list_filter(t, x -> x IN
          ('le','la','et','les','des','est','un','pour'))) AS DOUBLE)
          / len(t) END AS s_fr
      FROM toks)
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0.0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def q_lang_id(spark, sf_dir):
    """N-gram-heuristic language ID (stopword-ratio argmax, ties -> first
    language alphabetically)."""
    from logcrawler_spark.functions.text import lang_id
    from logcrawler_spark.utils import ensure_min_partitions

    # single-row-group input: split the scoring across cores (guide §2.5)
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


# ----------------------------------------------------- multimodal plumbing
@register(
    "q_multimodal_meta",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 617 + 16 AS INT) AS width,
           CAST((strlen(text) * 7) % 471 + 16 AS INT) AS height,
           concat('fake/', CAST(strlen(text) % 3 AS VARCHAR)) AS fmt
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal column plumbing: opaque binary payload -> typed metadata
    via an Arrow-batched mapInPandas "decoder". The real image/audio decode
    is stubbed (libs not in this image — see operators/multimodal.py), but
    the Spark-side schema/partitioning/batch shape is real and oracled via
    deterministic fake-decode arithmetic."""
    from logcrawler_spark.operators.multimodal import decode_blob_metadata

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return decode_blob_metadata(d, id_col="doc_id", payload_col="payload")


_CURATION_SQL = r"""
    WITH ctoks AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')
               AS t
      FROM documents),
    cscored AS (
      SELECT doc_id, text, len(t) AS n_tokens,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(t, x -> x IN
                 ('the','and','of','to','in','is','it','for'))) AS DOUBLE)
                 / len(t) END AS s_en,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(t, x -> x IN
                 ('der','die','und','das','ist','nicht','ein','zu')))
                 AS DOUBLE) / len(t) END AS s_de,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(t, x -> x IN
                 ('el','la','de','los','es','un','para','por'))) AS DOUBLE)
                 / len(t) END AS s_es,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(t, x -> x IN
                 ('le','la','et','les','des','est','un','pour'))) AS DOUBLE)
                 / len(t) END AS s_fr,
             CASE WHEN len(text) = 0 THEN 0.0 ELSE
               CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                    AS DOUBLE) / len(text) END AS punct
      FROM ctoks),
    cfeat AS (
      SELECT doc_id, text, n_tokens,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0.0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS lang_pred,
             round(greatest(
               (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                     THEN 0.5 ELSE 0.0 END)
               + least(s_en * 2.0, 0.4) - least(punct * 2.0, 0.3),
               0.0), 6) AS quality
      FROM cscored WHERE n_tokens > 0),
    kept AS (
      SELECT * FROM cfeat WHERE lang_pred = 'en' AND quality >= 0.3),
    uniq AS (
      SELECT doc_id, text, lang_pred, quality, n_tokens FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1),
    cand AS (MINHASH_UNIQ),
    uwords AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
               AS w
      FROM uniq),
    ush AS (
      SELECT doc_id,
             list_sort(list_distinct(
               [array_to_string(w[i:i+2], ' ')
                FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])) AS s
      FROM uwords),
    drops AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN ush a ON c.id_a = a.doc_id
                  JOIN ush b ON c.id_b = b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5),
    survivors AS (
      SELECT u.doc_id, u.text, u.lang_pred, u.quality, u.n_tokens
      FROM uniq u ANTI JOIN drops d ON u.doc_id = d.doc_id),
    bgrams AS (
      SELECT DISTINCT unnest(list_distinct(
        [array_to_string(words[i : i + 12], ' ')
         FOR i IN range(1, greatest(len(words) - 12, 1) + 1)])) AS g
      FROM (SELECT string_split_regex(trim(text), '\s+') AS words
            FROM documents WHERE doc_id % 97 = 0)),
    sgrams AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(words[i : i + 12], ' ')
         FOR i IN range(1, greatest(len(words) - 12, 1) + 1)])) AS g
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
            FROM survivors)),
    contaminated AS (
      SELECT DISTINCT doc_id FROM sgrams JOIN bgrams USING (g))
    SELECT s.doc_id, s.lang_pred, s.quality, s.n_tokens
    FROM survivors s ANTI JOIN contaminated c ON s.doc_id = c.doc_id
"""


@register(
    "q_corpus_curation",
    _CURATION_SQL.replace("MINHASH_UNIQ", _minhash_sql("uniq")),
)
def q_corpus_curation(spark, sf_dir):
    """End-to-end training-corpus curation in the real pretraining order
    (r5 adds the final stage): language-ID filter -> quality gate ->
    exact dedup (keep lowest id per md5) -> near-dup drop (greedy: any
    doc appearing as id_b of an LSH-candidate pair with n-gram jaccard
    >= 0.5 is dropped, so the lowest id of a near-dup group survives) ->
    benchmark DECONTAMINATION (any survivor sharing a distinct 13-gram
    with the eval set — every 97th raw document — is dropped). One
    declarative plan — cheap filters prune before the expensive dedup
    stages, and the eval grams broadcast so the corpus never shuffles for
    the leak check."""
    from logcrawler_spark.functions.text import (
        lang_id_from,
        quality_score_from,
        with_tokens,
    )
    from logcrawler_spark.operators.dedup import (
        decontaminate,
        exact_dedup,
        ngram_jaccard_pairs,
    )

    from logcrawler_spark.utils import ensure_min_partitions

    d = _t(spark, sf_dir, "documents")
    # tokenize ONCE per row behind the Generate barrier (with_tokens):
    # the naive composition re-ran the regex split ~17x per row across
    # lang_id + quality + counts — measured 5x slower (CLAUDE.md
    # derived-column fan-out rule). The scoring pipeline runs over a
    # repartitioned scan — documents.parquet is ONE row group locally, so
    # without it every stage-1 expression ran in a single task (guide §2.5)
    toked = with_tokens(ensure_min_partitions(d))
    tk = F.col("toks")
    scored = toked.filter(F.size(tk) > 0).select(
        "doc_id",
        "text",
        lang_id_from(tk).alias("lang_pred"),
        quality_score_from(tk, F.col("text")).alias("quality"),
        F.size(tk).alias("n_tokens"),
    )
    kept = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality") >= 0.3)
    )
    from logcrawler_spark.utils import materialize

    # uniq feeds four consumers (minhash sig, both jaccard sides, final
    # anti-join); unpinned, CollapseProject would recompute the lang/quality
    # expression pipeline per consumer (CLAUDE.md derived-column fan-out)
    uniq = materialize(exact_dedup(kept, "text", "doc_id"))
    pairs = ngram_jaccard_pairs(
        uniq, "text", "doc_id", n=3, threshold=0.5, lsh_k=8, lsh_bands=4
    )
    # drops is tiny but derives from the whole LSH pipeline; the two
    # downstream consumers of `survivors` would recompute it twice
    # unpinned (derived-column fan-out rule) — materialize the SMALL side
    drops = materialize(
        pairs.select(F.col("id_b").alias("doc_id")).distinct()
    )
    survivors = uniq.join(drops, on="doc_id", how="left_anti")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    # hash_grams: the 100-TB broadcast shape (8-byte keys). xxhash64 is a
    # fixed function, so equality with the string-join DuckDB oracle is
    # DETERMINISTIC for this dataset — the parity gate proves the absence
    # of collisions once and for all, not per-run luck.
    flagged = decontaminate(survivors, bench, n=13, hash_grams=True).select(
        F.col("id").alias("doc_id")
    )
    return survivors.join(flagged, on="doc_id", how="left_anti").select(
        "doc_id", "lang_pred", "quality", "n_tokens"
    )


# ------------------------------------------------------- SURT / crawl round
@register(
    "q_surt_canonicalize",
    r"""
    WITH u AS (
      SELECT doc_id,
             'http://HOST' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
             || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
             || '/d' || CAST(doc_id % 97 AS VARCHAR)
             || CASE WHEN doc_id % 4 = 3 THEN '//p' ELSE '/p' END
             || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 4 = 1 THEN '#frag'
                     WHEN doc_id % 4 = 2 THEN '?b=2&a=1' ELSE '' END AS url
      FROM documents),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)) AS host,
             CASE WHEN regexp_extract(url, '^[a-zA-Z]+://[^/?#]*:(\d+)', 1)
                       IN ('', '80') THEN ''
                  ELSE ':' || regexp_extract(url,
                       '^[a-zA-Z]+://[^/?#]*:(\d+)', 1) END AS port,
             CASE WHEN regexp_replace(
                    regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                    '//+', '/', 'g') = '' THEN '/'
                  ELSE regexp_replace(
                    regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
                    '//+', '/', 'g') END AS path,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
               x -> x <> '')), '&') AS q
      FROM u)
    SELECT doc_id,
           'http://' || host || port || path
             || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url,
           array_to_string(list_reverse(string_split(host, '.')), ',')
             || port || ')' || path
             || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS surt_key
    FROM parts
    """,
)
def q_surt_canonicalize(spark, sf_dir):
    """C2: SURT canonicalization as a pure expression pipeline, checked
    against an independent DuckDB re-implementation over trap URLs."""
    from logcrawler_spark.functions.urls import canonicalize_url, surt

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("http://HOST"), (i % 50).cast("string"), F.lit(".Example.COM"),
        F.when(i % 4 == 0, ":80").otherwise(""),
        F.lit("/d"), (i % 97).cast("string"),
        F.when(i % 4 == 3, "//p").otherwise("/p"),
        i.cast("string"),
        F.when(i % 4 == 1, "#frag")
        .when(i % 4 == 2, "?b=2&a=1")
        .otherwise(""),
    )
    return d.select(
        "doc_id",
        canonicalize_url(url).alias("canonical_url"),
        surt(url).alias("surt_key"),
    )


@register("q_crawl_round", fixture_sql("q_crawl_round"))
def q_crawl_round(spark, sf_dir):
    """The flagship composed plan as a pack entry.

    Exact oracle: the single-process pure-Python crawl simulator
    (``oracles/frontier_sim.py`` — dicts/lists/regex, no Spark) replays the
    same seed list, robots rules, and politeness budget and materializes the
    expected schedule (round, host, url, priority, rank, slot) as the DuckDB
    fixture. Crawl order is DEFINED as (round, host, -priority,
    canonical_url), so the match is deterministic under any parallelism."""
    from logcrawler_spark.oracles import write_fixture
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    pages = generate_pages(spark, sf_dir, n_hosts=50)
    seeds = generate_seeds(spark, sf_dir, n_hosts=50)
    robots = generate_robots_rules(spark, n_hosts=50)

    if oracle_applies(sf_dir):
        sim = simulate_crawl(
            pages.toPandas(), seeds.toPandas(), robots.toPandas(),
            rounds=1, budget=5,
        )
        expected = pd.DataFrame(
            sim.schedule,
            columns=["round", "host", "priority", "canonical_url",
                     "host_rank", "slot_ms"],
        )[["round", "host", "canonical_url", "priority", "host_rank", "slot_ms"]]
        write_fixture(
            "q_crawl_round",
            sf_dir,
            expected.astype(
                {"round": "int32", "priority": "float64",
                 "host_rank": "int32", "slot_ms": "int64"}
            ),
        )


    state = run_crawl(spark, pages, seeds, robots, rounds=1, budget=5)
    return state.schedule.select(
        "round", "host", "canonical_url", "priority", "host_rank", "slot_ms"
    )


@register("q_crawl_ttl_recrawl", fixture_sql("q_crawl_ttl_recrawl"))
def q_crawl_ttl_recrawl(spark, sf_dir):
    """The recrawl path as a pack entry: 4 rounds with a 2-round TTL on the
    cuckoo-backed URL-seen filter — URLs seen at round s are schedulable
    again at s+2, so the schedule legitimately repeats canonicals. Exact
    oracle: the pure-Python simulator with the same TTL."""
    from logcrawler_spark.oracles import write_fixture
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    rounds, budget, ttl = 4, 5, 2
    pages = generate_pages(spark, sf_dir, n_hosts=50)
    seeds = generate_seeds(spark, sf_dir, n_hosts=50)
    robots = generate_robots_rules(spark, n_hosts=50)

    if oracle_applies(sf_dir):
        sim = simulate_crawl(
            pages.toPandas(), seeds.toPandas(), robots.toPandas(),
            rounds=rounds, budget=budget, ttl_rounds=ttl,
        )
        expected = pd.DataFrame(
            sim.schedule,
            columns=["round", "host", "priority", "canonical_url",
                     "host_rank", "slot_ms"],
        )[["round", "host", "canonical_url", "priority", "host_rank",
           "slot_ms"]]
        write_fixture(
            "q_crawl_ttl_recrawl",
            sf_dir,
            expected.astype(
                {"round": "int32", "priority": "float64",
                 "host_rank": "int32", "slot_ms": "int64"}
            ),
        )

    # "join" probes the cuckoo filter every round, so its TTL deletes run
    state = run_crawl(
        spark, pages, seeds, robots, rounds=rounds, budget=budget,
        filter_kind="cuckoo", ttl_rounds=ttl, probe_confirm="join",
    )
    return state.schedule.select(
        "round", "host", "canonical_url", "priority", "host_rank", "slot_ms"
    )


@register("q_crawl_pagerank_priority", fixture_sql("q_crawl_pagerank_priority"))
def q_crawl_pagerank_priority(spark, sf_dir):
    """The pagerank-priority crawl as a pack entry (r5, SURVEY W5 +
    reference processing-order analog ``02_combine_logs.py:227-230``):
    rounds past the first re-seed candidate priorities from the exact
    int64 PageRank of the cumulative outlink graph, so the schedule's
    priority column IS the distributed iterative-graph result. Exact
    oracle: the pure-Python simulator composes the same pipeline with the
    independent ``graph_sim.pagerank_int_py`` — both sides exact integer
    arithmetic, so the whole composition stays under the full
    rows+schema+hash gate."""
    from logcrawler_spark.oracles import write_fixture
    from logcrawler_spark.oracles.frontier_sim import simulate_crawl
    from logcrawler_spark.plans.frontier import run_crawl
    from logcrawler_spark.sources.pages import (
        generate_pages,
        generate_robots_rules,
        generate_seeds,
    )

    rounds, budget = 2, 5
    pages = generate_pages(spark, sf_dir, n_hosts=50)
    seeds = generate_seeds(spark, sf_dir, n_hosts=50)
    robots = generate_robots_rules(spark, n_hosts=50)

    if oracle_applies(sf_dir):
        sim = simulate_crawl(
            pages.toPandas(), seeds.toPandas(), robots.toPandas(),
            rounds=rounds, budget=budget, priority_source="pagerank",
        )
        expected = pd.DataFrame(
            sim.schedule,
            columns=["round", "host", "priority", "canonical_url",
                     "host_rank", "slot_ms"],
        )[["round", "host", "canonical_url", "priority", "host_rank",
           "slot_ms"]]
        write_fixture(
            "q_crawl_pagerank_priority",
            sf_dir,
            expected.astype(
                {"round": "int32", "priority": "float64",
                 "host_rank": "int32", "slot_ms": "int64"}
            ),
        )

    state = run_crawl(
        spark, pages, seeds, robots, rounds=rounds, budget=budget,
        priority_source="pagerank",
    )
    return state.schedule.select(
        "round", "host", "canonical_url", "priority", "host_rank", "slot_ms"
    )
