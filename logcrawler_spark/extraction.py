"""Vectorized extraction kernels (pandas/Arrow UDFs — never per-row Python).

Reference analog: the fully-vectorized YUV->RGB decode kernel
(``06_extract_images.py:207-229`` — SURVEY.md §2.10 X1) and its explicit
anti-pattern, the scalar re-encode loop (``patch_exporter/helper.py:23-41``
X4). Here the payloads are HTML bytes instead of camera frames:

- ``extract_text``  — html binary -> text string, **byte-identical per url**
  (the north-rule invariant). Pure bytes/regex ops, no locale or library
  variance; deterministic on every engine and platform.
- ``extract_links`` — html binary -> array<string> of raw hrefs (the
  UDTF-style one-page->many-links flattener, analog of
  ``10_input_behavior_frames.py:64-93`` X6). Resolution against the page URL
  is column-expression work (``functions.urls.resolve_link``), kept JVM-side.

Both are Arrow-batched scalar pandas UDFs: one Python invocation per ~10k
rows (``spark.sql.execution.arrow.maxRecordsPerBatch``), string kernels run
via pandas' vectorized ``.str`` ops.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_P_RE = re.compile(r"<p>(.*?)</p>", re.S)
_A_RE = re.compile(r'<a\s+href="([^"]*)"')
_WS = " "


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Join all ``<p>`` block contents with a single space.

    Contract: for the synthetic corpus (``sources.pages``), output is
    byte-identical to the ``text`` column the page was generated from.

    Vectorized ``.str`` pipeline (VERDICT r03 item 6 — the module
    contract, previously a per-row ``Series.map``): decode -> findall ->
    join run as three pandas string-kernel passes over the whole Arrow
    batch; nulls propagate as NaN through every step and reach Arrow as
    SQL NULLs. Byte-identity vs the oracle is pinned by the existing
    corpus-wide zero-mismatch test.
    """
    return (
        html.str.decode("utf-8", errors="replace")
        .str.findall(_P_RE)
        .str.join(_WS)
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_links(html: pd.Series) -> pd.Series:
    """All raw href values, in document order (may be relative)."""
    return html.str.decode("utf-8", errors="replace").str.findall(_A_RE)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("hrefs", T.ArrayType(T.StringType())),
        ]
    )
)
def extract_text_and_links(html: pd.Series) -> pd.DataFrame:
    """Fused text + link extraction: one Arrow transfer of the html
    bytes, one decode, both kernels (guide §4 — the separate UDFs ship
    and decode the same payload twice; the crawl's fetch join is the hot
    caller). Field kernels are verbatim :func:`extract_text` /
    :func:`extract_links`, so the byte-identity contract carries over."""
    s = html.str.decode("utf-8", errors="replace")
    return pd.DataFrame(
        {"text": s.str.findall(_P_RE).str.join(_WS), "hrefs": s.str.findall(_A_RE)}
    )
