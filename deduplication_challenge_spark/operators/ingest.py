"""Ingest: pages -> docs (text extraction + stable doc ids).

Reference counterparts: parquet scan + schema extension + normalization
(/root/reference/src/main.py:113-115, /root/reference/src/controller.py:17-58).
Differences by design:
  * ``doc_id = xxhash64(url)`` — deterministic and parallel-safe, unlike the
    reference's row-number ids (/root/reference/src/controller.py:17-21)
    which assume a single totally-ordered in-memory table.
  * extraction is a vectorized Arrow pandas UDF calling the SAME pure-Python
    function the pytest oracle uses (functions/textnorm.py) — byte-identical
    per url by construction (BASELINE.json input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from deduplication_challenge_spark.functions.textnorm import extract_text


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series, charset: pd.Series = None) -> pd.Series:
    """Vectorized html->text extraction (Arrow-batched; no per-row Python
    crossing the JVM boundary — the loop runs inside one Arrow batch).  The
    transport (HTTP Content-Type) charset hint rides as an optional second
    column (sources/warc.py emits it); precedence BOM > hint > <meta
    charset> > utf-8 lives in functions/textnorm.extract_text — the SAME
    pure function any pytest oracle calls, so engine and oracle can never
    disagree on decoding.

    Called with html alone when pages carry no charset column: Spark then
    chains it with an html-producing Python UDF (sources/pages._wrap_html)
    in one eval node, where a second argument, even a null literal, splits
    them into two, each with its own Python worker per task."""
    hints = [None] * len(html) if charset is None else charset.tolist()
    return pd.Series([extract_text(h, c) for h, c in zip(html.tolist(), hints)])


def extract_pages(pages: DataFrame, *, recompute_text: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, charset]) -> docs(doc_id, url,
    warc_ts, text, lang).

    ``recompute_text=True`` re-derives text from html through the extraction
    UDF (exercises the byte-identical invariant end-to-end); ``False`` trusts
    the shipped ``text`` column (pure column pruning — the parquet scan then
    never reads ``html``, which is the scale-correct plan when text is
    already extracted upstream).  An optional ``charset`` column (WARC reads
    carry the HTTP-declared encoding) feeds the extraction's charset
    precedence; sources without it decode by BOM/meta-sniff/utf-8 as before.
    """
    charset = [F.col("charset")] if "charset" in pages.columns else []
    # rows without raw html (already-extracted upstream) trust the shipped
    # text column; extraction runs only where html bytes exist
    extracted = extract_text_udf(F.col("html"), *charset)
    text_col = (
        F.when(F.col("html").isNull(), F.col("text")).otherwise(extracted)
        if recompute_text
        else F.col("text")
    )
    # null policy (pinned): text, lang AND url normalize to '' — downstream
    # map keys (details provenance) and shingle kernels require non-null
    # values, doc_id must never be null (xxhash64(NULL) is NULL, which
    # would break every doc_id join), and the oracle mirrors the same rule.
    # Matches the reference's empty-vs-null canonicalization
    # (/root/reference/src/controller.py:52-58).
    url = F.coalesce(F.col("url"), F.lit(""))
    return pages.select(
        F.xxhash64(url).alias("doc_id"),
        url.alias("url"),
        F.col("warc_ts"),
        F.coalesce(text_col, F.lit("")).alias("text"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
    )
