"""Normalize stage — all JVM-native expressions (whole-stage codegen).

Reproduces the reference's pre-match canonicalization as Spark
columns (no UDF in this stage):

- text extraction from ``html`` (byte-identical per-row invariant,
  BASELINE.json input_hint)
- ``norm_text``  = lower(latinize(text))             (uFuzzy.mjs:70,927-983)
- ``tokens``     = interSplit tokenization            (uFuzzy.mjs:29,228-246)

Order-invariance for OOO duplicates is NOT handled here by sorting
text (sorted text degenerates on small vocabularies) but by the
token-bag MinHash in operators/minhash.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.latinize import ACCENT_DST, ACCENT_SRC

_HTML_PREFIX = "<html><body>"
_HTML_SUFFIX = "</body></html>"


def extract_text(html_col: Column) -> Column:
    """Extract body text from the html binary column.

    The fixture envelope is the fixed wrapper (FIXTURES.md F1); real
    WARC extraction would swap this expression — the invariant (output
    byte-identical to the ``text`` column) is what tests pin.
    """
    s = F.decode(html_col, "UTF-8")
    body = F.regexp_replace(
        F.regexp_replace(s, "^" + _HTML_PREFIX, ""), _HTML_SUFFIX + "$", ""
    )
    return body


def latinize_col(col: Column) -> Column:
    """Reference accent fold as a codegen'd translate (uFuzzy.mjs:929-957)."""
    return F.translate(col, ACCENT_SRC, ACCENT_DST)


def norm_text_col(text_col: Column) -> Column:
    return F.lower(latinize_col(text_col))


def tokens_col(norm_col: Column, cfg: MatchConfig | None = None) -> Column:
    """interSplit tokenization of normalized text (uFuzzy.mjs:29,245)."""
    cfg = cfg or MatchConfig()
    toks = F.split(norm_col, cfg.interSplit)
    return F.filter(toks, lambda t: t != F.lit(""))


def normalize(pages: DataFrame, cfg: MatchConfig | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> + norm_text, norm_sorted.

    Narrow (no shuffle); stays inside one WholeStageCodegen span.
    """
    cfg = cfg or MatchConfig()
    norm = norm_text_col(F.col("text"))
    toks = tokens_col(norm, cfg)
    return pages.withColumn("norm_text", norm).withColumn("tokens", toks)


def extraction_invariant_violations(pages: DataFrame) -> DataFrame:
    """Rows whose extract_text(html) is not byte-identical to text (a
    null on one side only counts) — must be empty (pytest pin)."""
    return pages.where(~extract_text(F.col("html")).eqNullSafe(F.col("text")))
