"""Parity pins for the r06 chain-rewrite fallback paths.

q_ngram_jaccard / q_verify_pairs_native / q_pair_features use guarded
broadcasts of per-doc frames while they fit the one broadcast budget
(``session.BCAST_MAX_BYTES``), and fall back to the skinny posting-join
and plain-join shapes above it. Testdata never crosses the budget, so
the fallback shapes are pinned here by forcing the budget below every
``n_rows x row_bytes`` and comparing against the broadcast path.
"""

import pandas as pd
import pytest

import ufuzzy_spark.entry_queries as eq
import ufuzzy_spark.session as session

SF = "/root/testdata/sf0.01"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize(
    "qname", ["ngram_jaccard", "verify_pairs_native", "pair_features"]
)
def test_fallback_path_matches_broadcast_path(spark, monkeypatch, qname):
    fn = eq.queries()[qname]
    fast = fn(spark, SF).toPandas()
    monkeypatch.setattr(session, "BCAST_MAX_BYTES", -1)
    slow = fn(spark, SF).toPandas()
    pd.testing.assert_frame_equal(_canon(fast), _canon(slow))


def test_size_ratio_prefilter_keeps_edge_set(spark):
    """The near-dup edge builder's size-ratio prefilter (jaccard <=
    min/max, applied at the exact round(j,6) >= 0.7 boundary) must be
    a pure speedup: same pairs, same jaccard values as filtering the
    full jaccard table."""
    filtered = _canon(
        eq._jaccard_df(spark, SF, size_ratio_floor=0.6999995)
        .where("jaccard >= 0.7")
        .toPandas()
    )
    full = _canon(
        eq._jaccard_df(spark, SF).where("jaccard >= 0.7").toPandas()
    )
    assert len(filtered) > 0  # fixture corpus has near-dups
    pd.testing.assert_frame_equal(filtered, full)


def test_verify_pairs_broadcast_matches_join(spark):
    """verify_pairs(broadcast_texts=True) must be plan-only: same
    rows/verdicts as the sort-merge attach path."""
    from pyspark.sql import functions as F

    from ufuzzy_spark.operators.verify import verify_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.format_string("%07d", "doc_id").alias("url"),
        F.lower("text").alias("norm_text"),
    )
    # consecutive-id pairs: deterministic, 200 rows, both sides present
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    pairs = (
        base.where("doc_id < 200")
        .select(
            F.format_string("%07d", "doc_id").alias("url_a"),
            F.format_string("%07d", F.col("doc_id") + 1).alias("url_b"),
        )
    )
    a = verify_pairs(pairs, docs, broadcast_texts=True).toPandas()
    b = verify_pairs(pairs, docs, broadcast_texts=False).toPandas()
    assert len(a) == 200
    pd.testing.assert_frame_equal(_canon(a), _canon(b))
