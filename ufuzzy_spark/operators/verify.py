"""Verification stage — the reference's info() precision pass at scale.

Candidate pairs from LSH are recall-oriented (like filter(),
uFuzzy.mjs:394-418); this stage applies the EXACT bounded-edit pair
predicate (pairdup.PairVerifier — the same code that labels the
golden fixtures) and emits pair features, the dedup reinterpretation
of the reference's Info struct (dist/uFuzzy.d.ts:175-207).

Scale notes:
- texts are attached by two equi-joins on url; only the verification
  window (2 x verify_window_chars) is shuffled, not full documents
- the predicate runs in an Arrow-batched pandas UDF; per-term regexes
  are compiled once per executor and LRU-shared across pairs (the
  reference's compile-once pattern, uFuzzy.mjs:222-226)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ufuzzy_spark.config import MatchConfig, PipelineConfig
from ufuzzy_spark.session import broadcast_once

VERIFY_SCHEMA = StructType(
    [
        StructField("score", DoubleType()),
        StructField("is_dup", BooleanType()),
        StructField("terms_a", IntegerType()),
        StructField("terms_b", IntegerType()),
        StructField("matched_a", IntegerType()),
        StructField("matched_b", IntegerType()),
        StructField("exact", BooleanType()),
    ]
)

# per-executor verifier cache keyed by config hash (compile-once);
# the pair_features UDF takes its oracle from here too
_VERIFIERS: dict = {}


def _get_verifier(pcfg_tuple):
    from ufuzzy_spark.pairdup import PairVerifier

    if pcfg_tuple not in _VERIFIERS:
        match_kw, pipe_kw = pcfg_tuple
        pcfg = PipelineConfig(match=MatchConfig(**dict(match_kw)), **dict(pipe_kw))
        _VERIFIERS[pcfg_tuple] = PairVerifier(pcfg)
    return _VERIFIERS[pcfg_tuple]


def _pcfg_tuple(pcfg: PipelineConfig):
    """Picklable, hashable config representation for executor closures."""
    from dataclasses import asdict

    d = asdict(pcfg)
    match = d.pop("match")
    match["intraSlice"] = tuple(match["intraSlice"])
    return (tuple(sorted(match.items())), tuple(sorted(d.items())))


def make_verify_udf(pcfg: PipelineConfig):
    key = _pcfg_tuple(pcfg)

    @F.pandas_udf(VERIFY_SCHEMA)
    def verify_udf(norm_a: pd.Series, norm_b: pd.Series) -> pd.DataFrame:
        # bind once; the batch loop is the hot path
        verify = _get_verifier(key).verify
        rows = [
            verify(a if isinstance(a, str) else "", b if isinstance(b, str) else "")
            for a, b in zip(norm_a, norm_b)
        ]
        cols = list(zip(*((r.score, r.is_dup, r.terms_a, r.terms_b,
                           r.matched_a, r.matched_b, r.exact) for r in rows)))
        if not cols:
            cols = [[] for _ in range(7)]
        names = ("score is_dup terms_a terms_b matched_a matched_b exact").split()
        return pd.DataFrame(dict(zip(names, cols)))

    return verify_udf


# Bytes per text row that a broadcast window attach builds: one
# relation (url + the 2 x verify_window_chars window, ~1,043 B/row
# measured) that both the url_a and url_b sides read.
WINDOW_ATTACH_ROW_BYTES = 1_100


def _attach_windows(
    pairs: DataFrame, normed: DataFrame, pcfg: PipelineConfig, broadcast_texts: bool
) -> DataFrame:
    """pairs + norm_a/norm_b: each side's first 2 x verify_window_chars
    of norm_text, attached by two equi-joins on url_a, then url_b.

    Only the window is shuffled, never the full document. With
    ``broadcast_texts`` the window table is broadcast as one relation
    both sides reuse, so the (much larger) pair table is not shuffled
    twice by the attach joins.
    """
    win = 2 * pcfg.verify_window_chars
    texts = broadcast_once(
        normed.select("url", F.substring("norm_text", 1, win).alias("norm_win")),
        broadcast_texts,
    )
    for side in ("a", "b"):
        pairs = pairs.join(
            texts.select(
                F.col("url").alias(f"url_{side}"),
                F.col("norm_win").alias(f"norm_{side}"),
            ),
            f"url_{side}",
        )
    return pairs


def verify_pairs(
    pairs: DataFrame,
    normed: DataFrame,
    pcfg: PipelineConfig | None = None,
    broadcast_texts: bool = False,
) -> DataFrame:
    """(url_a, url_b) x normed(url, norm_text) -> pair_features.

    Returns all columns of VERIFY_SCHEMA plus the pair key; callers
    filter ``is_dup`` (discard ≙ WHERE, uFuzzy.mjs:556-558).

    ``broadcast_texts``: the pair table is usually orders of magnitude
    larger than the doc table (hundreds of candidate pairs per doc),
    so the two attach joins otherwise shuffle the pair table twice —
    by url_a, then again by url_b (guide §8: the attach join sneaks
    the payload shuffle back in). Callers that have COUNTED the text
    side pass ``session.fits_broadcast(n, WINDOW_ATTACH_ROW_BYTES)``.
    Off by default: ``normed`` is data-dependent, and an unguarded
    broadcast of an unbounded frame can exhaust the driver.
    """
    pcfg = pcfg or PipelineConfig()
    joined = _attach_windows(pairs, normed, pcfg, broadcast_texts)
    vu = make_verify_udf(pcfg)
    # passthrough: any extra columns on `pairs` (e.g. the incremental
    # path's hash_lo/hash_hi) ride through, so callers don't pay a
    # join-back against the pair table to recover them
    return joined.withColumn("v", vu("norm_a", "norm_b")).select(
        *pairs.columns, "v.*"
    )
