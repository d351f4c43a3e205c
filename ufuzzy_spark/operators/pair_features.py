"""Per-pair reference Info counters — the pair_features table.

The dedup reinterpretation of the reference's Info struct
(dist/uFuzzy.d.ts:175-207; SURVEY.md §1): for a candidate/verified
pair, treat a bounded needle built from doc A's window terms as the
query and doc B's window as the haystack entry, run the ORACLE's
info() pass (oracle.py — differential-tested against the reference),
and emit the full counter set:

    chars, terms, cases, intra_ins, inter_ins,
    lft2, lft1, rgt2, rgt1, start, ranges (flattened highlight spans)

Needle construction: the first ``needle_terms`` terms of A's window
in document order (the reference's own OOO cap is 5 terms,
uFuzzy.mjs:763). If the in-order multi-term needle doesn't match
(e.g. order-permuted dups), we degrade to the longest single term —
counters then describe that term's match evidence. ``matched_terms``
records how many needle terms the emitted counters cover.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

from ufuzzy_spark.config import PipelineConfig
from ufuzzy_spark.operators.verify import _attach_windows, _get_verifier, _pcfg_tuple

PAIR_FEATURES_SCHEMA = StructType(
    [
        StructField("matched", BooleanType()),
        StructField("matched_terms", IntegerType()),
        StructField("start", IntegerType()),
        StructField("chars", IntegerType()),
        StructField("terms", IntegerType()),
        StructField("cases", IntegerType()),
        StructField("intra_ins", IntegerType()),
        StructField("inter_ins", IntegerType()),
        StructField("lft2", IntegerType()),
        StructField("lft1", IntegerType()),
        StructField("rgt2", IntegerType()),
        StructField("rgt1", IntegerType()),
        StructField("ranges", ArrayType(IntegerType())),
    ]
)

_EMPTY = (False, 0, -1, 0, 0, 0, 0, 0, 0, 0, 0, 0, [])


def _features_for(oracle, needle_terms, norm_a, norm_b, window):
    hay = [norm_b[: 2 * window]]

    # per-term AND pre-reduction before building the in-order needle —
    # the reference's own OOO staging (uFuzzy.mjs:812-828): keep only
    # terms that individually match B, then query with those in order
    all_terms = [t for t in oracle.split(norm_a[:window]) if len(t) >= 2]
    kept = []
    for t in all_terms:
        if len(kept) == needle_terms:
            break
        if oracle.filter(hay, t):
            kept.append(t)
    if not kept:
        return _EMPTY

    needle = " ".join(kept)
    idxs = oracle.filter(hay, needle)
    used = len(kept)
    if not idxs:
        # degrade: longest single surviving term (order-permuted dups)
        needle = max(kept, key=len)
        idxs = oracle.filter(hay, needle)
        used = 1
        if not idxs:
            return _EMPTY

    info = oracle.info(idxs, hay, needle)
    if not info["idx"]:
        return _EMPTY
    return (
        True,
        used,
        info["start"][0],
        info["chars"][0],
        info["terms"][0],
        info["cases"][0],
        info["intraIns"][0],
        info["interIns"][0],
        info["interLft2"][0],
        info["interLft1"][0],
        info["interRgt2"][0],
        info["interRgt1"][0],
        [int(x) for x in info["ranges"][0]],
    )


def make_pair_features_udf(pcfg: PipelineConfig, needle_terms: int = 5):
    key = _pcfg_tuple(pcfg)
    window = pcfg.verify_window_chars

    @F.pandas_udf(PAIR_FEATURES_SCHEMA)
    def pair_features_udf(norm_a: pd.Series, norm_b: pd.Series) -> pd.DataFrame:
        # the verify stage's per-executor compile-once cache
        oracle = _get_verifier(key).oracle
        rows = [
            _features_for(
                oracle,
                needle_terms,
                a if isinstance(a, str) else "",
                b if isinstance(b, str) else "",
                window,
            )
            for a, b in zip(norm_a, norm_b)
        ]
        cols = [f.name for f in PAIR_FEATURES_SCHEMA.fields]
        return pd.DataFrame(rows, columns=cols)

    return pair_features_udf


def pair_features(
    pairs: DataFrame,
    normed: DataFrame,
    pcfg: PipelineConfig | None = None,
    needle_terms: int = 5,
    broadcast_texts: bool = False,
) -> DataFrame:
    """(url_a, url_b) x normed -> full Info-counter features per pair.

    The windows are attached exactly as ``verify_pairs`` attaches them.

    ``broadcast_texts``: as in ``verify_pairs``, callers that have
    counted ``normed`` pass ``session.fits_broadcast(n,
    WINDOW_ATTACH_ROW_BYTES)``, so the pair table is never shuffled by
    the two attach joins. Off by default: ``normed`` is data-dependent.
    """
    pcfg = pcfg or PipelineConfig()
    joined = _attach_windows(pairs, normed, pcfg, broadcast_texts)
    fu = make_pair_features_udf(pcfg, needle_terms)
    return joined.withColumn("f", fu("norm_a", "norm_b")).select(
        "url_a", "url_b", "f.*"
    )
