"""Pairwise duplicate predicate — uFuzzy semantics over candidate pairs.

The reference matches one short needle against haystack entries
(/root/reference/src/uFuzzy.mjs:766-911). For dedup we reinterpret it
per BASELINE.json north_star / SURVEY.md §2.1: doc B is a near-dup of
doc A iff, treating a bounded window of A's normalized text as the
needle and B's text as the haystack entry (and symmetrically), the
per-term bounded-edit predicate holds for >= θ of the window terms.

Term-level matching is the REFERENCE predicate verbatim: each term is
compiled by the oracle's ``prep_query`` (single-term form — the same
regexes uFuzzy's OOO pre-reduction pass runs per term,
uFuzzy.mjs:812-828) and tested with ``re.search``. Out-of-order
semantics come for free: term containment is order-invariant, which
is exactly why the permutation fan-out (uFuzzy.mjs:835-858) is
unnecessary at scale.

This module is PURE PYTHON (+pandas-friendly) and is shared by:
- ``fixtures/gen.py``       — labels golden pairs (the recall oracle)
- ``operators/verify.py``   — inside the Spark pandas UDF

so the pipeline's verify stage cannot drift from the oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from ufuzzy_spark.config import PipelineConfig
from ufuzzy_spark.latinize import latinize
from ufuzzy_spark.oracle import UFuzzyOracle


@dataclass(frozen=True)
class PairFeatures:
    """Per-pair counters — the dedup reinterpretation of the reference's
    Info struct (dist/uFuzzy.d.ts:175-207; SURVEY.md §1)."""

    score: float          # symmetric matched-term fraction
    is_dup: bool          # score >= theta
    terms_a: int          # window terms taken from A
    terms_b: int
    matched_a: int        # A-window terms found in B
    matched_b: int
    exact: bool           # normalized texts byte-identical


def normalize_text(text: str) -> str:
    """The pipeline's canonical normalization: latinize + casefold.

    Mirrors the reference's pre-match canonicalization (latinize util
    uFuzzy.mjs:927-983 + toLocaleLowerCase :70). Must stay identical
    to operators/normalize.py's Spark-side expression.
    """
    return latinize(text).lower()


class PairVerifier:
    """Compile-once pair verifier (one per PipelineConfig, reused
    across all pairs of a batch — the reference's compile-once query
    plan pattern, uFuzzy.mjs:222-226,397)."""

    def __init__(self, pcfg: PipelineConfig | None = None):
        self.pcfg = pcfg or PipelineConfig()
        self.oracle = UFuzzyOracle(self.pcfg.match)
        self.theta = self.pcfg.verify_min_term_frac
        self.window = self.pcfg.verify_window_chars
        # term regexes are shared across pairs — LRU keeps the hot
        # vocabulary compiled (the prefixCache idea, demos/compare.html:562)
        self._term_re = lru_cache(maxsize=65536)(self._compile_term)
        # docs appear in many candidate pairs; cache their window terms
        self.window_terms = lru_cache(maxsize=16384)(self._window_terms)
        # fast path: with intraMode 0 / intraIns 0 (default config) a
        # split() term's compiled regex is a LITERAL (chars joined by
        # an empty insert template, uFuzzy.mjs:342-359), so Python's C
        # substring search is exact; fuzzier configs use it as the
        # cheap subcase check (an exact occurrence always satisfies
        # the bounded-edit predicate) before falling back to regex.
        cfg = self.pcfg.match.resolved()
        self._fuzzy_fallback = cfg.intraMode == 1 or (cfg.intraIns or 0) > 0

    def _compile_term(self, term: str):
        q = self.oracle.prep_query(term)
        return q[0] if q else None

    def _window_terms(self, norm_text: str) -> tuple[str, ...]:
        """Dedup'd window terms, longest-first (the reference's
        most-selective-first AND reduction order, uFuzzy.mjs:820)."""
        terms = self.oracle.split(norm_text[: self.window])
        # short terms (<2 chars) carry no signal and explode fan-out
        uniq = {t for t in terms if len(t) >= 2}
        return tuple(sorted(uniq, key=len, reverse=True))

    def _matched_fraction(self, terms, other: str) -> tuple[int, int]:
        # NB: a token-set-intersection prefilter was tried here (build
        # frozenset(tokens(other)) once, settle hits via set &) and
        # MEASURED AS A PESSIMIZATION on the real corpus: true-dup
        # pairs find terms at small offsets (shared prefixes), so the
        # early-exit C substring scan beats paying a full window
        # tokenize+hash per (pair, side) under LRU miss — +69% verify
        # stage wall at 300k docs. Keep the scan loop.
        matched = 0
        for t in terms:
            if t in other:  # literal containment (see __init__)
                matched += 1
            elif self._fuzzy_fallback:
                rx = self._term_re(t)
                if rx is not None and rx.search(other):
                    matched += 1
        return matched, len(terms)

    def verify(self, norm_a: str, norm_b: str) -> PairFeatures:
        """Symmetric bounded-edit verification of one candidate pair."""
        if norm_a == norm_b:
            n = len(self.window_terms(norm_a))
            return PairFeatures(1.0, True, n, n, n, n, True)

        terms_a = self.window_terms(norm_a)
        terms_b = self.window_terms(norm_b)
        if not terms_a or not terms_b:
            return PairFeatures(0.0, False, len(terms_a), len(terms_b), 0, 0, False)

        # scan window of the other side too: candidate pairs come from
        # shingle LSH, so true dups overlap within the window bound
        other_b = norm_b[: 2 * self.window]
        other_a = norm_a[: 2 * self.window]

        m_a, n_a = self._matched_fraction(terms_a, other_b)
        m_b, n_b = self._matched_fraction(terms_b, other_a)

        score = 0.5 * (m_a / n_a + m_b / n_b)
        return PairFeatures(
            score, score >= self.theta, n_a, n_b, m_a, m_b, False
        )

    def is_dup(self, text_a: str, text_b: str) -> bool:
        """Raw-text convenience (normalizes first)."""
        return self.verify(normalize_text(text_a), normalize_text(text_b)).is_dup
