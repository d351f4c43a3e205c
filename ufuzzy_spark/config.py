"""Frozen match + pipeline configuration.

``MatchConfig`` mirrors the reference option surface 1:1 (names and
defaults from /root/reference/src/uFuzzy.mjs:22-111, documented at
/root/reference/README.md:316-437 and dist/uFuzzy.d.ts:104-173).
``PipelineConfig`` adds the dedup-pipeline-only knobs (shingling,
signature, LSH, skew) that the recall criterion is defined "at"
(BASELINE.json: recall >= 0.99 at the same shingle/signature config).

Both are hashable into ``config_hash`` which is recorded in the
lineage/metrics tables so resume + recall claims are machine-checkable.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import asdict, dataclass, field


_INF = math.inf

# Languages the dedup pipeline takes in; batch (run_pipeline) and
# incremental ingest read the same tuple, so their clusters agree.
DEDUP_LANGS: tuple[str, ...] = ("en",)


@dataclass(frozen=True)
class MatchConfig:
    """uFuzzy option surface (reference defaults).

    Field names intentionally keep the reference's camelCase so the
    config table in SURVEY.md §2.3 maps 1:1.
    """

    unicode: bool = False
    alpha: str | None = None
    # `letters` is the reference's newer alias for `alpha`
    # (uFuzzy.mjs:152: `opts.letters ?? opts.alpha`)
    letters: str | None = None

    # term segmentation & punct/whitespace merging (uFuzzy.mjs:29-31)
    interSplit: str = "[^A-Za-z\\d']+"
    intraSplit: str = "[a-z][A-Z]"

    # boundary classes for lft2/rgt2 and lft1/rgt1 counters (:33-35)
    interBound: str = "[^A-Za-z\\d]"
    intraBound: str = "[A-Za-z]\\d|\\d[A-Za-z]|[a-z][A-Z]"

    # inter-bounds mode: 2 strict, 1 loose, 0 any (:41-42)
    interLft: int = 0
    interRgt: int = 0

    # allowance between terms (:45-46)
    interChars: str = "."
    interIns: float = _INF

    # allowance between chars in terms (:49-52)
    intraChars: str = "[a-z\\d']"
    intraIns: int | None = None
    intraContr: str = "'[a-z]{1,2}\\b"

    # 0 = MultiInsert, 1 = SingleError (:55)
    intraMode: int = 0

    # single-error bounds; default requires exact first char (:58)
    intraSlice: tuple[float, float] = (1, _INF)

    # single-error tolerance toggles; None -> follow intraMode (:61-63)
    intraSub: int | None = None
    intraTrn: int | None = None
    intraDel: int | None = None

    def resolved(self) -> "MatchConfig":
        """Apply the ``?? intraMode`` defaulting (uFuzzy.mjs:146-149)."""
        m = self.intraMode
        return MatchConfig(
            **{
                **asdict(self),
                "alpha": self.letters if self.letters is not None else self.alpha,
                "intraIns": m if self.intraIns is None else self.intraIns,
                "intraSub": m if self.intraSub is None else self.intraSub,
                "intraTrn": m if self.intraTrn is None else self.intraTrn,
                "intraDel": m if self.intraDel is None else self.intraDel,
                "intraSlice": tuple(self.intraSlice),
            }
        )


@dataclass(frozen=True)
class PipelineConfig:
    """Dedup-pipeline knobs layered over MatchConfig.

    LSH s-curve: p(candidate) = 1 - (1 - s^rows_per_band)^bands.
    Defaults (16 bands x 8 rows, 128 perms) put the 50% threshold at
    s ≈ (1/16)^(1/8) ≈ 0.71 and ≈ 1.0 at s >= 0.9 — single-char edits
    on >=200-char docs keep shingle Jaccard >= 0.9, which is what the
    fixture dup classes produce (FIXTURES.md F2).
    """

    match: MatchConfig = field(default_factory=MatchConfig)

    # normalization / shingling
    shingle_k: int = 5                 # char k-grams over normalized text
    # signature 1: char-shingle MinHash over original-order text
    num_perm: int = 128                # MinHash permutations
    bands: int = 16
    rows_per_band: int = 8
    # signature 2: token-bag MinHash (order-invariant OOO catcher).
    # 4 bands x 8 rows -> s50 = (1/4)^(1/8) ≈ 0.84 bag-Jaccard: above
    # the random-pair tail (~0.6 on homogeneous corpora) and far below
    # OOO dups (bag-Jaccard 1.0 by construction)
    bag_num_perm: int = 32
    bag_bands: int = 4
    bag_rows: int = 8
    simhash_max_hamming: int = 3
    # bumped when the persisted signature-stage layout changes (r3:
    # band hashes folded in the UDF; the "signatures" checkpoint is now
    # (url, band_hashes, simhash)) — invalidates stale resume state
    # via config_hash
    sig_stage_version: int = 2
    # candidate generation hygiene
    max_bucket_size: int = 200         # bigger buckets -> overflow path
    salt_buckets: int = 8              # salt fan-out for hot band keys
    # verification
    verify_window_chars: int = 512     # needle window from doc A
    verify_min_term_frac: float = 0.8  # θ: fraction of window terms that
                                       # must pass the bounded-edit predicate
    # suffix/exact-substring branch
    min_exact_substring: int = 64
    # partitioning
    num_partitions: int = 32

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}x{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.bag_bands * self.bag_rows != self.bag_num_perm:
            raise ValueError(
                f"bag_bands*bag_rows ({self.bag_bands}x{self.bag_rows}) "
                f"must equal bag_num_perm ({self.bag_num_perm})"
            )

    def config_hash(self) -> str:
        def _default(o):
            if o == _INF:
                return "inf"
            return str(o)

        payload = json.dumps(asdict(self), sort_keys=True, default=_default)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
