"""Property-based tests (hypothesis) — SURVEY.md §5 contracts."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ufuzzy_spark.config import MatchConfig, PipelineConfig
from ufuzzy_spark.oracle import UFuzzyOracle, permute, permute_sorted
from ufuzzy_spark.pairdup import PairFeatures, PairVerifier, normalize_text

WORD = st.text(alphabet=string.ascii_lowercase, min_size=5, max_size=10)
WORDS = st.lists(WORD, min_size=3, max_size=12)

# words with all-distinct chars: the reference's anti-greedy lookahead
# (uFuzzy.mjs:296-299) makes single-error needles legitimately unable
# to match repeated-char targets (verified vs node: 'aqaaaa' never
# matches 'aaaaa'), so the always-recalled property only holds without
# adjacent repetition
DISTINCT_WORD = st.lists(
    st.sampled_from(string.ascii_lowercase),
    min_size=5,
    max_size=10,
    unique=True,
).map("".join)
DISTINCT_WORDS = st.lists(DISTINCT_WORD, min_size=3, max_size=10)

_uf1 = UFuzzyOracle(MatchConfig(intraMode=1))
_uf0 = UFuzzyOracle(MatchConfig())
_pv = PairVerifier(PipelineConfig())
_pv1 = PairVerifier(PipelineConfig(match=MatchConfig(intraMode=1)))


@given(DISTINCT_WORDS, st.integers(0, 1000))
@settings(max_examples=60, deadline=None)
def test_single_error_mutation_always_recalled(words, seed):
    """Any single in-slice error in a >=5-char term must match under
    SingleError (uFuzzy.mjs:303-333)."""
    import random

    rng = random.Random(seed)
    doc = " ".join(words)
    w = rng.choice(words)
    i = rng.randrange(1, len(w) - 1)
    op = rng.choice(["sub", "del", "ins", "trn"])
    if op == "sub":
        mut = w[:i] + rng.choice([c for c in string.ascii_lowercase if c != w[i]]) + w[i + 1:]
    elif op == "del":
        mut = w[:i] + w[i + 1:]
    elif op == "ins":
        mut = w[:i] + rng.choice(string.ascii_lowercase) + w[i:]
    else:
        if w[i] == w[i + 1]:
            return
        mut = w[:i] + w[i + 1] + w[i] + w[i + 2:]
    assert _uf1.filter([doc], mut) == [0]


@given(WORDS)
@settings(max_examples=40, deadline=None)
def test_subsequence_violation_never_matches(words):
    """MultiInsert intraIns=0 requires contiguous term occurrence."""
    doc = " ".join(words)
    needle = "zqxj"  # letters chosen to be absent-ish
    if "zqxj" in doc:
        return
    assert _uf0.filter([doc], needle) == []


@given(WORDS, st.integers(0, 100))
@settings(max_examples=40, deadline=None)
def test_filter_subset_of_haystack_and_stable_order(words, seed):
    import random

    rng = random.Random(seed)
    hs = [" ".join(rng.sample(words, len(words))) for _ in range(5)]
    idxs = _uf0.filter(hs, words[0])
    assert idxs == sorted(idxs)
    assert all(0 <= i < len(hs) for i in idxs)


@given(WORDS)
@settings(max_examples=30, deadline=None)
def test_pair_verifier_symmetric_and_reflexive(words):
    a = normalize_text(" ".join(words))
    b = normalize_text(" ".join(reversed(words)))
    for pv in (_pv, _pv1):  # literal scan; intraMode=1 regex fallback
        n = len(pv.window_terms(a))
        assert pv.verify(a, a) == PairFeatures(1.0, True, n, n, n, n, True)
        assert pv.verify(a, b).score == pv.verify(b, a).score
        # an empty side has no terms to match: never a dup
        assert pv.verify(a, "") == PairFeatures(0.0, False, n, 0, 0, 0, False)
        assert pv.verify("", a) == PairFeatures(0.0, False, 0, n, 0, 0, False)


@given(WORDS)
@settings(max_examples=30, deadline=None)
def test_ooo_permutation_is_dup(words):
    """Order permutation must verify as dup (order-invariant term
    containment replaces uFuzzy's permutation fan-out)."""
    a = normalize_text(" ".join(words))
    b = normalize_text(" ".join(sorted(words)))
    assert _pv.verify(a, b).is_dup


@given(st.lists(st.integers(), min_size=1, max_size=6, unique=True))
@settings(max_examples=30, deadline=None)
def test_permute_complete_and_unique(arr):
    import math

    perms = permute(arr)
    assert len(perms) == math.factorial(len(arr))
    assert len({tuple(p) for p in perms}) == len(perms)
    # sorted wrapper orders INDEX permutations -> original order first
    # (uFuzzy.mjs:1034-1044)
    assert permute_sorted(arr)[0] == list(arr)


@given(st.text(min_size=0, max_size=80))
@settings(max_examples=60, deadline=None)
def test_split_terms_are_nonempty_and_lower(s):
    for t in _uf0.split(s):
        assert t != ""
        if t[:1] != '"':
            assert t == t.lower()


# -- multimodal parser robustness (round 3) ---------------------------- #

_MAGICS = [
    b"", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"BM", b"\xff\xd8",
    b"RIFF", b"RIFFxxxxWAVE", b"RIFFxxxxWEBP", b"fLaC", b"ID3",
    b"\xff\xfb", b"OggS", b"\x00\x00\x00\x10ftyp",
]


@settings(max_examples=300, deadline=None)
@given(
    prefix=st.sampled_from(_MAGICS),
    body=st.binary(min_size=0, max_size=300),
)
def test_header_parsers_never_raise(prefix, body):
    """parse_image_header / parse_media_header / decode_pixels /
    decode_pcm must be total over arbitrary (magic-prefixed) bytes:
    well-formed result, no exception — the contract that lets them
    run inside mapInPandas over an untrusted 100 TB corpus."""
    from ufuzzy_spark.multimodal.decode import decode_pixels, parse_image_header
    from ufuzzy_spark.multimodal.media import decode_pcm, parse_media_header

    payload = prefix + body

    fmt, w, h = parse_image_header(payload)
    assert isinstance(fmt, str) and w >= 0 and h >= 0

    m = parse_media_header(payload)
    assert isinstance(m[0], str) and len(m) == 6
    assert all(isinstance(x, int) and x >= 0 for x in m[1:])

    px = decode_pixels(payload)
    assert px is None or px.ndim == 3

    pcm = decode_pcm(payload)
    assert pcm is None or pcm.ndim == 2
