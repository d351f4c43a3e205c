"""Differential test: Python oracle vs the ACTUAL reference (node).

Runs the reference build (REF_BUILD: reference/dist/uFuzzy.cjs in the
read-only uFuzzy checkout next to this repo) through
tests/js_ref_harness.cjs on seeded random corpora across config space
and asserts identical idxs / info counters / ranges / order. This pins
the oracle far more tightly than hand-written cases; the Spark verify
UDF is in turn pinned to the oracle.

Every test is skipped when node is unavailable. The three reference
sweeps (test_parity_full_sweep, test_parity_random_fuzz_corpora,
test_parity_unicode_flag_and_letters_alias) also need REF_BUILD and are
skipped where it is absent. test_collation_matches_intl_collator and
test_intra_filt_hook_discards_matches carry only the node condition:
the collator check needs nothing but node, since the harness answers
collate cases with node's own Intl.Collator.
"""

import json
import math
import random
import shutil
import subprocess
from pathlib import Path

import pytest

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.oracle import UFuzzyOracle

NODE = shutil.which("node")
HARNESS = Path(__file__).parent / "js_ref_harness.cjs"
# the file the harness loads for search cases
REF_BUILD = Path(__file__).resolve().parents[2] / "reference" / "dist" / "uFuzzy.cjs"

pytestmark = pytest.mark.skipif(NODE is None, reason="node not available")
needs_ref_build = pytest.mark.skipif(
    not REF_BUILD.is_file(), reason=f"reference build absent: {REF_BUILD}"
)

WORDS = (
    "cat catalog category cart chapter outcast test testing contest "
    "ManifestTest latest fastest mania romanian TrackMania maniac "
    "maniacally mania_foo ManiaStar example examples exemplar sample "
    "maple extra blob bob bobby feed feeder feeding catPic puzzle "
    "super awesome thing file name player player's guide metric_name "
    "metric_type http_requests_total node_cpu_seconds UE4_Engine "
    "SteamGame2023 wordlist12 45 2023 v1 v2 alpha beta GammaRay "
    "naive cafe resume divide dividend"
).split()


def make_corpus(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        k = rng.randint(1, 6)
        out.append(" ".join(rng.choice(WORDS) for _ in range(k)))
    return out


def run_reference(cases: list[dict]) -> list[dict]:
    proc = subprocess.run(
        [NODE, str(HARNESS)],
        input=json.dumps(cases).encode(),
        capture_output=True,
        check=True,
    )
    return json.loads(proc.stdout)


def to_match_config(opts: dict) -> MatchConfig:
    kw = {k: v for k, v in opts.items() if k != "compare"}
    if kw.get("interIns") == "inf":
        kw["interIns"] = math.inf
    if "intraSlice" in kw:
        kw["intraSlice"] = tuple(kw["intraSlice"])
    return MatchConfig(**kw)


CONFIGS = [
    {},                                  # defaults: MultiInsert, intraIns=0
    {"intraIns": 1},
    {"intraMode": 1},                    # SingleError
    {"intraMode": 1, "intraIns": 1},
    {"interLft": 1},
    {"interLft": 2},
    {"interRgt": 1},
    {"interRgt": 2},
    {"interLft": 2, "interRgt": 2},
    {"interIns": 4},
    {"intraMode": 1, "interLft": 1, "interRgt": 1},
    {"intraChars": "[a-z\\d\\' ]", "intraIns": 1},
    {"interChars": "[^a-z\\d]", "intraMode": 1},
    {"intraSlice": [0, 1000], "intraMode": 1},
    {"alpha": "a-zążśźęćńół"},
]

NEEDLES = [
    "cat",
    "test",
    "mania",
    "example",
    "exmaple",
    "feed cat",
    "super thing",
    "metric name",
    "player's",
    '"cat"',
    "cat -dog",
    "apple -green -melon",
    "tst",
    "catx",
    "2023",
    "45",
    "cat 45",
    "maniacally test",
    "a",
    "xyzzy",
]


def _build_cases():
    rng = random.Random(42)
    corpus = make_corpus(rng, 300)
    cases = []
    for cfg in CONFIGS:
        for needle in NEEDLES:
            cases.append(
                {
                    "haystack": corpus,
                    "needle": needle,
                    "opts": {**cfg, "compare": "plain"},
                    "outOfOrder": 0,
                }
            )
    # out-of-order cases (default + fuzzier configs)
    for cfg in ({}, {"intraIns": 1}, {"intraMode": 1}):
        for needle in ("cat feed", "thing super awesome", "name metric http"):
            cases.append(
                {
                    "haystack": corpus,
                    "needle": needle,
                    "opts": {**cfg, "compare": "plain"},
                    "outOfOrder": 5,
                }
            )
    return cases


INFO_KEYS = (
    "idx start chars cases terms interIns intraIns "
    "interLft2 interRgt2 interLft1 interRgt1 ranges"
).split()


@pytest.fixture(scope="module")
def parity_results():
    cases = _build_cases()
    ref = run_reference(cases)
    return cases, ref


@needs_ref_build
def test_parity_full_sweep(parity_results):
    cases, ref = parity_results
    import functools

    @functools.lru_cache(maxsize=None)
    def get_oracle(cfg_json):
        uf = UFuzzyOracle(to_match_config(json.loads(cfg_json)))
        uf.compare = lambda a, b: (a > b) - (a < b)  # plain cmp, as JS side
        return uf

    mismatches = []
    for case, expected in zip(cases, ref):
        opts = {k: v for k, v in case["opts"].items() if k != "compare"}
        uf = get_oracle(json.dumps(opts, sort_keys=True))
        idxs, info, order = uf.search(
            case["haystack"], case["needle"], case["outOfOrder"]
        )

        tag = f"needle={case['needle']!r} opts={opts} ooo={case['outOfOrder']}"
        if idxs != expected["idxs"]:
            mismatches.append(f"{tag}: idxs {idxs} != {expected['idxs']}")
            continue
        einfo = expected["info"]
        if (info is None) != (einfo is None):
            mismatches.append(f"{tag}: info None-ness differs")
            continue
        if einfo is not None:
            for key in INFO_KEYS:
                got, exp = info.get(key, []), einfo.get(key) or []
                if list(got) != list(exp):
                    mismatches.append(
                        f"{tag}: info[{key}] {got} != {exp}"
                    )
        if order != expected["order"] and expected["order"] is not None:
            mismatches.append(f"{tag}: order {order} != {expected['order']}")

    assert not mismatches, "\n".join(mismatches[:20]) + (
        f"\n... {len(mismatches)} total" if len(mismatches) > 20 else ""
    )


@needs_ref_build
def test_parity_random_fuzz_corpora():
    """Random mutated-phrase corpora — the dedup-shaped workload."""
    rng = random.Random(7)
    base = make_corpus(rng, 120)

    def mutate(s: str) -> str:
        if len(s) < 4:
            return s
        i = rng.randrange(1, len(s) - 2)
        op = rng.choice("ins del sub trn".split())
        if op == "ins":
            return s[:i] + rng.choice("abcdefghij") + s[i:]
        if op == "del":
            return s[:i] + s[i + 1:]
        if op == "sub":
            return s[:i] + rng.choice("abcdefghij") + s[i + 1:]
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]

    corpus = base + [mutate(s) for s in base[:60]]
    needles = [rng.choice(base).split()[0] for _ in range(25)]

    cases = []
    for cfg in ({}, {"intraIns": 1}, {"intraMode": 1}):
        for needle in needles:
            cases.append(
                {
                    "haystack": corpus,
                    "needle": needle,
                    "opts": {**cfg, "compare": "plain"},
                    "outOfOrder": 0,
                }
            )

    ref = run_reference(cases)
    for case, expected in zip(cases, ref):
        opts = {k: v for k, v in case["opts"].items() if k != "compare"}
        uf = UFuzzyOracle(to_match_config(opts))
        uf.compare = lambda a, b: (a > b) - (a < b)
        idxs, info, order = uf.search(case["haystack"], case["needle"])
        assert idxs == expected["idxs"], case["needle"]
        if expected["info"] is not None:
            for key in INFO_KEYS:
                got = info.get(key, [])
                exp = expected["info"].get(key) or []
                assert list(got) == list(exp), (
                    f"{case['needle']} {opts} info[{key}]"
                )
            assert order == expected["order"], case["needle"]


UNI_WORDS = (
    "café cafe naïve naive żółć zolc crème creme "
    "東京 大阪 tokyo ōsaka señor senor "
    "smile😀face star⭐light plain word mix123"
).split()


@needs_ref_build
def test_parity_unicode_flag_and_letters_alias():
    """opts.unicode=true (uFuzzy.mjs:23-24,167: the /u regex flag) and
    the `letters` alias for `alpha` (uFuzzy.mjs:152). Python strings
    are codepoint-based, matching JS /u semantics, so idxs/order must
    agree on any corpus. info start/ranges are compared only for
    BMP-only corpora: JS counts UTF-16 code units, Python counts
    codepoints — an indexing-unit divergence on astral chars
    (documented in oracle.py), not a matching divergence."""
    rng = random.Random(7)
    corpus = [
        " ".join(rng.choice(UNI_WORDS) for _ in range(rng.randint(1, 5)))
        for _ in range(120)
    ]
    bmp_only = [s for s in corpus if all(ord(c) < 0x10000 for c in s)]
    needles = ["cafe", "café", "naive", "zolc", "tokyo", "senor", "mix", "word"]

    cases = []
    for needle in needles:
        for cfg in ({"unicode": True}, {"unicode": True, "intraIns": 1},
                    {"letters": "a-zéīōàñüżółć"}):
            cases.append({"haystack": corpus, "needle": needle,
                          "opts": {**cfg, "compare": "plain"}, "outOfOrder": 0})
            cases.append({"haystack": bmp_only, "needle": needle,
                          "opts": {**cfg, "compare": "plain"}, "outOfOrder": 0})
    ref = run_reference(cases)

    for c, e in zip(cases, ref):
        assert "error" not in e, (c["needle"], e)
        uf = UFuzzyOracle(to_match_config(
            {k: v for k, v in c["opts"].items() if k != "compare"}))
        uf.compare = lambda a, b: (a > b) - (a < b)
        idxs, info, order = uf.search(c["haystack"], c["needle"])
        assert (idxs or []) == (e["idxs"] or []), (c["needle"], c["opts"])
        # start/ranges (and therefore the start-keyed rank order) are
        # UTF-16-unit-indexed in JS vs codepoint-indexed in Python, so
        # they are compared only where the corpus is BMP-only
        if c["haystack"] is bmp_only:
            if e.get("order") is not None:
                assert order == e["order"], (c["needle"], c["opts"])
            if e.get("info"):
                for key in INFO_KEYS:
                    assert info[key] == e["info"][key], (c["needle"], key)


def test_intra_filt_hook_discards_matches():
    """opts.intraFilt (uFuzzy.mjs:67,656-659): unconditional per-term
    predicate on (term, matched_group_lower, idx_acc); returning False
    discards the match. JSON can't ship a JS closure to the node
    harness, so semantics are pinned directly: rejecting any fuzzy
    (longer-than-term) group must keep only exact-group matches."""
    from ufuzzy_spark.config import MatchConfig
    from ufuzzy_spark.oracle import UFuzzyOracle

    hay = ["cat", "cxat", "the cat sat", "ca t"]
    uf = UFuzzyOracle(MatchConfig(intraIns=1))
    idxs = uf.filter(hay, "cat")
    base = uf.info(idxs, hay, "cat")
    assert base["idx"] == [0, 1, 2]  # cxat matches via 1 insert

    uf2 = UFuzzyOracle(MatchConfig(intraIns=1))
    seen = []
    def only_exact(term, group, idx):
        seen.append((term, group, idx))
        return group == term
    uf2.intra_filt = only_exact
    strict = uf2.info(idxs, hay, "cat")
    assert strict["idx"] == [0, 2]
    assert ("cat", "cxat", 0) in seen


def test_collation_matches_intl_collator():
    """The rank-tiebreak collator must match the REAL
    Intl.Collator('en', {numeric, sensitivity:'base'}) the reference
    installs as its default compare (uFuzzy.mjs:18,151) — numeric
    runs, leading zeros, case/accent ties, multi-char base folds
    (straße/STRASSE), and UCA punct < digits < letters ordering.
    Round 5 closed the residual classes via NFKD + probed punct/
    letter-weight tables: vulgar fractions, circled/super/sub
    digits, Roman numerals, between-letter primaries (ŋ ı ĸ ƒ þ) and
    DUCET punctuation order now all match; a seeded randomized sweep
    over those classes asserts zero divergence."""
    import itertools
    import random

    from ufuzzy_spark.oracle import collate_cmp

    pairs = [
        ("a1", "a01"), ("a01", "a1"), ("1.5", "1.10"), ("file2", "file10"),
        ("Apple", "apple"), ("éclair", "eclair"), ("a", "1"), ("1", "a"),
        ("", "a"), ("a", ""), ("a-b", "ab"), ("a b", "ab"), ("a.b", "a b"),
        ("x2y3", "x2y10"), ("0", "00"), ("007", "7"), ("v1.2.3", "v1.10.0"),
        ("doc 9", "doc 10"), ("a1b", "a1a"), ("Ångström", "angstrom"),
        ("naïve", "naive"), ("a'b", "ab"), ("can't", "cant"), ("z", "Z"),
        ("item-2", "item-10"), ("2a", "10"), ("12ab", "12ac"),
        ("abc", "abd"), ("ab", "abc"), ("ł", "l"), ("ß", "ss"),
        ("œuf", "oeuf"), ("½", "1"), ("a  b", "a b"), ("tab\tx", "tab x"),
        ("123abc", "123"), ("-1", "1"), ("a-1", "a1"), ("a_b", "a b"),
        ("*x", "x"), ("x!", "x"), ("3.14", "3,14"), ("no9", "no10"),
        ("æon", "aeon"), ("STRASSE", "straße"), ("r2d2", "r2d10"),
        ("...", ".."), ("a0b", "a00b"),
        # formerly-divergent classes, all healed by the NFKD key:
        ("¼", "½"), ("½", "⅓"), ("⅛", "⑩"), ("½x", "1x"),
        ("②", "⑩"), ("①", "1"), ("²", "②"), ("Ⅰ", "i"),
        ("ⅳ", "iv"), ("〸", "10"), ("⑩", "⒑"), ("ﬁ", "fi"),
        ("ĸ", "ŋ"), ("þ", "z"), ("ø", "o"), ("ð", "đ"), ("ı", "j"),
    ]
    # seeded sweep over the divergence-prone classes: randomized
    # strings plus exhaustive single-char pairs per class
    rng = random.Random(42)
    classes = (
        "abcXYZ019 _-,;:!?.'\"()@*/&#%+<=>|~$",
        "éÉàñüßœæøðđħþŋıĸƒłÅ",
        "½⅓¼⅛①②⑩²₃Ⅰⅳ〸",
        "a1½é.-*Ⅰ②z9",
    )
    for alpha in classes:
        for _ in range(150):
            a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 6)))
            b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 6)))
            pairs.append((a, b))
        pairs.extend(itertools.combinations(alpha, 2))
    ref = run_reference([{"collate": pairs, "haystack": [], "needle": ""}])
    js = ref[0]["cmp"]
    bad = []
    for (a, b), j in zip(pairs, js):
        p = collate_cmp(a, b)
        p = (p > 0) - (p < 0)
        if p != j:
            bad.append((a, b, j, p))
    assert not bad, f"{len(bad)} divergent: {bad[:20]}"
