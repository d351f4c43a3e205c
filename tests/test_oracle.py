"""Pin the pure-Python oracle to the reference's documented behavior.

Every case cites the reference doc/source line it reproduces
(FIXTURES.md F3). These are the contracts the dedup verify UDF
inherits.
"""

import math

import pytest

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.latinize import latinize
from ufuzzy_spark.oracle import (
    EXACT_HERE,
    UFuzzyOracle,
    highlight,
    permute,
    permute_sorted,
)

INF = math.inf


@pytest.fixture(scope="module")
def uf():
    return UFuzzyOracle(MatchConfig())


# -- split (uFuzzy.mjs:228-246) -------------------------------------- #

def test_split_basic(uf):
    assert uf.split("feed cat") == ["feed", "cat"]
    assert uf.split("  Feed,   the.CAT!! ") == ["feed", "the", "cat"]
    # the reference's \d (JS, like Java's and RE2's) is [0-9]: other
    # Unicode digits are split characters, not term characters
    assert uf.split("abc \u0661\u0662\u0663 x") == ["abc", "x"]


def test_split_keepcase_camel(uf):
    # camelCase split happens after casefold -> only visible w/ keep_case
    assert uf.split("MegaMan") == ["megaman"]
    assert uf.split("MegaMan", keep_case=True) == ["Mega", "Man"]


def test_split_quoted_exact(uf):
    # quoted phrases survive verbatim (uFuzzy.mjs:169,229-234)
    assert uf.split('match "C++" here') == ["match", '"C++"', "here"]
    # the stash placeholder (uFuzzy.mjs:11) written in the text itself
    # is an ordinary word once the quoted spans are used up
    assert uf.split(f"{EXACT_HERE} alpha") == [EXACT_HERE, "alpha"]
    assert sorted(uf.split(f'{EXACT_HERE} "q" z')) == sorted(
        [EXACT_HERE, '"q"', "z"]
    )


def test_split_empty_nonsearchable(uf):
    assert uf.split("!!! ...") == []


# -- filter, intraMode 0 (README.md options table) ------------------- #

def test_filter_cat_intra_ins_0(uf):
    hs = ["cat", "scat", "catch", "vacate", "cart", "chapter", "outcast", "dog"]
    assert uf.filter(hs, "cat") == [0, 1, 2, 3]


def test_filter_cat_intra_ins_1():
    uf = UFuzzyOracle(MatchConfig(intraIns=1))
    hs = ["cat", "scat", "catch", "vacate", "cart", "chapter", "outcast", "dog"]
    assert uf.filter(hs, "cat") == [0, 1, 2, 3, 4, 5, 6]


def test_filter_inter_ins(uf):
    # README: interIns=Infinity matches 'where have blah wisdom'; 5 doesn't
    hs = ["where is", "where have blah wisdom"]
    assert uf.filter(hs, "where is") == [0, 1]
    uf5 = UFuzzyOracle(MatchConfig(interIns=5))
    assert uf5.filter(hs, "where is") == [0]


def test_filter_feed_cat_readme_example(uf):
    # README.md:139-181
    hs = [
        "puzzle",
        "Super Awesome Thing (now with stuff!)",
        "FileName.js",
        "/feeding/the/catPic.jpg",
    ]
    idxs = uf.filter(hs, "feed cat")
    assert idxs == [3]
    info = uf.info(idxs, hs, "feed cat")
    assert info["idx"] == [3]
    order = uf.sort(info, hs, "feed cat")
    assert [info["idx"][o] for o in order] == [3]


def test_filter_nonsearchable_returns_none(uf):
    assert uf.filter(["a"], "!!!") is None


# -- digits exact (uFuzzy.mjs:185,275-276) --------------------------- #

def test_digits_match_exactly_in_single_error_mode():
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    hs = ["version 12345", "version 12445", "modul 5"]
    # digit-run must match exactly: no sub/ins/del tolerance
    assert uf.filter(hs, "12345") == [0]
    # alpha part may fuzz, digits must not
    assert uf.filter(hs, "module 5") == [2]


def test_js_digit_class_is_ascii():
    # JS \d is [0-9]: Arabic-Indic digits are ordinary non-digit chars,
    # so they get the alpha ladder and count as an inter boundary
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    assert uf.intra_rules("١٢٣٤٥") == uf.intra_rules("abcde")
    assert uf.intra_rules("12345") != uf.intra_rules("abcde")
    assert uf.inter_bound_re.search("١")
    assert not uf.intra_bound_re.search("a١")


# -- intraMode 1 SingleError (README How-It-Works examples) ---------- #

@pytest.mark.parametrize(
    "needle",
    ["example", "examplle", "exemple", "exmaple", "exmple"],
)
def test_single_error_needles_match_example(needle):
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    assert uf.filter(["an example here"], needle) == [0]


def test_single_error_never_matches_extra_maple():
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    assert uf.filter(["extra maple"], "example") == []


def test_short_term_ladder():
    # 1-2 chars exact; 3 chars allow 1 transposition; 4 chars +1 insertion
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    assert uf.filter(["ab here"], "ba") == []          # len2: exact only
    assert uf.filter(["abc here"], "bac") == []        # 1st char is exact
    assert uf.filter(["abc here"], "acb") == [0]       # len3: 1 trn ok
    assert uf.filter(["abc here"], "axc") == []        # len3: no sub
    assert uf.filter(["abcd here"], "abxcd") == [0]    # len4: 1 ins ok
    assert uf.filter(["abcd here"], "abd") == []       # len3: no del


# -- boundaries: interLft/interRgt on 'mania' (README table) --------- #

def test_inter_lft_modes():
    hs = ["romanian", "TrackMania", "maniac", "maniacally", "mania_foo"]
    uf0 = UFuzzyOracle(MatchConfig())
    assert uf0.filter(hs, "mania") == [0, 1, 2, 3, 4]

    uf1 = UFuzzyOracle(MatchConfig(interLft=1))
    idxs = uf1.filter(hs, "mania")
    info = uf1.info(idxs, hs, "mania")
    # loose: case-change (TrackMania) and start-of-string ok; romanian out
    assert info["idx"] == [1, 2, 3, 4]

    uf2 = UFuzzyOracle(MatchConfig(interLft=2))
    idxs = uf2.filter(hs, "mania")
    info = uf2.info(idxs, hs, "mania")
    # strict: only whitespace/punct/start boundaries
    assert info["idx"] == [2, 3, 4]


def test_inter_rgt_modes():
    hs = ["romanian", "ManiaStar", "mania_foo", "mania bar"]
    uf1 = UFuzzyOracle(MatchConfig(interRgt=1))
    idxs = uf1.filter(hs, "mania")
    info = uf1.info(idxs, hs, "mania")
    assert info["idx"] == [1, 2, 3]

    uf2 = UFuzzyOracle(MatchConfig(interRgt=2))
    idxs = uf2.filter(hs, "mania")
    info = uf2.info(idxs, hs, "mania")
    assert info["idx"] == [2, 3]


# -- lookahead: prefer 'Test' over 'tTest' (uFuzzy.mjs:296-299) ------ #

def test_manifest_test_lookahead_ranges():
    uf = UFuzzyOracle(MatchConfig(intraIns=1))
    hs = ["ManifestTest"]
    idxs = uf.filter(hs, "test")
    info = uf.info(idxs, hs, "test")
    # match should be the trailing 'Test', not 't...Test'
    assert info["start"] == [8]
    assert info["ranges"] == [[8, 12]]
    assert info["intraIns"] == [0]


# -- refine: exact occurrence in junk (uFuzzy.mjs:524-539) ----------- #

def test_refine_blob_bob():
    uf = UFuzzyOracle(MatchConfig(intraIns=1))
    hs = ["blob bob"]
    idxs = uf.filter(hs, "bob")
    info = uf.info(idxs, hs, "bob")
    # exact 'bob' exists later; refine should snap to it
    assert info["chars"] == [3]
    assert info["intraIns"] == [0]
    assert info["ranges"] == [[5, 8]]


# -- contractions (uFuzzy.mjs:52,258-262) ---------------------------- #

def test_contraction_suffix():
    uf = UFuzzyOracle(MatchConfig())
    hs = ["player's guide", "players guide", "play guide"]
    assert uf.filter(hs, "player's") == [0]


# -- negations + search (uFuzzy.mjs:772-801,873-874) ----------------- #

def test_search_negations(uf):
    hs = ["green apple", "red apple", "apple melon", "banana"]
    idxs, info, order = uf.search(hs, "apple -green -melon")
    assert idxs == [1]


def test_search_negs_only_complement(uf):
    hs = ["green apple", "red apple", "melon"]
    idxs, info, order = uf.search(hs, "-green")
    assert idxs == [1, 2]
    assert info is None and order is None


def test_search_empty_needle_aborts(uf):
    assert uf.search(["a", "b"], "...") == (None, None, None)


# -- out-of-order (uFuzzy.mjs:812-858) ------------------------------- #

def test_search_out_of_order(uf):
    hs = ["cat feeder", "feed the cat", "dog feeder"]
    idxs, _, _ = uf.search(hs, "cat feed", out_of_order=True)
    assert sorted(idxs) == [0, 1]
    # without ooo, only needle-order matches
    idxs2, _, _ = uf.search(hs, "cat feed")
    assert idxs2 == [0]


def test_search_ooo_term_cap(uf):
    hs = ["a b c d e f g"]
    # 7 terms > cap 5 -> unranked filter-only result
    idxs, info, order = uf.search(hs, "g f e d c b a", out_of_order=True)
    assert idxs == [0]
    assert info is None and order is None


def test_info_thresh_gate(uf):
    hs = ["cat"] * 10
    idxs, info, order = uf.search(hs, "cat", info_thresh=5)
    assert len(idxs) == 10
    assert info is None and order is None


# -- sort comparator (uFuzzy.mjs:74-110) ----------------------------- #

def test_sort_prefers_contiguous_then_boundary():
    uf = UFuzzyOracle(MatchConfig(intraIns=1))
    hs = ["xcxaxtx", "concat", "cat"]
    idxs, info, order = uf.search(hs, "cat")
    ranked = [hs[info["idx"][o]] for o in order]
    # exact standalone term first, then embedded contiguous, then fuzzed
    assert ranked == ["cat", "concat", "xcxaxtx"]


# -- latinize (uFuzzy.mjs:927-983) ----------------------------------- #

def test_latinize_map():
    assert latinize("čeština İstanbul Łódź ýñ") == "cestina Istanbul Lodz yn"
    assert latinize(["café", "naïve"]) == ["cafe", "naive"]


# -- permute (uFuzzy.mjs:986-1010,1034-1044) ------------------------- #

def test_permute_heaps_count_and_order():
    out = permute([1, 2, 3])
    assert len(out) == 6
    assert out[0] == [1, 2, 3]
    assert sorted(map(tuple, out)) == sorted(
        map(tuple, permute_sorted([1, 2, 3]))
    )


def test_permute_sorted_is_lexicographic():
    out = permute_sorted(["a", "b", "c"])
    assert out[0] == ["a", "b", "c"]
    assert out == sorted(out)


# -- PairVerifier terms (pairdup.py) --------------------------------- #

def test_window_terms_keep_quoted_spans():
    # split() stashes a "..." span as one term before splitting on
    # interSplit, so batch_dedup's predicate sees '"8"', not '8'
    from ufuzzy_spark.pairdup import PairVerifier

    assert '"8"' in PairVerifier().window_terms('x{shard="8"} y')


def test_pair_verifier_literal_placeholder():
    from ufuzzy_spark.pairdup import PairFeatures, PairVerifier

    got = PairVerifier().verify(
        f"{EXACT_HERE} alpha beta gamma", "alpha beta gamma delta"
    )
    assert got == PairFeatures(0.75, False, 4, 4, 3, 3, False)


# -- highlight (uFuzzy.mjs:1012-1031) -------------------------------- #

def test_highlight_ranges():
    assert (
        highlight("feed the cat", [0, 4, 9, 12])
        == "<mark>feed</mark> the <mark>cat</mark>"
    )
