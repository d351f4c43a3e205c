"""Pure-Python oracle for the reference matching semantics (no Spark).

Reimplements the observable behavior of uFuzzy's filter/info/sort
pipeline (reference: /root/reference/src/uFuzzy.mjs) so that every
Spark stage can be tested against ground truth. This is the
correctness anchor for BASELINE.json's "dup-pair recall >= 0.99 vs
the reference-semantics oracle".

Structure mirrors the reference (cited per function):
- ``split``        — uFuzzy.mjs:228-246
- ``intra_rules``  — uFuzzy.mjs:175-218 (default ladder)
- ``prep_query``   — uFuzzy.mjs:250-392 (3 regex shapes)
- ``filter``       — uFuzzy.mjs:394-418
- ``info``         — uFuzzy.mjs:425-752 (+refineMatch :754-761)
- ``sort``         — uFuzzy.mjs:74-110 (default comparator)
- ``search``       — uFuzzy.mjs:766-911 (negations, OOO, infoThresh)
- ``latinize``     — ufuzzy_spark.latinize (map at :929-957)
- ``permute``      — uFuzzy.mjs:986-1010, sorted wrapper :1034-1044
- ``highlight``    — uFuzzy.mjs:1015-1031

Known deliberate divergences (documented, config-gated):
- casefolding is ``str.lower``/``str.upper`` (the reference uses
  toLocaleLowerCase; identical for the default ASCII-Latin config).
- the rank tiebreak collation approximates Intl.Collator('en',
  {numeric: true, sensitivity: 'base'}) — numeric-aware,
  case/accent-insensitive (uFuzzy.mjs:18,151).
- JS ``.`` excludes \\r and U+2028/U+2029; Python ``re`` excludes only
  \\n. Normalized pipeline text never contains those chars.
- the interLft/Rgt=1 forward probe escapes the term before compiling
  (the reference compiles it raw, uFuzzy.mjs:574: quoted exact terms
  containing regex metachars CRASH it, and metachar terms that happen
  to compile — e.g. '...' — probe arbitrary text instead of the
  literal; both found by the differential fuzzer; we match the
  literal term).
"""

from __future__ import annotations

import math
import re
import unicodedata
from functools import cmp_to_key

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.latinize import latinize

INF = math.inf

EXACT_HERE = "eexxaacctt"  # uFuzzy.mjs:11
MODE2_TPL = r"(?:\b|_)"    # uFuzzy.mjs:120
QUOTED_ANY = '".+?"'       # uFuzzy.mjs:169
OOO_TERMS_LIMIT = 5        # uFuzzy.mjs:763

# JS \b (non-unicode regex) is an ASCII word boundary; Python's \b is
# Unicode. Compile-time substitution keeps boundary semantics
# identical for accented text (verified by the differential fuzzer).
ASCII_B = (
    r"(?:(?<![0-9A-Za-z_])(?=[0-9A-Za-z_])|(?<=[0-9A-Za-z_])(?![0-9A-Za-z_]))"
)


def _compile_js(pattern: str, flags: int = 0):
    """Compile a JS-semantics pattern under Python re: ASCII \\b."""
    return re.compile(pattern.replace(r"\b", ASCII_B), flags)

_ESCAPE_RE = re.compile(r"[.*+?^${}()|[\]\\]")


def escape_regexp(s: str) -> str:
    """uFuzzy.mjs:8 — escape regex metachars."""
    return _ESCAPE_RE.sub(lambda m: "\\" + m.group(0), s)


def strip_punct(s: str) -> str:
    """JS ``/\\p{P}/gu`` strip (uFuzzy.mjs:13,777)."""
    return "".join(c for c in s if not unicodedata.category(c).startswith("P"))


def lazy_repeat(chars: str, limit) -> str:
    """uFuzzy.mjs:113-118 — lazy {0,n}? quantifier template."""
    if limit == 0:
        return ""
    if limit == 1:
        return chars + "??"
    if limit == INF:
        return chars + "*?"
    return chars + "{0,%d}?" % int(limit)


# multi-char base folds Intl.Collator treats as primary-equal but
# latinize (a 1:1 char map) cannot express, plus single letters ICU
# folds to a base letter that BOTH latinize and NFKD miss (probed vs
# node: ø==o, ð==d, đ==d, ħ==h); applied after .lower()
_COLLATE_FOLDS = (
    ("ß", "ss"), ("œ", "oe"), ("æ", "ae"),
    ("ø", "o"), ("ð", "d"), ("đ", "d"), ("ħ", "h"),
)

# letters ICU gives their own primary weight BETWEEN two base letters
# (probed via a full node sort: n < ŋ < o, i < ı < j, f < ƒ < g,
# q < ĸ < r, z < þ) — keyed as a 4-tuple that tuple-compares after
# the base letter's 3-tuple and before the next letter
_LETTER_AFTER = {"þ": "z", "ŋ": "n", "ı": "i", "ĸ": "q", "ƒ": "f"}

# ICU/DUCET primary order of C0 controls + ASCII punctuation/symbols
# (probed via a node sort: controls < space < _ < - < , < ; < : < !
# < ? < . < ' < " < brackets < @ * / \\ & # % ` ^ + < = > | ~ $) —
# codepoint order is WRONG here ('.' sorts after "'", '-' before ',')
_PUNCT_RANK = {
    c: i for i, c in enumerate("\t\n\v\f\r _-,;:!?.'\"()[]{}@*/\\&#%`^+<=>|~$")
}


def _collate_key(s: str):
    """Approximate Intl.Collator('en', numeric+base) sort key
    (differentially pinned vs node in tests/test_oracle_parity.py,
    including a seeded randomized sweep over the divergence classes).

    Element classes follow UCA primary-weight regions — punctuation/
    symbols (0) < numbers (1: decimal runs compared as ints, then
    other numeric chars) < letters (2, accent/case-folded). ICU
    reaches this via compatibility decomposition, which an NFKD pass
    reproduces (probed vs node): vulgar fractions become
    numerator/fraction-slash/denominator ("½" -> "1⁄2", so the "1"
    numeric group holds ½ < ⅓ < ¼ and "⅛" < "⑩"), circled/super/sub
    digits join their plain digit's numeric run, Roman numerals fold
    to LETTERS ("Ⅰ" == "i"), and combining marks left by decomposing
    letters outside the latinize table are stripped (base
    sensitivity; 'base' also collapses ICU's secondary/tertiary
    levels, which is why same-decomposition pairs like "²" vs "②"
    tie in BOTH implementations). Zero divergence on the swept
    classes (ASCII punct/digits/letters, Latin-1/Extended-A letters,
    vulgar fractions, circled/super/sub digits, Roman numerals,
    ligatures — ~5.5k randomized + exhaustive pairs vs node in
    tests/test_oracle_parity.py). Characters outside the probed
    tables (non-Latin scripts, unprobed symbols, no-decomposition
    numerics like 〸) compare by folded codepoint — unswept, not
    known-divergent.

    The load-bearing ICU quirk (probed: "②" > "⑩" but "file2" <
    "file10"; "½x" > "1x"): numeric reinterpretation applies ONLY to
    maximal Nd runs of the ORIGINAL string, and those numeric
    elements sort by value BELOW every plain digit element produced
    by decomposition ("9" < "①") — so decomposition digits stay
    per-char, lexicographic."""
    folded = latinize(s).lower()
    for k, v in _COLLATE_FOLDS:
        if k in folded:
            folded = folded.replace(k, v)
    key = []
    i, n = 0, len(folded)
    while i < n:
        c = folded[i]
        if c.isdecimal():
            # original-string Nd run -> one numeric element (value
            # order); sorts before any decomposition-produced digit
            j = i + 1
            while j < n and folded[j].isdecimal():
                j += 1
            key.append((1, 0, int(folded[i:j])))
            i = j
            continue
        i += 1
        if c.isalpha() and ord(c) < 128:
            key.append((2, 0, ord(c)))
            continue
        for d in unicodedata.normalize("NFKD", c):
            cat = unicodedata.category(d)
            if cat == "Mn":  # base sensitivity: drop accents NFKD
                continue     # split off out-of-table letters
            d = d.lower()    # NFKD can surface uppercase (Ⅰ -> I)
            if d.isdecimal():
                key.append((1, 1, ord(d)))  # plain digit element
            elif d in _LETTER_AFTER:
                key.append((2, 0, ord(_LETTER_AFTER[d]), 1))
            elif d.isalpha():
                key.append((2, 0, ord(d)))
            elif d.isnumeric():  # no decomposition (e.g. 〸):
                key.append((1, 2, ord(d)))  # folded-codepoint residual
            elif d in _PUNCT_RANK:
                key.append((0, 0, _PUNCT_RANK[d]))
            else:  # symbols outside the probed table: codepoint residual
                key.append((0, 1, ord(d)))
    return key


def collate_cmp(a: str, b: str) -> int:
    """Numeric-aware, case/accent-insensitive compare (uFuzzy.mjs:18)."""
    ka, kb = _collate_key(a), _collate_key(b)
    return -1 if ka < kb else (1 if ka > kb else 0)


def _islice(p: str, lo, hi=None):
    """JS String.slice with possibly-infinite bounds."""
    n = len(p)
    lo = n if lo == INF else int(lo)
    if hi is None:
        return p[lo:]
    hi = n if hi == INF else int(hi)
    return p[lo:hi]


class UFuzzyOracle:
    """One instance per MatchConfig (compile-once, reuse across rows) —
    mirrors the reference's constructor closure (uFuzzy.mjs:122-226)."""

    def __init__(self, cfg: MatchConfig | None = None):
        cfg = (cfg or MatchConfig()).resolved()
        self.cfg = cfg

        # custom alphabet swap (uFuzzy.mjs:20,153-165): replace the
        # latin ranges in every char-class template with the user's
        inter_split, intra_split = cfg.interSplit, cfg.intraSplit
        inter_bound, intra_bound = cfg.interBound, cfg.intraBound
        intra_chars, intra_contr = cfg.intraChars, cfg.intraContr
        if cfg.alpha is not None:
            upper, lower = cfg.alpha.upper(), cfg.alpha.lower()

            def swap(s: str) -> str:
                # JS String.replace(string, ...) swaps only the FIRST
                # occurrence (uFuzzy.mjs:20) — mirror that quirk
                return s.replace("A-Z", upper, 1).replace("a-z", lower, 1)

            inter_split = swap(inter_split)
            intra_split = swap(intra_split)
            inter_bound = swap(inter_bound)
            intra_bound = swap(intra_bound)
            intra_chars = swap(intra_chars)
            intra_contr = swap(intra_contr)
        self._interSplit, self._intraSplit = inter_split, intra_split
        self._interBound, self._intraBound = inter_bound, intra_bound

        self.intra_ins = cfg.intraIns
        self.intra_sub = cfg.intraSub
        self.intra_trn = cfg.intraTrn
        self.intra_del = cfg.intraDel
        self.intra_mode = cfg.intraMode
        self.intra_slice = tuple(cfg.intraSlice)
        self.inter_lft = cfg.interLft
        self.inter_rgt = cfg.interRgt
        self.inter_chars = cfg.interChars
        self.inter_ins = cfg.interIns
        self.intra_chars = intra_chars

        # uFuzzy.mjs:170-171
        self.exacts_re = re.compile(QUOTED_ANY, re.I)
        self.negs_re = re.compile(
            r"(?:\s+|^)-(?:%s+|%s)" % (intra_chars, QUOTED_ANY), re.I
        )

        # uFuzzy.mjs:220-226. re.ASCII: JS \d (like Java's and RE2's)
        # is [0-9]; Python's would also match e.g. Arabic-Indic digits
        self.with_intra_split = bool(intra_split)
        self.intra_split_re = re.compile(intra_split, re.ASCII)
        self.inter_split_re = re.compile(inter_split, re.ASCII)
        self.trim_re = re.compile("^%s|%s$" % (inter_split, inter_split), re.ASCII)
        self.contrs_re = _compile_js(intra_contr, re.I)

        # uFuzzy.mjs:420-423 (re.ASCII: JS \d, as above)
        self.with_intra_bound = bool(intra_bound)
        self.inter_bound_re = re.compile(inter_bound, re.ASCII)
        self.intra_bound_re = re.compile(intra_bound, re.ASCII)

        self._num_or_alpha_re = re.compile(r"[^\d]+|\d+", re.ASCII)  # uFuzzy.mjs:248
        # bounded compile cache: PairVerifier/pair_features call
        # prep_query once per distinct corpus term, so an unbounded
        # dict grows for the executor's lifetime on large vocabularies
        # (ADVICE r1). LRU (hits refresh recency, ADVICE r2): with a
        # steady-state vocabulary slightly above the cap, FIFO would
        # evict hot keys just before reuse each scan round.
        self._query_cache: dict = {}
        self._query_cache_max = 65536

        # rank tiebreak collation (uFuzzy.mjs:18,151); override-able like
        # the reference's opts.compare (dist/uFuzzy.d.ts:170)
        self.compare = collate_cmp
        # per-term user predicate hook (uFuzzy.mjs:67,656-659): called
        # with (term, matched_group_lower, idx_acc) for every term of
        # every surviving match; returning False discards the match
        self.intra_filt = lambda term, group, idx: True

    # -- tokenize ---------------------------------------------------- #

    def split(self, needle: str, keep_case: bool = False) -> list[str]:
        """uFuzzy.mjs:228-246."""
        exacts: list[str] = []

        def stash(m):
            exacts.append(m.group(0))
            return EXACT_HERE

        needle = self.exacts_re.sub(stash, needle)
        needle = self.trim_re.sub("", needle)
        if not keep_case:
            needle = needle.lower()
        if self.with_intra_split:
            needle = self.intra_split_re.sub(
                lambda m: m.group(0)[0] + " " + m.group(0)[1], needle
            )

        out = []
        j = 0
        for t in self.inter_split_re.split(needle):
            if t == "":
                continue
            if t == EXACT_HERE and j < len(exacts):
                out.append(exacts[j])
                j += 1
            else:  # a placeholder past the stash is the text's own word
                out.append(t)
        return out

    # -- per-term error budget --------------------------------------- #

    def intra_rules(self, p: str) -> dict:
        """Default adaptive ladder (uFuzzy.mjs:175-218)."""
        _slice = (1, INF)
        _ins = _sub = _trn = _del = 0

        if re.search(r"[^0-9]", p):  # digits-only terms stay exact (JS \d)
            plen = len(p)
            if plen <= 4:
                if plen >= 3:
                    _trn = min(self.intra_trn, 1)
                    if plen == 4:
                        _ins = min(self.intra_ins, 1)
            else:
                _slice = self.intra_slice
                _ins = self.intra_ins
                _sub = self.intra_sub
                _trn = self.intra_trn
                _del = self.intra_del

        return {
            "intraSlice": _slice,
            "intraIns": _ins,
            "intraSub": _sub,
            "intraTrn": _trn,
            "intraDel": _del,
        }

    # -- query compiler ---------------------------------------------- #

    def prep_query(self, needle: str, capt: int = 0, inter_or: bool = False):
        """uFuzzy.mjs:250-392 → (compiled re, parts, contrs) or None."""
        key = (needle, capt, inter_or)
        if key in self._query_cache:
            # refresh recency (move-to-end): dict preserves insertion
            # order, so the eviction victim is always the LRU key
            out = self._query_cache.pop(key)
            self._query_cache[key] = out
            return out
        out = self._prep_query(needle, capt, inter_or)
        if len(self._query_cache) >= self._query_cache_max:
            self._query_cache.pop(next(iter(self._query_cache)))
        self._query_cache[key] = out
        return out

    def _prep_query(self, needle: str, capt: int, inter_or: bool):
        parts = self.split(needle)
        if not parts:
            return None

        # contractions detached into required suffixes (uFuzzy.mjs:257-262)
        contrs = [""] * len(parts)

        def strip_contr(pi):
            def repl(m):
                contrs[pi] = m.group(0)
                return ""
            return repl

        parts = [
            self.contrs_re.sub(strip_contr(pi), p) for pi, p in enumerate(parts)
        ]

        if self.intra_mode == 1:
            re_tpls = [
                self._term_tpl_single_error(p, contrs[pi])
                for pi, p in enumerate(parts)
            ]
        else:
            re_tpls = [
                self._term_tpl_multi_insert(p, contrs[pi], capt)
                for pi, p in enumerate(parts)
            ]

        pre_tpl = MODE2_TPL if self.inter_lft == 2 else ""
        suf_tpl = MODE2_TPL if self.inter_rgt == 2 else ""
        inter_chars_tpl = (
            suf_tpl + lazy_repeat(self.inter_chars, self.inter_ins) + pre_tpl
        )

        if capt > 0:
            if inter_or:
                # matchAll-style OR counting (uFuzzy.mjs:373-376)
                tpl = (
                    pre_tpl
                    + "("
                    + (")" + suf_tpl + "|" + pre_tpl + "(").join(re_tpls)
                    + ")"
                    + suf_tpl
                )
            else:
                tpl = "(" + (")(" + inter_chars_tpl + ")(").join(re_tpls) + ")"
                tpl = "(.??" + pre_tpl + ")" + tpl + "(" + suf_tpl + ".*)"
        else:
            tpl = pre_tpl + inter_chars_tpl.join(re_tpls) + suf_tpl

        return _compile_js(tpl, re.I), parts, contrs

    def _term_tpl_multi_insert(self, p: str, contr: str, capt: int) -> str:
        """intraMode 0 char-chain template (uFuzzy.mjs:342-360)."""
        if p[:1] == '"':
            return escape_regexp(p[1:-1])

        intra_ins_tpl = lazy_repeat(self.intra_chars, self.intra_ins)
        if capt == 2 and self.intra_ins > 0:
            # capture inter-char junk for range extraction (uFuzzy.mjs:346-350)
            intra_ins_tpl = ")(" + intra_ins_tpl + ")("

        chars = list(p)
        out = []
        for i, c in enumerate(chars):
            # neg lookahead: prefer 'Test' over 'tTest' (uFuzzy.mjs:353-357)
            if (
                self.intra_ins == 1
                and i == 0
                and len(chars) > 1
                and c != chars[i + 1]
            ):
                c += "(?!" + c + ")"
            out.append(c)
        return intra_ins_tpl.join(out) + contr

    def _term_tpl_single_error(self, p: str, contr: str) -> str:
        """intraMode 1 variant-alternation template (uFuzzy.mjs:268-340)."""
        if p[:1] == '"':
            return escape_regexp(p[1:-1])

        re_tpl = ""
        for m in self._num_or_alpha_re.finditer(p):
            chunk = m.group(0)
            rules = self.intra_rules(chunk)
            r_ins, r_sub = rules["intraIns"], rules["intraSub"]
            r_trn, r_del = rules["intraTrn"], rules["intraDel"]

            if r_ins + r_sub + r_trn + r_del == 0:
                re_tpl += chunk + contr
                continue

            lft_idx, rgt_idx = rules["intraSlice"]
            lft_char = _islice(chunk, 0, lft_idx)   # required prefix
            rgt_char = _islice(chunk, rgt_idx)      # required suffix
            chars = _islice(chunk, lft_idx, rgt_idx)

            # neg lookahead (uFuzzy.mjs:296-299)
            if r_ins == 1 and len(lft_char) == 1 and lft_char != chars[:1]:
                lft_char += "(?!" + lft_char + ")"

            n = len(chars)
            variants = [chunk]
            if r_sub:
                for i in range(n):
                    variants.append(
                        lft_char + chars[:i] + self.intra_chars
                        + chars[i + 1:] + rgt_char
                    )
            if r_trn:
                for i in range(n - 1):
                    if chars[i] != chars[i + 1]:
                        variants.append(
                            lft_char + chars[:i] + chars[i + 1] + chars[i]
                            + chars[i + 2:] + rgt_char
                        )
            if r_del:
                for i in range(n):
                    variants.append(
                        lft_char + chars[: i + 1] + "?" + chars[i + 1:]
                        + rgt_char
                    )
            if r_ins:
                ins_tpl = lazy_repeat(self.intra_chars, 1)
                for i in range(n):
                    variants.append(
                        lft_char + chars[:i] + ins_tpl + chars[i:] + rgt_char
                    )

            re_tpl += "(?:" + "|".join(variants) + ")" + contr

        return re_tpl

    # -- phase 1: filter --------------------------------------------- #

    def filter(self, haystack, needle, idxs=None):
        """uFuzzy.mjs:394-418 — None means non-searchable needle."""
        q = self.prep_query(needle)
        if q is None:
            return None
        query = q[0]
        scan = idxs if idxs is not None else range(len(haystack))
        return [i for i in scan if query.search(haystack[i])]

    # -- phase 2: info ----------------------------------------------- #

    def info(self, idxs, haystack, needle):
        """uFuzzy.mjs:425-752 — verify, boundary-class, count, range."""
        query, parts, contrs = self.prep_query(needle, 1)
        parts_cased = self.split(needle, True)
        query_r = self.prep_query(needle, 2)[0]
        parts_len = len(parts)

        terms_l, terms_c = [], []
        for j in range(parts_len):
            part, part_cased = parts[j], parts_cased[j]
            terms_l.append(
                part[1:-1] if part[:1] == '"' else part + contrs[j]
            )
            terms_c.append(
                part_cased[1:-1] if part_cased[:1] == '"' else part_cased + contrs[j]
            )

        info = {
            k: []
            for k in (
                "idx start chars cases terms interIns intraIns "
                "interLft2 interRgt2 interLft1 interRgt1 ranges".split()
            )
        }

        may_discard = self.inter_lft == 1 or self.inter_rgt == 1

        for idx in idxs:
            mhstr = haystack[idx]
            mm = query.search(mhstr)
            if mm is None:  # defensive; filter() should guarantee a match
                continue
            m = [mm.group(0)] + [g or "" for g in mm.groups()]
            m_index = mm.start()

            start = m_index + len(m[1])
            idx_acc = start

            disc = False
            lft2 = lft1 = rgt2 = rgt1 = 0
            chars = terms = cases = inter = intra = 0
            refine: list[int] = []

            k = 2
            for j in range(parts_len):
                group = m[k].lower()
                term = terms_l[j]
                term_cased = terms_c[j]
                term_len = len(term)
                group_len = len(group)
                full_match = group == term

                if m[k] == term_cased:
                    cases += 1

                # exact-term probe into trailing junk (uFuzzy.mjs:524-539)
                if not full_match and len(m[k + 1]) >= term_len:
                    idx_of = m[k + 1].lower().find(term)
                    if idx_of > -1:
                        refine.extend((idx_acc, group_len, idx_of, term_len))
                        idx_acc += _refine_match(m, k, idx_of, term_len)
                        group = term
                        group_len = term_len
                        full_match = True
                        if j == 0:
                            start = idx_acc

                if may_discard or full_match:
                    lft_char_idx = idx_acc - 1
                    rgt_char_idx = idx_acc + group_len
                    is_pre = is_suf = False

                    # prefix boundary class (uFuzzy.mjs:550-616)
                    if lft_char_idx == -1 or self.inter_bound_re.search(
                        mhstr[lft_char_idx]
                    ):
                        if full_match:
                            lft2 += 1
                        is_pre = True
                    else:
                        if self.inter_lft == 2:
                            disc = True
                            break
                        if self.with_intra_bound and self.intra_bound_re.search(
                            mhstr[lft_char_idx] + mhstr[lft_char_idx + 1]
                        ):
                            if full_match:
                                lft1 += 1
                            is_pre = True
                        elif self.inter_lft == 1:
                            # forward probe for boundary-aligned exact occurrence
                            junk = m[k + 1]
                            junk_idx = idx_acc + group_len
                            if len(junk) >= term_len:
                                found = False
                                idx_of = 0
                                for m2 in re.finditer(
                                    re.escape(term), junk, re.I
                                ):
                                    idx_of = m2.start()
                                    char_idx = junk_idx + idx_of
                                    lci = char_idx - 1
                                    if lci == -1 or self.inter_bound_re.search(
                                        mhstr[lci]
                                    ):
                                        lft2 += 1
                                        found = True
                                        break
                                    elif self.intra_bound_re.search(
                                        mhstr[lci] + mhstr[char_idx]
                                    ):
                                        lft1 += 1
                                        found = True
                                        break
                                if found:
                                    is_pre = True
                                    refine.extend(
                                        (idx_acc, group_len, idx_of, term_len)
                                    )
                                    idx_acc += _refine_match(
                                        m, k, idx_of, term_len
                                    )
                                    group = term
                                    group_len = term_len
                                    full_match = True
                                    if j == 0:
                                        start = idx_acc
                            if not is_pre:
                                disc = True
                                break

                    # suffix boundary class (uFuzzy.mjs:618-639).
                    # NB: the reference evaluates the PRE-refine
                    # rgtCharIdx here (computed at :545 and never
                    # refreshed after the :600 refine splice) — a
                    # quirk the differential fuzzer caught; do not
                    # recompute it.
                    if rgt_char_idx == len(mhstr) or self.inter_bound_re.search(
                        mhstr[rgt_char_idx]
                    ):
                        if full_match:
                            rgt2 += 1
                        is_suf = True
                    else:
                        if self.inter_rgt == 2:
                            disc = True
                            break
                        if self.with_intra_bound and self.intra_bound_re.search(
                            mhstr[rgt_char_idx - 1] + mhstr[rgt_char_idx]
                        ):
                            if full_match:
                                rgt1 += 1
                            is_suf = True
                        elif self.inter_rgt == 1:
                            disc = True
                            break

                    if full_match:
                        chars += term_len
                        if is_pre and is_suf:
                            terms += 1

                if group_len > term_len:
                    intra += group_len - term_len
                if j > 0:
                    inter += len(m[k - 1])
                # unconditional per-term user filter (uFuzzy.mjs:656-659)
                if not self.intra_filt(term, group, idx_acc):
                    disc = True
                    break
                if j < parts_len - 1:
                    idx_acc += group_len + len(m[k + 1])
                k += 2

            if disc:
                continue

            info["idx"].append(idx)
            info["interLft2"].append(lft2)
            info["interLft1"].append(lft1)
            info["interRgt2"].append(rgt2)
            info["interRgt1"].append(rgt1)
            info["chars"].append(chars)
            info["terms"].append(terms)
            info["cases"].append(cases)
            info["interIns"].append(inter)
            info["intraIns"].append(intra)
            info["start"].append(start)
            info["ranges"].append(
                self._ranges(mhstr, query_r, refine)
            )

        return info

    def _ranges(self, mhstr: str, query_r, refine: list[int]) -> list[int]:
        """Highlight-range extraction (uFuzzy.mjs:680-737)."""
        mm = query_r.search(mhstr)
        m = [mm.group(0)] + [g or "" for g in mm.groups()]
        m_index = mm.start()

        idx_acc = m_index + len(m[1])
        ref_len = len(refine)
        ri = 0 if ref_len > 0 else INF
        last_ri = ref_len - 4

        i = 2
        while i < len(m):
            group_str = m[i]
            if ri <= last_ri and refine[ri] == idx_acc:
                group_len = refine[ri + 1]
                idx_of = refine[ri + 2]
                term_len = refine[ri + 3]

                # merge char-level groups back into the full fuzzy group
                j = i
                v = ""
                acc_len = 0
                while acc_len < group_len:
                    v += m[j]
                    acc_len += len(m[j])
                    j += 1
                m[i:j] = [v]
                idx_acc += _refine_match(m, i, idx_of, term_len)
                ri += 4
            else:
                idx_acc += len(group_str)
                i += 1

        idx_acc = m_index + len(m[1])
        ranges: list[int] = []
        frm = to = idx_acc
        for i in range(2, len(m)):
            ln = len(m[i])
            idx_acc += ln
            if i % 2 == 0:
                to = idx_acc
            elif ln > 0:
                ranges.extend((frm, to))
                frm = to = idx_acc
        if to > frm:
            ranges.extend((frm, to))
        return ranges

    # -- phase 3: sort ----------------------------------------------- #

    def sort(self, info, haystack, needle):
        """Default rank comparator (uFuzzy.mjs:74-110)."""
        idx = info["idx"]
        chars, intra = info["chars"], info["intraIns"]
        terms, lft2, lft1 = info["terms"], info["interLft2"], info["interLft1"]
        inter, start, cases = info["interIns"], info["start"], info["cases"]

        def cmp_fn(ia, ib):
            d = chars[ib] - chars[ia]
            if d:
                return d
            d = intra[ia] - intra[ib]
            if d:
                return d
            d = (terms[ib] + lft2[ib] + 0.5 * lft1[ib]) - (
                terms[ia] + lft2[ia] + 0.5 * lft1[ia]
            )
            if d:
                return 1 if d > 0 else -1
            d = inter[ia] - inter[ib]
            if d:
                return d
            d = start[ia] - start[ib]
            if d:
                return d
            d = cases[ib] - cases[ia]
            if d:
                return d
            return self.compare(haystack[idx[ia]], haystack[idx[ib]])

        return sorted(range(len(idx)), key=cmp_to_key(cmp_fn))

    # -- integrated search ------------------------------------------- #

    def search(self, haystack, needle, out_of_order=0, info_thresh=1000,
               pre_filtered=None):
        """uFuzzy.mjs:766-911 → (idxs, info, order)."""
        ooo = (
            0 if not out_of_order
            else OOO_TERMS_LIMIT if out_of_order is True
            else out_of_order
        )

        needles = None
        matches = None
        negs: list[str] = []

        def strip_neg(m):
            neg = m.group(0).strip()[1:]
            if neg[:1] == '"':
                neg = escape_regexp(neg[1:-1])
            else:
                neg = strip_punct(neg)
            if neg != "":
                negs.append(neg)
            return ""

        needle = self.negs_re.sub(strip_neg, needle)
        terms = self.split(needle)

        negs_re = None
        if negs:
            negs_re = re.compile("|".join(negs), re.I)
            if not terms:
                idxs = [
                    i for i in range(len(haystack))
                    if not negs_re.search(haystack[i])
                ]
                return idxs, None, None
        elif not terms:
            return None, None, None

        if ooo > 0 and len(terms) > 1:
            # iterative AND pre-reduction, longest term first (:812-828)
            for t in sorted(terms, key=len, reverse=True):
                if pre_filtered is not None and len(pre_filtered) == 0:
                    return [], None, None
                pre_filtered = self.filter(haystack, t, pre_filtered)

            if len(terms) > ooo:  # combinatorial cap (:830-833)
                return pre_filtered, None, None

            needles = [" ".join(p) for p in permute(terms)]
            matches = []
            matched_idxs: set[int] = set()
            for nd in needles:
                if len(matched_idxs) < len(pre_filtered):
                    sub = [i for i in pre_filtered if i not in matched_idxs]
                    got = self.filter(haystack, nd, sub)
                    matched_idxs.update(got)
                    matches.append(got)
                else:
                    matches.append([])

        if needles is None:
            needles = [needle]
            matches = [
                pre_filtered
                if pre_filtered
                else self.filter(haystack, needle)
            ]

        if negs_re is not None:
            matches = [
                [i for i in idxs if not negs_re.search(haystack[i])]
                for idxs in matches
            ]

        match_count = sum(len(x) for x in matches)

        ret_info = None
        ret_order = None
        if match_count <= info_thresh:
            ret_info = {}
            ret_order = []
            for ni, idxs in enumerate(matches):
                if not idxs:
                    continue
                _info = self.info(idxs, haystack, needles[ni])
                order = self.sort(_info, haystack, needles[ni])
                if ni > 0:
                    offset = len(ret_order)
                    order = [o + offset for o in order]
                for key, vals in _info.items():
                    ret_info.setdefault(key, []).extend(vals)
                ret_order.extend(order)

        flat = [i for idxs in matches for i in idxs]
        return flat, ret_info, ret_order


def _refine_match(m: list, k: int, idx_in_next: int, term_len: int) -> int:
    """uFuzzy.mjs:754-761 — splice exact occurrence from junk into group."""
    prepend = m[k] + m[k + 1][:idx_in_next]
    m[k - 1] += prepend
    m[k] = m[k + 1][idx_in_next: idx_in_next + term_len]
    m[k + 1] = m[k + 1][idx_in_next + term_len:]
    return len(prepend)


def permute(arr: list) -> list[list]:
    """Heap's algorithm, same emission order (uFuzzy.mjs:986-1010)."""
    arr = list(arr)
    n = len(arr)
    result = [list(arr)]
    c = [0] * n
    i = 1
    while i < n:
        if c[i] < i:
            k = c[i] if i % 2 else 0
            arr[i], arr[k] = arr[k], arr[i]
            c[i] += 1
            i = 1
            result.append(list(arr))
        else:
            c[i] = 0
            i += 1
    return result


def permute_sorted(arr: list) -> list[list]:
    """uFuzzy.permute public wrapper (uFuzzy.mjs:1034-1044)."""
    idx_perms = sorted(permute(list(range(len(arr)))))
    return [[arr[i] for i in p] for p in idx_perms]


def highlight(s: str, ranges: list[int], mark=None, accum="", append=None):
    """uFuzzy.mjs:1012-1031."""
    if mark is None:
        mark = lambda part, matched: f"<mark>{part}</mark>" if matched else part
    if append is None:
        append = lambda acc, part: acc + part

    accum = append(accum, mark(s[: ranges[0]], False))
    for i in range(0, len(ranges), 2):
        fr, to = ranges[i], ranges[i + 1]
        accum = append(accum, mark(s[fr:to], True))
        if i < len(ranges) - 3:
            accum = append(accum, mark(s[ranges[i + 1]: ranges[i + 2]], False))
    accum = append(accum, mark(s[ranges[-1]:], False))
    return accum
