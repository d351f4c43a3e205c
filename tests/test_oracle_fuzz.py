"""Aggressive randomized differential fuzzing vs the node reference.

Needles are random substrings of corpus entries with random
mutations, random quoting, and random negations — the adversarial
input space for prep_query's regex translation. Every case compares
idxs + full info counters + ranges + order against the actual
reference implementation.

Skipped when node is unavailable, and also where the reference build
(REF_BUILD: reference/dist/uFuzzy.cjs in the read-only uFuzzy checkout
next to this repo) is absent: every test here runs the reference's
search. The Intl.Collator check in test_oracle_parity.py needs only
node.
"""

import json
import random
import shutil
import string
import subprocess
from pathlib import Path

import pytest

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.oracle import UFuzzyOracle

NODE = shutil.which("node")
HARNESS = Path(__file__).parent / "js_ref_harness.cjs"
# the file the harness loads for search cases
REF_BUILD = Path(__file__).resolve().parents[2] / "reference" / "dist" / "uFuzzy.cjs"
pytestmark = [
    pytest.mark.skipif(NODE is None, reason="node not available"),
    pytest.mark.skipif(
        not REF_BUILD.is_file(), reason=f"reference build absent: {REF_BUILD}"
    ),
]

INFO_KEYS = (
    "idx start chars cases terms interIns intraIns "
    "interLft2 interRgt2 interLft1 interRgt1 ranges"
).split()


def _random_corpus(rng, n):
    pieces = (
        "alpha beta gamma delta metric_name http_2023 CamelCaseWord "
        "player's \"quoted thing\" under_score 99bottles x1y2z3 "
        "café señor naïve a ab abc abcd!@# (parens) [brackets] "
        "tab\tchar dots... dash-dash plus+plus"
    ).split(" ")
    out = []
    for _ in range(n):
        k = rng.randint(1, 8)
        out.append(" ".join(rng.choice(pieces) for _ in range(k)))
    return out


def _random_needle(rng, corpus):
    src = rng.choice(corpus)
    if len(src) < 3:
        return src
    i = rng.randrange(0, max(1, len(src) - 8))
    frag = src[i : i + rng.randint(2, 12)]
    roll = rng.random()
    if roll < 0.15 and frag.strip():
        frag = f'"{frag.strip()}"'
    elif roll < 0.3:
        frag = frag + " -" + rng.choice("alpha beta café x".split())
    elif roll < 0.5 and len(frag) > 3:
        j = rng.randrange(1, len(frag) - 1)
        op = rng.choice("ins del sub trn".split())
        if op == "ins":
            frag = frag[:j] + rng.choice(string.ascii_lowercase) + frag[j:]
        elif op == "del":
            frag = frag[:j] + frag[j + 1 :]
        elif op == "sub":
            frag = frag[:j] + rng.choice(string.ascii_lowercase) + frag[j + 1 :]
        else:
            frag = frag[:j] + frag[j + 1] + frag[j] + frag[j + 2 :] if j + 1 < len(frag) else frag
    return frag


CONFIGS = [
    {},
    {"intraIns": 1},
    {"intraMode": 1},
    {"intraMode": 1, "interLft": 1},
    {"interLft": 2, "interRgt": 2},
    {"interIns": 3},
]


def test_randomized_differential_fuzz():
    rng = random.Random(1234)
    corpus = _random_corpus(rng, 150)
    cases = []
    for cfg in CONFIGS:
        for _ in range(60):
            cases.append(
                {
                    "haystack": corpus,
                    "needle": _random_needle(rng, corpus),
                    "opts": {**cfg, "compare": "plain"},
                    "outOfOrder": rng.choice([0, 5]),
                }
            )

    ref = json.loads(
        subprocess.run(
            [NODE, str(HARNESS)],
            input=json.dumps(cases).encode(),
            capture_output=True,
            check=True,
        ).stdout
    )

    oracles: dict = {}
    mismatches = []
    ref_crashes = 0
    for case, expected in zip(cases, ref):
        if "error" in expected:
            # the REFERENCE crashed (unescaped term regex compile,
            # uFuzzy.mjs:574 — quoted metachars + interLft/Rgt=1);
            # our oracle escapes there, a deliberate safe divergence
            ref_crashes += 1
            continue
        opts = {k: v for k, v in case["opts"].items() if k != "compare"}
        # skip the reference's unescaped-probe bug surface: quoted
        # needles with regex metachars under interLft/Rgt=1 probe
        # arbitrary text in the reference (uFuzzy.mjs:574); we match
        # the literal (documented divergence in oracle.py)
        if (
            (opts.get("interLft") == 1 or opts.get("interRgt") == 1)
            and any(ch in case["needle"] for ch in '."*+?()[]{}|\\')
        ):
            continue
        key = json.dumps(opts, sort_keys=True)
        if key not in oracles:
            uf = UFuzzyOracle(MatchConfig(**opts))
            uf.compare = lambda a, b: (a > b) - (a < b)
            oracles[key] = uf
        uf = oracles[key]
        idxs, info, order = uf.search(
            case["haystack"], case["needle"], case["outOfOrder"]
        )
        tag = f"needle={case['needle']!r} opts={opts} ooo={case['outOfOrder']}"
        if idxs != expected["idxs"]:
            mismatches.append(f"{tag}: idxs")
            continue
        einfo = expected["info"]
        if (info is None) != (einfo is None):
            mismatches.append(f"{tag}: info None-ness")
            continue
        if einfo is not None:
            for k in INFO_KEYS:
                if list(info.get(k, [])) != list(einfo.get(k) or []):
                    mismatches.append(f"{tag}: info[{k}]")
        if expected["order"] is not None and order != expected["order"]:
            mismatches.append(f"{tag}: order")

    assert not mismatches, "\n".join(mismatches[:15]) + f"\n{len(mismatches)} total"


def test_unicode_content_parity():
    """Unicode haystacks/needles under default + unicode:true configs
    (Python re is unicode-native; the reference's u-flag behavior
    coincides for content-level matching)."""
    hs = [
        "日本語テキスト cat", "emoji 🎉 party cat", "мир peace",
        "café ☕ latte", "ΑΒΓ greek", "mixed 中文 and latin words",
        "tab\tseparated cat",
    ]
    needles = ["cat", "party", "café", "peace", "中文", "☕", "greek words"]
    cases = [
        {"haystack": hs, "needle": n, "opts": {**cfg, "compare": "plain"}}
        for cfg in ({}, {"intraMode": 1}, {"intraIns": 1}, {"unicode": True})
        for n in needles
    ]
    ref = json.loads(
        subprocess.run(
            [NODE, str(HARNESS)],
            input=json.dumps(cases).encode(),
            capture_output=True,
            check=True,
        ).stdout
    )
    for c, e in zip(cases, ref):
        opts = {k: v for k, v in c["opts"].items() if k != "compare"}
        uf = UFuzzyOracle(MatchConfig(**opts))
        uf.compare = lambda a, b: (a > b) - (a < b)
        assert uf.search(hs, c["needle"])[0] == e["idxs"], (opts, c["needle"])
