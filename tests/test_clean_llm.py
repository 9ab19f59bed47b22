"""``textnorm.clean_llm`` against the reference's pass order.

The reference (llm_enhanced_extractor.py:104-115) maps control chars to a
space, collapses whitespace, applies the three char maps, then strips.
``clean_llm`` is ``clean_swiss`` (which strips) followed by the char maps;
the maps touch no whitespace, so the strip commutes with them. This checks
equality with the reference order, kept verbatim below, on seeded random
strings and on every golden text. Pure pandas, no Spark.
"""

from __future__ import annotations

import random
import re

import pandas as pd

from ocr_spark.kernel.textnorm import clean_llm

_RE_WS = re.compile(r"\s+")
_RE_CTRL = re.compile(r"[\x00-\x1f\x7f-\x9f]")


def reference_clean_llm(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.replace(_RE_CTRL, " ", regex=True)
    out = out.str.replace(_RE_WS, " ", regex=True)
    out = out.str.replace("°", "o", regex=False)
    out = out.str.replace("€", "EUR", regex=False)
    out = out.str.replace("£", "GBP", regex=False)
    return out.str.strip()


# the mapped chars, ASCII and Unicode whitespace (incl. \x85, both a control
# char and whitespace), other control chars, letters and punctuation
_PIECES = ["°", "€", "£", "N°", "12 €", " ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c",
           "\x85", "\xa0", " ", "　", "\x00", "\x07", "\x1f", "\x7f", "\x9f",
           "a", "Z", "é", "Facture", "CHF", "1,50", "-", ".", "/"]
N_RANDOM = 100_000


def _random_strings(n: int, seed: int = 0) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choices(_PIECES, k=rng.randint(0, 8))) for _ in range(n)]


def test_clean_llm_matches_reference_order_on_random_strings():
    s = pd.Series(_random_strings(N_RANDOM) + [None])
    got, want = clean_llm(s), reference_clean_llm(s)
    assert got.tolist() == want.tolist()
    # the fuzz reaches strings whose ends change under the maps and the strip
    assert (want.str.startswith(("o", "EUR", "GBP")) & s.fillna("").str.match(r"\s")).any()


def test_clean_llm_matches_reference_order_on_golden_texts(goldens):
    s = pd.Series([e["text"] for e in goldens.values()])
    assert clean_llm(s).tolist() == reference_clean_llm(s).tolist()
