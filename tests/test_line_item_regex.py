"""The anchored line-item regex against the reference literal.

``basic._LINE_ITEM_RX`` is the reference's line-item pattern
(data_extractor.py:310) behind a ``(?<![^\\d\\n])`` anchor, so ``findall``
no longer retries the leading ``([^\\d\\n]+)`` from inside every non-digit
run; the ``basic`` module docstring says why the matches cannot change.
This checks ``findall`` equality with the literal on seeded random strings
and on every golden text, raw and after the basic family's clean. Pure
Python, no Spark.
"""

from __future__ import annotations

import random
import re

import pandas as pd

from ocr_spark.kernel import basic
from ocr_spark.kernel.textnorm import clean_basic

# data_extractor.py:310, verbatim
REFERENCE_RX = re.compile(
    r"([^\d\n]+)\s+(\d+(?:[,\.]\d+)?)\s+(\d+(?:[,\.]\d{2})?)\s+(\d+(?:[,\.]\d{2})?)"
)

# numbers (integers, decimals, a trailing dot), whitespace incl. tab and
# newline, plain and accented letters and punctuation
_NUM = ["1", "7", "12", "250", "3,50", "7.25", "0.5", "42,125", "9.", "10,00"]
_WS = [" ", " ", "  ", "\t", "\n", " \n", "\n "]
_LET = ["a", "Z", "é", "à", "Ç", "ü", "x y", "Café", "Prix €", "Zürich", "-", ",", "."]
N_RANDOM = 100_000


def _random_strings(n: int, seed: int = 0) -> list[str]:
    """1-6 pieces each: line-item-shaped runs (word, three numbers, random
    separators) or single tokens; about two thirds of the strings match."""
    rng = random.Random(seed)
    rows = ["".join(rng.choice(p) for p in (_LET, _WS, _NUM, _WS, _NUM, _WS, _NUM))
            for _ in range(3000)]
    pool = rows + (_NUM + _WS + _LET) * 100
    return ["".join(rng.choices(pool, k=rng.randint(1, 6))) for _ in range(n)]


def test_anchored_line_item_rx_matches_reference_on_random_strings():
    matched = 0
    for s in _random_strings(N_RANDOM):
        want = REFERENCE_RX.findall(s)
        assert basic._LINE_ITEM_RX.findall(s) == want, repr(s)
        matched += bool(want)
    assert matched > N_RANDOM // 2, matched  # the fuzz exercises real matches


def test_anchored_line_item_rx_matches_reference_on_golden_texts(goldens):
    raw = pd.Series([e["text"] for e in goldens.values()])
    texts = [*raw, *clean_basic(raw)]
    for s in texts:
        assert basic._LINE_ITEM_RX.findall(s) == REFERENCE_RX.findall(s), s[:80]
    assert any(REFERENCE_RX.findall(s) for s in texts)
