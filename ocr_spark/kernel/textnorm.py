"""Text normalization kernels (the reference's three cleaner variants).

Semantics reproduced exactly (verified against executed reference behavior,
see tests/fixtures/goldens.json):

* ``clean_basic``  — /root/reference/src/extraction/data_extractor.py:141-147.
  Replaces every char outside ``[\\w\\s\\-.,;:()€$%@#&/\\\\]`` with a space,
  collapses whitespace, strips.  NOTE: this destroys newlines, so all
  downstream "line" logic in the basic extractor sees ONE line — that quirk
  is part of the spec (SURVEY.md §5.3).
* ``clean_swiss``  — src/extraction/swiss_invoice_extractor.py:89-94.
  Control chars → space, collapse whitespace, strip.
* ``clean_llm``    — src/extraction/llm_enhanced_extractor.py:104-115.
  clean_swiss, then ``°→o``, ``€→EUR``, ``£→GBP`` (:func:`llm_maps`).
* ``normalize_ocr`` — our OCR-text normalization stage (north rule; no
  reference analogue): de-hyphenate artificial line breaks, then clean_llm.

Whitespace collapse + strip is ``" ".join(t.split())``: ``str.split()``,
``str.strip()`` and re's ``\\s`` all test ``Py_UNICODE_ISSPACE``.

:func:`fold` and :func:`may_match` gate the extractor families' regex
scans on keywords: a pattern that needs a keyword the text lacks cannot
match, so skipping it changes no result.
"""

from __future__ import annotations

import re

import pandas as pd

_RE_BASIC_JUNK = re.compile(r"[^\w\s\-.,;:()€$%@#&/\\]")
_RE_CTRL = re.compile(r"[\x00-\x1f\x7f-\x9f]")
# OCR artifact: a word split across a line break with a trailing hyphen
# ("électro-\nmécanique" → "électromécanique").
_RE_HYPHEN_BREAK = re.compile(r"(\w)-\s*\n\s*(\w)")
# the code points re.IGNORECASE matches to a gate-key letter while
# str.lower() maps them to something else (ı, ſ) or to two chars (İ)
FOLD_UNSAFE = "İıſ"


def _collapse(s: pd.Series, rx: re.Pattern) -> pd.Series:
    return pd.Series([" ".join(rx.sub(" ", t).split()) for t in s.fillna("")],
                     index=s.index, dtype=object)


def clean_basic(s: pd.Series) -> pd.Series:
    return _collapse(s, _RE_BASIC_JUNK)


def clean_swiss(s: pd.Series) -> pd.Series:
    return _collapse(s, _RE_CTRL)


def llm_maps(swissed: pd.Series) -> pd.Series:
    """``clean_swiss`` output → ``clean_llm`` output: the reference strips
    after the char maps; they touch no whitespace, so stripping first
    gives the same string."""
    return pd.Series(
        [t.replace("°", "o").replace("€", "EUR").replace("£", "GBP") for t in swissed],
        index=swissed.index, dtype=object,
    )


def clean_llm(s: pd.Series) -> pd.Series:
    return llm_maps(clean_swiss(s))


def normalize_ocr(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.replace(_RE_HYPHEN_BREAK, r"\1\2", regex=True)
    return clean_llm(out)


def fold(text: str) -> str | None:
    """``text.lower()`` to test gate keys in, or None (every gate open)
    when the text holds a :data:`FOLD_UNSAFE` code point."""
    if not text.isascii() and any(c in text for c in FOLD_UNSAFE):
        return None
    return text.lower()


def keys(*alternatives: str) -> tuple[tuple[str, ...], ...]:
    """Gate keys of one pattern: it can match only if the folded text holds
    one alternative, and an alternative ``"a+b"`` needs both parts."""
    return tuple(tuple(a.split("+")) for a in alternatives)


def may_match(low: str | None, gate: tuple[tuple[str, ...], ...] | None) -> bool:
    """False only when the fold ``low`` is known and holds no alternative
    of ``gate`` (None: an ungated pattern)."""
    if low is None or gate is None:
        return True
    for parts in gate:
        for part in parts:
            if part not in low:
                break
        else:
            return True
    return False
