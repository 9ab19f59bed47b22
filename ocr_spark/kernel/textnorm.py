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
  clean_swiss, then ``°→o``, ``€→EUR``, ``£→GBP``.
* ``normalize_ocr`` — our OCR-text normalization stage (north rule; no
  reference analogue): de-hyphenate artificial line breaks, then clean_llm.
"""

from __future__ import annotations

import re

import pandas as pd

_RE_BASIC_JUNK = re.compile(r"[^\w\s\-.,;:()€$%@#&/\\]")
_RE_WS = re.compile(r"\s+")
_RE_CTRL = re.compile(r"[\x00-\x1f\x7f-\x9f]")
# OCR artifact: a word split across a line break with a trailing hyphen
# ("électro-\nmécanique" → "électromécanique").
_RE_HYPHEN_BREAK = re.compile(r"(\w)-\s*\n\s*(\w)")


def clean_basic(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.replace(_RE_BASIC_JUNK, " ", regex=True)
    out = out.str.replace(_RE_WS, " ", regex=True)
    return out.str.strip()


def clean_swiss(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.replace(_RE_CTRL, " ", regex=True)
    out = out.str.replace(_RE_WS, " ", regex=True)
    return out.str.strip()


def clean_llm(s: pd.Series) -> pd.Series:
    # the reference strips after the char maps; they touch no whitespace,
    # so stripping first (inside clean_swiss) gives the same string
    out = clean_swiss(s).str.replace("°", "o", regex=False)
    out = out.str.replace("€", "EUR", regex=False)
    return out.str.replace("£", "GBP", regex=False)


def normalize_ocr(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.replace(_RE_HYPHEN_BREAK, r"\1\2", regex=True)
    return clean_llm(out)
