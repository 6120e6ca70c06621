"""Text-span normalizer: the reference's boilerplate strip.

Semantics copied from the reference's word filter: whitespace trim
(/root/reference include/ocs/common/util.h:13-26) then drop words shorter
than 3 chars (tesseract.cpp:113-115, provider.h:26), generalized to whole
text spans: tokenize on whitespace, keep tokens of length >= MIN_TOKEN_LEN,
re-join with single spaces.

``normalize_text`` (python) and ``operators.extract.normalize_text_col`` —
the " "-join of the single tokenizer expression ``tokens_col`` — must stay
semantically identical, NULL/empty input -> "" included; tests enforce it.
"""

from __future__ import annotations

import re

from .. import MIN_TOKEN_LEN

# ASCII \s ([ \t\n\r\f\v]) to match the engines exactly: Java regex \s in
# the Spark Column twin and RE2 \s in the DuckDB oracle are ASCII-only,
# while python's bare str.split() treats unicode whitespace (NBSP etc.)
# as separators — that divergence would make this oracle wrong on
# non-ASCII whitespace. Empty tokens from edge whitespace fall to the
# min-length filter, so no separate trim is needed.
_WS = re.compile(r"\s+", re.ASCII)


def normalize_text(s: str | None) -> str:
    if not s:
        return ""
    return " ".join(t for t in _WS.split(s) if len(t) >= MIN_TOKEN_LEN)


def ocr_words_to_text(words: list[str]) -> str:
    """Recognized words -> span text, same min-length filter as the
    reference provider applies to each OCR'd word."""
    return " ".join(w for w in (w.strip() for w in words) if len(w) >= MIN_TOKEN_LEN)
