"""Ingest-time text sanitization (reference transform-chain parity).

Replicates the reference's per-email transform chain (SURVEY.md §2.11) as
vectorized pandas operations:

* quoted-reply removal — drop lines whose trimmed form starts with ``>``
  and stop at a line whose trimmed form equals (case-insensitively)
  ``-----Original Message-----`` (reference BodyReplyRemover.java:10-24;
  kept lines re-joined with ``\\n``),
* empty/blank-row filtering (reference SanitizingEmailHandler.java:26-29).
"""

from __future__ import annotations

import re

import pandas as pd

_MARKER_RE = re.compile(r"(?mi)^[ \t]*-----Original Message-----[ \t]*$")
_QUOTE_LINE_RE = re.compile(r"(?m)^[ \t]*>.*\n?")


def remove_quoted_replies(texts: pd.Series) -> pd.Series:
    """Vectorized BodyReplyRemover: cut at marker, drop `>`-quoted lines."""
    s = texts.fillna("")
    # everything from the marker line on is dropped
    s = s.str.split(_MARKER_RE, n=1).str[0]
    return s.str.replace(_QUOTE_LINE_RE, "", regex=True)


def remove_quoted_replies_str(text: str | None) -> str:
    """Scalar twin of remove_quoted_replies (oracle-side)."""
    if text is None:
        return ""
    head = _MARKER_RE.split(text, maxsplit=1)[0]
    return _QUOTE_LINE_RE.sub("", head)
