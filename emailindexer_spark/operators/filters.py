"""Typed filter predicates + condition composition (SURVEY.md §2.2).

The reference builds WHERE-clause *strings* per filter
(``SearchFilter.getWhereClause()``, data/search/SearchFilter.java:3-5)
and AND-composes them with a ConditionBuilder
(util/ConditionBuilder.java:39-64) — string concatenation that is
injection-prone (DateFilter.java:14-26, SubjectLikeFilter.java:11-16)
and has an inverted-predicate bug in OrFilter (OrFilter.java:22 keeps
only blank clauses).  Our filters are typed ``Column`` expressions:
immune to injection by construction, and OrFilter implements the
*intended* disjunction semantics (SURVEY.md §7 "fix, don't port").

Each F# maps a reference filter onto the transcripts model
(email ≙ turn, thread ≙ conversation, SURVEY.md §1.4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hidden_filter(hidden: bool) -> Column:
    """F1 — HiddenFilter.java:9-16: EMAIL.HIDDEN = TRUE/FALSE."""
    return F.col("hidden") == F.lit(hidden)


def root_filter(is_root: bool = True) -> Column:
    """F2 — RootFilter.java:11-20: PARENT_ID IS [NOT] NULL.
    Transcripts: the root of a conversation is turn 0."""
    return (F.col("turn_idx") == 0) if is_root else (F.col("turn_idx") != 0)


def parent_filter(conv_id: str, parent_turn: int) -> Column:
    """F3 — ParentIdFilter.java:10-15: replies to one turn (the next turn
    of the same conversation)."""
    return (F.col("conv_id") == F.lit(conv_id)) & (F.col("turn_idx") == parent_turn + 1)


def id_in_filter(doc_ids: list[int]) -> Column:
    """F4 — IdInFilter.java:12-21: ID IN (...); empty list → match-all
    no-op (the reference emits an empty WHERE fragment)."""
    if not doc_ids:
        return F.lit(True)
    return F.col("doc_id").isin(doc_ids)


def date_filter(start, end) -> Column:
    """F5 — DateFilter.java:14-26: closed interval on the timestamp."""
    return F.col("ts").between(F.lit(start), F.lit(end))


def text_like_filter(sub: str, column: str = "text") -> Column:
    """F6/F7 — Subject/BodyLikeFilter.java: LOWER(col) LIKE '%s%'
    (case-insensitive substring)."""
    return F.lower(F.col(column)).contains(sub.lower())


def tag_filter_include_any(df: DataFrame, tags_df: DataFrame, tags: list[str]) -> DataFrame:
    """F8 — TagFilter.java:33-35: semi join on any of the tags."""
    sel = tags_df.where(F.col("tag").isin(tags)).select("conv_id", "turn_idx")
    return df.join(F.broadcast(sel), ["conv_id", "turn_idx"], "left_semi")


def tag_filter_exclude_any(df: DataFrame, tags_df: DataFrame, tags: list[str]) -> DataFrame:
    """F9 — TagFilter.java:36: anti join on any of the tags."""
    sel = tags_df.where(F.col("tag").isin(tags)).select("conv_id", "turn_idx")
    return df.join(F.broadcast(sel), ["conv_id", "turn_idx"], "left_anti")


def tag_filter_untagged(df: DataFrame, tags_df: DataFrame) -> DataFrame:
    """F10 — TagFilter.java:24-31: rows with no tag at all (the reference
    uses a correlated COUNT=0 subquery; Catalyst's anti join is the same
    plan without the per-row subquery)."""
    return df.join(tags_df.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti")


def or_filters(*preds: Column) -> Column:
    """F11 — OrFilter *intended* semantics (OrFilter.java:13-29 is buggy
    in the reference: its blank-clause filter is inverted and always
    yields no-op; we implement the disjunction it documents)."""
    return reduce(lambda a, b: a | b, preds) if preds else F.lit(True)
