"""Seeded inputs for the benchmark workloads.

Everything the program sees is generated here from one integer seed:
the base corpus, the append batches (new and continuing conversations,
each batch carrying its own marker token), the measured and warm-up
query streams (by shape and document-frequency stratum) and the browse
pages.  The same seed always gives the same inputs.  Generation runs
before the timed set-up.

No query log exists for this program, so the traffic mix is an
assumption, kept to what the workload definition asks for: shapes in
equal numbers, strata equally likely, Zipf's law (s = 1) inside a
stratum, and k = 100 for one query of each burst.  The per-shape metrics
let a reader weigh the results by any other mix.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from emailindexer_spark.functions.tokenizer import tokenize
from emailindexer_spark.sources.fixtures import make_transcripts

BASE_TURNS = 12_000
BATCH_TURNS = 1_000
#: append rounds on ingest-serve; fixed, so the work does not depend on speed
ROUNDS = 1
#: share of each batch's conversations that continue a base conversation
CONTINUE_SHARE = 0.2
MARKER_TURNS = 4
#: turns whose text seeds the term strata and the phrase bigrams
SAMPLE_TURNS = 2_000

SHAPES = ("term", "or", "and", "not", "phrase", "prefix", "conv", "nested")
STRATA = ("rare", "mid", "heavy")
ZIPF_S = 1.0
#: terms kept per stratum, the most frequent first
STRATUM_SIZE = 64
PAGE_SIZE = 20

_WORD = re.compile(r"^[a-z]+$")


@dataclass(frozen=True)
class Query:
    qid: str
    shape: str
    text: str
    k: int
    mode: str


@dataclass(frozen=True)
class Page:
    kind: str  # "date" | "root"
    page: int
    start: pd.Timestamp | None = None
    end: pd.Timestamp | None = None


@dataclass
class Batch:
    rows: pd.DataFrame
    marker: str
    marker_keys: frozenset[tuple[str, int]]


@dataclass
class Inputs:
    base: pd.DataFrame
    batches: list[Batch]
    queries: "QueryGen"
    warm_queries: "QueryGen"


class QueryGen:
    """Seeded query stream: bursts with one query of every shape, terms
    drawn by Zipf inside rare / mid / heavy document-frequency strata so
    queries share terms."""

    def __init__(self, corpus: pd.DataFrame, seed: int, stream: int):
        self.rng = np.random.default_rng([seed, stream])
        df: Counter[str] = Counter()
        bigrams: list[tuple[str, str]] = []
        for text in corpus["text"].head(SAMPLE_TURNS):
            toks = tokenize(text)
            df.update(set(toks))
            bigrams += [
                (a, b) for a, b in zip(toks, toks[1:]) if _WORD.match(a) and _WORD.match(b)
            ]
        ranked = [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0])) if _WORD.match(t)]
        n = len(ranked)
        strata = {
            "heavy": ranked[:20],
            "mid": ranked[n // 8 : n // 3],
            "rare": [t for t in ranked if 3 <= df[t] <= 10],
        }
        # Zipf over each stratum in document-frequency order: the most
        # popular terms are the stratum's most frequent ones, so the cost
        # of the popular terms does not swing with the seed
        self.strata = {}
        for name, terms in strata.items():
            terms = terms[:STRATUM_SIZE]
            w = 1.0 / np.arange(1, len(terms) + 1) ** ZIPF_S
            self.strata[name] = (terms, w / w.sum())
        self.bigrams = bigrams
        self.n = 0

    def term(self, stratum: str | None = None) -> str:
        if stratum is None:
            stratum = STRATA[int(self.rng.integers(len(STRATA)))]
        terms, p = self.strata[stratum]
        return terms[self.rng.choice(len(terms), p=p)]

    def _text(self, shape: str) -> str:
        t = self.term
        if shape == "term":
            return t()
        if shape == "or":
            return " ".join(t() for _ in range(int(self.rng.integers(2, 4))))
        if shape == "and":
            return f"{t()} AND {t('heavy' if self.rng.random() < 0.5 else 'mid')}"
        if shape == "not":
            return f"{t('heavy')} -{t('mid')}"
        if shape == "phrase":
            a, b = self.bigrams[int(self.rng.integers(len(self.bigrams)))]
            return f'"{a} {b}"'
        if shape == "prefix":
            return f"{t('mid')[:2]}*"
        if shape == "conv":
            return f"{t()} {t()}"
        return f"({t()} OR {t()}) AND {t('heavy')}"  # nested

    def next(self, shape: str, k: int = 10) -> Query:
        q = Query(
            f"q{self.n}", shape, self._text(shape), k, "conversations" if shape == "conv" else "turns"
        )
        self.n += 1
        return q

    def burst(self) -> list[Query]:
        """One query of every shape, in seeded order; the first has k=100."""
        return [self.next(s, 100 if i == 0 else 10) for i, s in enumerate(self.rng.permutation(SHAPES))]

    def page(self, corpus: pd.DataFrame, kind: str) -> Page:
        pg = int(self.rng.integers(1, 6))
        if kind == "root":
            return Page("root", pg)
        ts = corpus["ts"]
        lo = ts.quantile(float(self.rng.uniform(0.0, 0.85)))
        return Page("date", pg, lo, lo + (ts.max() - ts.min()) * 0.1)


def _batches(rest: pd.DataFrame, base: pd.DataFrame, seed: int) -> list[Batch]:
    """Split the tail of the seeded corpus into append batches.  The
    conversation straddling each cut continues naturally; a seeded share
    of the other conversations is re-homed onto existing ones (turn
    numbers continue after that conversation's last turn)."""
    rng = np.random.default_rng([seed, 3])
    last_turn = base.groupby("conv_id")["turn_idx"].max().to_dict()
    out = []
    for r in range(ROUNDS):
        b = rest.iloc[r * BATCH_TURNS : (r + 1) * BATCH_TURNS].copy().reset_index(drop=True)
        convs = [c for c in b["conv_id"].unique() if c not in last_turn]
        n_cont = int(round(CONTINUE_SHARE * len(convs)))
        targets = rng.choice(sorted(last_turn), size=n_cont, replace=False)
        for c, tgt in zip(rng.choice(convs, size=n_cont, replace=False), targets):
            sel = b["conv_id"] == c
            b.loc[sel, "turn_idx"] += last_turn[tgt] + 1
            b.loc[sel, "conv_id"] = tgt
        b["turn_idx"] = b["turn_idx"].astype("int32")
        for c, t in b.groupby("conv_id")["turn_idx"].max().items():
            last_turn[c] = max(last_turn.get(c, -1), int(t))
        marker = f"mrk{seed}x{r}"
        pos = rng.choice(len(b), size=MARKER_TURNS, replace=False)
        b.loc[pos, "text"] = b.loc[pos, "text"] + f" {marker}"
        keys = frozenset(zip(b.loc[pos, "conv_id"], b.loc[pos, "turn_idx"].astype(int)))
        out.append(Batch(b, marker, keys))
    return out


def make_inputs(seed: int) -> Inputs:
    full = make_transcripts(BASE_TURNS + ROUNDS * BATCH_TURNS, seed=seed)
    base = full.iloc[:BASE_TURNS].reset_index(drop=True)
    return Inputs(
        base=base,
        batches=_batches(full.iloc[BASE_TURNS:], base, seed),
        queries=QueryGen(base, seed, stream=2),
        warm_queries=QueryGen(base, seed, stream=4),
    )


def expected_page(corpus: pd.DataFrame, pg: Page) -> tuple[int, list[tuple[str, int]]]:
    """(total, [(conv_id, turn_idx)...]) that ``find_all`` must return,
    computed from the generated rows: newest first, ties by
    (conv_id, turn_idx)."""
    if pg.kind == "root":
        sel = corpus[corpus["turn_idx"] == 0]
    else:
        sel = corpus[(corpus["ts"] >= pg.start) & (corpus["ts"] <= pg.end)]
    sel = sel.sort_values(["ts", "conv_id", "turn_idx"], ascending=[False, True, True])
    rows = sel.iloc[(pg.page - 1) * PAGE_SIZE : pg.page * PAGE_SIZE]
    return len(sel), list(zip(rows["conv_id"], rows["turn_idx"].astype(int)))
