"""Seeded inputs for the benchmark: transcript batches and query streams.

Everything here is a pure function of the seed (numpy / ``random`` state
created per call, no clock, no Spark), so two runs with one seed hand the
engine identical inputs.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from quickwit_spark.bench_queries import BENCH_QUERIES
from quickwit_spark.fixtures.transcripts import BASE_EPOCH, ROLES, _CORE, _vocab, generate_transcripts

# Zipf exponent for query-term ranks over the corpus vocabulary (the corpus
# itself draws its words with a=1.3, so hot query terms are hot in the data).
QUERY_ZIPF_A = 1.2
# Term draws per round (14 templates x 2, one prefix, one time window).
# They are stratified: one draw from each 1/30 slice of the Zipf CDF, in a
# seeded order, so each draw is still Zipf-distributed but every round holds
# about the same mix of hot and rare terms and per-round cost varies little.
DRAWS_PER_ROUND = 30
# Per round of the stream: one instance of each of the 14 template classes
# plus this many selective queries (a df=1 ``tok_`` marker, a narrow time
# window), shuffled — a fixed 2/16 = 12.5% selective share on every seed.
SELECTIVE_PER_ROUND = 2
DAY = 86400
# The corpus spans ~90 days from BASE_EPOCH.
SPAN_DAYS = 90

# Core words long enough for fuzzy (~2) and wildcard ('?') expansion to stay
# far below the engine's 1024-term expansion cap.
_LONG_CORE = [w for w in _CORE if len(w) >= 6]


def corpus_batch(seed: int, batch: int, n_conversations: int) -> pd.DataFrame:
    """One transcript batch.  Batches of one seed have disjoint conv ids and
    distinct generator seeds; timestamps are microseconds (Spark cannot read
    parquet TIMESTAMP(NANOS))."""
    gen_seed = (seed * 1_000_003 + batch * 7_919) % (2**31 - 1)
    pdf = generate_transcripts(n_conversations=n_conversations, seed=gen_seed)
    pdf["conv_id"] = pdf["conv_id"] + f"-s{seed}b{batch}"
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def marker_terms(pdf: pd.DataFrame) -> list[tuple[str, str, int]]:
    """(query term, conv_id, turn_idx) of every df=1 ``tok_<seed>_<n>``
    marker in a batch: the tokenizer splits the marker into 'tok', the seed
    and the zero-padded turn number, which is unique within one batch."""
    out = []
    for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        i = text.find("tok_")
        if i >= 0:
            num = text[i:].split(" ", 1)[0].split("_")[2].rstrip(".!")
            out.append((num, conv, int(turn)))
    return out


class QueryStream:
    """Seeded query generator over the 14 ``BENCH_QUERIES`` template classes.

    Terms are drawn by Zipf rank over the corpus vocabulary.  ``markers``
    (from :func:`marker_terms`) feed the selective df=1 class; each query
    dict carries ``cls`` (its class name) and, for markers, the expected
    (conv_id, turn_idx) of the single hit."""

    def __init__(self, seed: int, markers: list[tuple[str, str, int]]):
        self.rng = random.Random(seed)
        self.vocab = _vocab()
        w = np.arange(1, len(self.vocab) + 1, dtype=np.float64) ** -QUERY_ZIPF_A
        self.cdf = np.cumsum(w) / w.sum()
        self.markers = markers
        self.pool: list[str] = []

    def term(self) -> str:
        if not self.pool:
            n = DRAWS_PER_ROUND
            u = [(i + self.rng.random()) / n for i in range(n)]
            self.rng.shuffle(u)
            ranks = np.minimum(np.searchsorted(self.cdf, u), len(self.vocab) - 1)
            self.pool = [str(self.vocab[r]) for r in ranks]
        return self.pool.pop()

    def _prefix(self) -> str:
        # drop the last letter, as the template's 'deplo*' does: a generated
        # 'w1234' id then expands to ten terms, a core word to a few
        t = self.term()
        return t[: max(1, len(t) - 1)]

    def instance(self, cls: str) -> dict:
        r = self.rng
        t1, t2 = self.term(), self.term()
        if cls == "q1_single_term":
            kw = dict(query=t1)
        elif cls == "q2_and":
            kw = dict(query=f"{t1} {t2}")
        elif cls == "q3_hot_or":
            kw = dict(query=f"{t1} OR {t2}", max_hits=20)
        elif cls == "q4_phrase":
            kw = dict(query=f'"{t1} {t2}"')
        elif cls == "q5_field_time":
            lo = BASE_EPOCH + r.randrange(0, SPAN_DAYS // 2) * DAY
            kw = dict(
                query=f"role:{r.choice(ROLES[:2])} {t1}",
                start_timestamp=lo,
                end_timestamp=lo + (SPAN_DAYS // 2) * DAY,
            )
        elif cls == "q6_not":
            kw = dict(query=f"{t1} NOT {t2}")
        elif cls == "q7_sort_ts":
            kw = dict(query=t1, sort_by_field="ts")
        elif cls == "q8_offset":
            kw = dict(query=t1, start_offset=20, max_hits=10)
        elif cls == "q12_prefix":
            kw = dict(query=f"{self._prefix()}*")
        elif cls == "q13_fuzzy":
            w = r.choice(_LONG_CORE)
            j = r.randrange(len(w) - 1)
            kw = dict(query=f"{w[:j]}{w[j + 1]}{w[j]}{w[j + 2:]}~2")  # swapped pair
        elif cls == "q14_wildcard":
            w = r.choice(_LONG_CORE)
            kw = dict(query=f"{w[0]}?{w[2:4]}*")
        elif cls == "q15_regex":
            a, b = r.sample(_CORE[9:], 2)  # skip stopword-like head words
            kw = dict(query=f"/({a}|{b}|{t1})/", max_hits=20)
        else:  # q10 / q11: match-all, no terms
            kw = dict(BENCH_QUERIES[cls])
        return {"cls": cls, **kw}

    def selective(self, k: int) -> dict:
        if k % 2 == 0 and self.markers:
            term, conv, turn = self.markers[self.rng.randrange(len(self.markers))]
            return {"cls": "sel_marker", "query": term, "expect": (conv, turn)}
        lo = BASE_EPOCH + self.rng.randrange(0, SPAN_DAYS * 24) * 3600
        return {
            "cls": "sel_window",
            "query": self.term(),
            "start_timestamp": lo,
            "end_timestamp": lo + 3600,
        }

    def round(self) -> list[dict]:
        qs = [self.instance(c) for c in BENCH_QUERIES]
        qs += [self.selective(k) for k in range(SELECTIVE_PER_ROUND)]
        self.rng.shuffle(qs)
        return qs

    def take(self, n: int, exclude: tuple[str, ...] = ()) -> list[dict]:
        out: list[dict] = []
        while len(out) < n:
            out += [q for q in self.round() if q["cls"] not in exclude]
        return out[:n]


def request_kwargs(q: dict) -> dict:
    """The SearchRequest keyword arguments of a stream entry."""
    return {k: v for k, v in q.items() if k not in ("cls", "expect")}
