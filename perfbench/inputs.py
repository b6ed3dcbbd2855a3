"""Seeded inputs: the query mix and the churn schedule.

The corpus itself comes from ``searchengine_spark.corpus.corpus_df_dist``
with the run's seed; everything here is derived from that corpus and a
``random.Random`` seeded from the same seed, so one seed gives one input set.
The engine only ever sees the generated query strings and DataFrames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from searchengine_spark import corpus
from searchengine_spark.tokenizer import tokenize_py

# Query-mix shares, kept per block of MIX_BLOCK queries so every run gets the
# same proportions and only the concrete terms vary with the seed. Only the
# OR/AND split, the 1-4 term range and the term classes are given; no query
# log of this engine exists, so the other shares are assumptions:
# - lengths are spread evenly over 1-4, so each length weighs the same in
#   the median;
# - rare terms take the largest share (40 %) because rare-term queries are
#   where block-max pruning engages; hot and mid split the rest evenly;
# - half of the rare picks are first-sight: the vocabulary fits the term
#   cache, so these are the only dictionary lookups, and half keeps both the
#   cached and the uncached path in every block;
# - an AND query pairs one mid or rare term with one hot term, so the
#   intersection is rarely empty and the AND kernel runs, not only its guard.
MIX_BLOCK = 10
AND_PER_BLOCK = 2                      # 20 % AND, 80 % OR
TERM_CLASSES = ("hot",) * 3 + ("mid",) * 3 + ("rare",) * 4
FIRST_SIGHT_SHARE = 0.5                # of rare picks: never queried before
RARE_DF = (3, 30)

# term classes by what the corpus generator writes: hot = language keywords
# and license words, mid = identifier stems, rare = identifiers (df 3-30)
HOT_WORDS = frozenset(tokenize_py(" ".join(
    [corpus._LICENSE] + [w for kws in corpus._KEYWORDS.values() for w in kws])))
MID_WORDS = frozenset(tokenize_py(" ".join(corpus._IDENT_STEMS)))

@dataclass(frozen=True)
class Query:
    text: str
    mode: str                          # "or" | "and"


class Vocabulary:
    """Terms of the generated corpus, split into the hot/mid/rare classes."""

    def __init__(self, df: dict[str, int]) -> None:
        self.size = len(df)
        self.hot = sorted(HOT_WORDS & df.keys())
        self.mid = sorted(MID_WORDS & df.keys())
        self.rare = sorted(
            t for t, d in df.items()
            if RARE_DF[0] <= d <= RARE_DF[1] and t not in HOT_WORDS | MID_WORDS
        )
        if not (self.hot and self.mid and self.rare):
            raise ValueError("corpus too small: a term class is empty")


class QueryMix:
    """Closed-loop query stream: 1-4 terms from hot/mid/rare classes in
    fixed shares; rare picks are first-sight (never queried in this run, so
    the engine's term cache misses) at FIRST_SIGHT_SHARE, else repeats."""

    def __init__(self, vocab: Vocabulary, rng: random.Random) -> None:
        self.vocab = vocab
        self.rng = rng
        self._unused_rare = list(vocab.rare)
        rng.shuffle(self._unused_rare)
        self._used_rare: list[str] = []
        self._n_rare = 0

    def _rare(self) -> str:
        # exactly FIRST_SIGHT_SHARE of the picks, spread evenly
        n, self._n_rare = self._n_rare, self._n_rare + 1
        first = int((n + 1) * FIRST_SIGHT_SHARE) > int(n * FIRST_SIGHT_SHARE)
        if self._used_rare and not first:
            return self.rng.choice(self._used_rare)
        t = self._unused_rare.pop()
        self._used_rare.append(t)
        return t

    def _term(self, cls: str) -> str:
        if cls == "rare":
            return self._rare()
        return self.rng.choice(getattr(self.vocab, cls))

    def _query(self, classes: list[str], mode: str) -> Query:
        terms: list[str] = []
        for cls in classes:
            t = self._term(cls)
            while t in terms:
                t = self._term(cls)
            terms.append(t)
        return Query(" ".join(terms), mode)

    def block(self, or_only: bool = False) -> list[Query]:
        """MIX_BLOCK queries with the fixed shares, in seeded order: the OR
        queries' lengths cycle through 1-4 and their terms are dealt from a
        shuffled list holding the TERM_CLASSES shares."""
        n_and = 0 if or_only else AND_PER_BLOCK
        lengths = ([1, 2, 3, 4] * MIX_BLOCK)[:MIX_BLOCK - n_and]
        self.rng.shuffle(lengths)
        total = sum(lengths)
        classes = [TERM_CLASSES[i * len(TERM_CLASSES) // total] for i in range(total)]
        self.rng.shuffle(classes)
        out, pos = [], 0
        for n in lengths:
            out.append(self._query(classes[pos:pos + n], "or"))
            pos += n
        for _ in range(n_and):
            sel = self.rng.choice(("mid", "rare"))
            out.append(self._query([sel, "hot"], "and"))
        self.rng.shuffle(out)
        return out

    def take(self, n: int, or_only: bool = False) -> list[Query]:
        out: list[Query] = []
        while len(out) < n:
            out.extend(self.block(or_only))
        return out[:n]


@dataclass
class ChurnCycle:
    append_ids: list[int]              # held-back docs to add
    update: dict[int, str]             # doc_id -> new content
    gone_terms: dict[int, list[str]]   # doc_id -> terms its update removed
    delete_query: str                  # single rare term, AND mode
    delete_query_hits: int             # live docs it must delete
    delete_ids: list[int]              # explicit deletes
    live_after: dict[int, frozenset]   # doc_id -> terms, after the cycle


def mutate(content: str, rng: random.Random, tag: str) -> str:
    """Replace the last third of the lines with one fresh line: the update
    both removes terms (which must stop matching) and adds new ones."""
    lines = content.split("\n")
    keep = max(1, (2 * len(lines)) // 3)
    return "\n".join(lines[:keep] + [f"{tag} mutated_{rng.randint(0, 99)} update"])


def churn_schedule(
    contents: dict[int, str],
    live_ids: list[int],
    held_ids: list[int],
    rng: random.Random,
    n_cycles: int,
    n_update: int,
    n_delete: int,
) -> list[ChurnCycle]:
    """Plan every cycle up front against a simulated live set, so the
    engine receives only concrete ids, contents and query strings.
    ``contents`` holds every generated doc (live and held back)."""
    toks = {}

    def tokset(d: int, text: str | None = None) -> frozenset:
        if text is not None:
            return frozenset(tokenize_py(text))
        if d not in toks:
            toks[d] = frozenset(tokenize_py(contents[d]))
        return toks[d]

    live = {d: tokset(d) for d in live_ids}
    df: dict[str, int] = {}
    for ts in live.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1

    def drop(d: int) -> None:
        for t in live.pop(d):
            df[t] -= 1

    def add(d: int, ts: frozenset) -> None:
        live[d] = ts
        for t in ts:
            df[t] = df.get(t, 0) + 1

    held = list(held_ids)
    rng.shuffle(held)
    per = max(1, len(held) // n_cycles)
    text = dict(contents)
    cycles = []
    for c in range(n_cycles):
        # same order as the engine receives them: append, update,
        # delete_by_query, delete_docs
        appended = sorted(held[c * per:(c + 1) * per])
        for d in appended:
            add(d, tokset(d))
        upd_ids = sorted(rng.sample(sorted(live), n_update))
        update, gone = {}, {}
        for d in upd_ids:
            new = mutate(text[d], rng, f"churn{c}")
            ts = tokset(d, new)
            update[d], gone[d] = new, sorted(live[d] - ts)
            drop(d)
            add(d, ts)
            text[d] = new
        cands = sorted(t for t, n in df.items() if RARE_DF[0] <= n <= RARE_DF[1])
        dq = rng.choice(cands)
        dq_hits = [d for d, ts in live.items() if dq in ts]
        for d in dq_hits:
            drop(d)
        del_ids = sorted(rng.sample(sorted(live), n_delete))
        for d in del_ids:
            drop(d)
        cycles.append(ChurnCycle(
            appended, update, gone, dq, len(dq_hits), del_ids, dict(live)
        ))
    return cycles
