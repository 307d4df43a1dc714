"""Seeded, vectorized corpus and query-mix generator.

Everything the engine receives comes from here: a parquet table of
``(doc_id, text)`` and lists of query terms. The generator depends on
numpy and pyarrow only, never on the engine package, so a change to
the engine cannot change the workload.

Corpus model:
- a vocabulary of ``VOCAB_SIZE`` distinct letter-only words, ranked;
  token draws follow a Zipf law over the ranks (``p(r) ~ r^-ZIPF_S``);
- document lengths are lognormal (median ``DOC_LEN_MEDIAN`` tokens);
- ``NON_ASCII_SHARE`` of the vocabulary carries an accented or
  non-Latin letter, so the engine's unicode tokenizer path (deaccent)
  runs on most Arrow batches.

Query terms are drawn only from ASCII words whose document frequency
in the base corpus is at least ``MIN_QUERY_DF``: such a word is a
token exactly as written, and survives a 1 % delete plus compaction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.1
DOC_LEN_MEDIAN = 80
DOC_LEN_SIGMA = 0.6
DOC_LEN_MIN, DOC_LEN_MAX = 4, 1_500
NON_ASCII_SHARE = 0.03
MIN_QUERY_DF = 20

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# accented letters deaccent to ASCII; the rest stay non-ASCII tokens
_ACCENTED = np.array(list("éèêüöäñçåøæłßàíóúžš"))
_GREEK = np.array(list("αβγδεζηθικλμνξοπρστυφχψω"))

# query-term strata by Zipf rank: (lowest rank, highest rank, weight)
HEAD, MID, TAIL = (0, 100), (100, 2_000), (2_000, VOCAB_SIZE)
_STRATA = ((HEAD, 0.4), (MID, 0.4), (TAIL, 0.2))


class Vocabulary:
    """Ranked words plus the Zipf token distribution over them."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 1])
        # word length grows with rank, as in natural text, and is the
        # same for every seed, so text and index sizes do not depend on
        # which seed drew short words at the head
        lens = np.clip(np.round(2.5 + np.log2(np.arange(2, VOCAB_SIZE + 2))), 3, 15)
        words: list[str] = []
        seen: set[str] = set()
        for ln in lens.astype(int):
            while True:
                w = "".join(rng.choice(_LETTERS, size=ln))
                if w not in seen:
                    break
            seen.add(w)
            words.append(w)
        self.words = np.array(words, dtype=object)
        # a few percent of the words (at every rank) get a non-ASCII
        # letter; they deaccent or stay unicode inside the engine
        n_uni = int(NON_ASCII_SHARE * VOCAB_SIZE)
        uni = rng.choice(VOCAB_SIZE, size=n_uni, replace=False)
        for i in uni:
            w = self.words[i]
            pool = _GREEK if rng.random() < 0.3 else _ACCENTED
            pos = int(rng.integers(len(w)))
            self.words[i] = w[:pos] + str(rng.choice(pool)) + w[pos + 1 :]
        self.ascii = np.array([w.isascii() for w in self.words])
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
        self.p = p / p.sum()


class Corpus:
    """Generated documents: token ids per doc and their text."""

    def __init__(self, vocab: Vocabulary, n_docs: int, seed: int, first_id: int = 0):
        rng = np.random.default_rng([seed, 2, first_id])
        lens = np.exp(rng.normal(np.log(DOC_LEN_MEDIAN), DOC_LEN_SIGMA, n_docs))
        lens = np.clip(lens.astype(np.int64), DOC_LEN_MIN, DOC_LEN_MAX)
        tok = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=vocab.p)
        self.doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
        self.lens = lens
        self.tokens = tok
        ends = np.cumsum(lens)
        words = vocab.words[tok]
        self.texts = [" ".join(words[e - n : e]) for e, n in zip(ends, lens)]
        self.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)

    def __len__(self) -> int:
        return len(self.doc_ids)

    def doc_freq(self) -> np.ndarray:
        """Document frequency of every vocabulary rank."""
        doc_of = np.repeat(np.arange(len(self.lens)), self.lens)
        pairs = np.unique(doc_of * VOCAB_SIZE + self.tokens)
        return np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)

    def write_parquet(self, path: str) -> None:
        table = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
            }
        )
        pq.write_table(table, path)


class QueryMix:
    """Seeded keyword queries over one vocabulary and base corpus.

    A query's positive terms each come from the head, mid or tail rank
    stratum (Zipf-weighted inside the stratum); a negative term comes
    from the head or mid stratum.
    """

    def __init__(self, vocab: Vocabulary, df: np.ndarray, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 3])
        ok = vocab.ascii & (df >= MIN_QUERY_DF)
        self.words = vocab.words
        self.strata = []
        for (lo, hi), w in _STRATA:
            ranks = np.flatnonzero(ok[lo:hi]) + lo
            if len(ranks):
                pr = vocab.p[ranks] / vocab.p[ranks].sum()
                self.strata.append((ranks, pr, w))
        total = sum(w for _, _, w in self.strata)
        self.weights = np.array([w / total for _, _, w in self.strata])

    def _term(self, strata) -> int:
        k = self.rng.choice(len(strata), p=self.weights[: len(strata)] / self.weights[: len(strata)].sum())
        ranks, pr, _ = strata[k]
        return int(self.rng.choice(ranks, p=pr))

    def query(self, n_pos: int, negative: bool) -> tuple[list[str], list[str]]:
        """One query of ``n_pos`` positive terms, plus one negative
        term if ``negative``, as (positive words, negative words)."""
        pos: list[int] = []
        while len(pos) < n_pos:
            r = self._term(self.strata)
            if r not in pos:
                pos.append(r)
        neg: list[int] = []
        while negative and not neg:
            r = self._term(self.strata[:2])
            if r not in pos:
                neg.append(r)
        return [self.words[r] for r in pos], [self.words[r] for r in neg]

    def pool(self, size: int) -> list[tuple[tuple[str, ...], tuple[str, ...]]]:
        """``size`` distinct queries whose shapes do not depend on the
        seed: the first is the two-head-term query; the others cycle
        through 1-5 positive terms, and one in five (at seeded
        places) adds a negative term. Only the words are drawn."""
        n = size - 1
        neg_at = set(self.rng.choice(n, size=n // 5, replace=False).tolist())
        pool = [(tuple(self.head_pair()), ())]
        for i in range(n):
            while True:
                pos, neg = self.query(n_pos=1 + i % 5, negative=i in neg_at)
                q = (tuple(pos), tuple(neg))
                if q not in pool:
                    break
            pool.append(q)
        return pool

    def head_pair(self) -> list[str]:
        """The two most frequent query-eligible words (the
        two-head-term query of the latency decomposition)."""
        ranks = self.strata[0][0]
        return [self.words[ranks[0]], self.words[ranks[1]]]
