"""The keyword-query ops both workloads issue through the facade, and
the brute-force oracle their results are checked against."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

K = 10  # top-k of every query

Query = tuple[tuple[str, ...], tuple[str, ...]]  # (positive, negative) terms


def corpus_frame(bench, corpus, name: str):
    """Write a generated corpus to parquet and read it back: the
    engine sees only ``(doc_id, text)`` rows."""
    path = f"{bench.work}/{name}.parquet"
    corpus.write_parquet(path)
    return bench.spark.read.parquet(path).select("doc_id", "text")


def kw(eng, q: Query, return_documents: bool = False, k: int = K, use_index=None) -> list:
    return eng.search_documents_by_keywords(
        list(q[0]),
        k,
        keywords_neg=list(q[1]),
        return_documents=return_documents,
        use_index=use_index,
    ).collect()


def kw_batch(eng, pool: list[Query], picks: list[int]) -> dict[str, list]:
    """One ``search_documents_by_keywords_batch`` call; query ``q<i>``
    is ``pool[picks[i]]``. Returns each query's (doc_id, score) hits."""
    queries = {f"q{i}": (list(pool[j][0]), list(pool[j][1])) for i, j in enumerate(picks)}
    out: dict[str, list] = {qid: [] for qid in queries}
    for r in eng.search_documents_by_keywords_batch(queries, K).collect():
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def hits(rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in rows]


class Oracle:
    """Brute-force top-k (``use_index=False``) of one engine state,
    memoized per query. The brute-force path ignores tombstones, so
    ``deleted`` ids are dropped from a deeper result before cutting
    it to k; corpus statistics are the same stale ones on both paths.

    With ``cache`` the engine's token and doc-stats tables are cached
    first: every brute-force query re-reads them, and tokenizing the
    corpus again per query would dominate a check of many queries."""

    def __init__(self, eng, deleted=frozenset(), cache: bool = True) -> None:
        self.eng = eng
        self.deleted = frozenset(deleted)
        self.memo: dict[Query, list] = {}
        if cache:
            eng.tokens = eng.tokens.cache()
            eng.doc_stats = eng.doc_stats.cache()

    def __call__(self, q: Query) -> list[tuple[int, float]]:
        if q not in self.memo:
            rows = kw(self.eng, q, k=K + len(self.deleted), use_index=False)
            live = [h for h in hits(rows) if h[0] not in self.deleted]
            self.memo[q] = live[:K]
        return self.memo[q]

    def prefetch(self, queries, workers: int) -> None:
        """Answer ``queries`` from ``workers`` threads. Each
        brute-force query is a few small Spark jobs, so concurrent
        ones keep the cores busier than one after another."""
        with ThreadPoolExecutor(workers) as ex:
            list(ex.map(self, dict.fromkeys(queries)))
