"""Top2VecSpark — the user-facing façade (SURVEY.md §7.2 step 8).

Mirrors the reference API surface (Top2Vec class, reference
top2vec/top2vec.py:450) re-expressed over the inverted index:

- ``search_documents_by_keywords(keywords, num_docs, keywords_neg)``
  (reference top2vec.py:2855) -> multi-term BM25 top-k.
- ``query_documents(query, num_docs)`` (top2vec.py:2420) -> tokenize
  the free-text query with the reference tokenizer contract, then
  bag-of-words BM25 top-k.
- ``search_words_by_keywords`` / ``similar_words`` (top2vec.py:2947)
  -> top-k terms by BM25-weighted co-occurrence, with the reference's
  over-fetch + self-exclusion arithmetic (top2vec.py:3000-3011).

Reference quirks preserved deliberately (SURVEY.md Appendix A):
keyword lowercasing (T4), strict '>' min_count (P1), over-fetch then
exclude then re-limit (K4/P4/P5). Quirks NOT copied: unstable top-k
tie order (we fix score DESC, doc_id ASC).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top2vec_spark.config import BM25Config, DEFAULT_MIN_COUNT
from top2vec_spark.functions.tokenizer import reference_tokenize
from top2vec_spark.operators import bm25 as bm25_ops
from top2vec_spark.operators.corpus_stats import (
    CorpusGlobals,
    build_doc_stats,
    build_vocab,
    compute_globals,
)
from top2vec_spark.operators.postings import DEFAULT_DOCS_PER_SHARD
from top2vec_spark.operators.tokens import tokenize_docs


def _atom_display(a) -> str:
    """Display form of a scoring Atom for :meth:`Top2VecSpark.explain`
    output — the atom as a user would have typed it (sign/boost are
    reported in the separate ``sign`` column)."""
    if len(a.terms) > 1:
        base = '"%s"' % " ".join(a.terms)
        if a.slop is not None:
            base += f"~{a.slop}"
        return base
    t = a.terms[0]
    if a.fuzz is not None:
        return f"{t}~{a.fuzz}"
    return t


class Top2VecSpark:
    """Inverted-index retrieval engine over a documents DataFrame.

    ``docs`` must carry (doc_id: long, text: string); extra columns
    (url, lang, ...) are kept for projection. ``keep_documents``
    mirrors the reference flag (top2vec.py:501-503): when False,
    search results never include text.
    """

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        min_count: int = DEFAULT_MIN_COUNT,
        cfg: BM25Config = BM25Config(),
        keep_documents: bool = True,
        ascii_fast_path: bool = False,
        index_path: str | None = None,
        tokenizer=None,
        ngram_vocab: bool = False,
        phrase_min_count: int = 5,
        phrase_threshold: float = 10.0,
    ) -> None:
        """``tokenizer``: optional str -> list[str] callable replacing
        the built-in contract tokenizer everywhere (the reference's
        custom-tokenizer hook, top2vec.py:411-415). Runs as an
        Arrow-batched UDF — slower than the built-in C-level path but
        fully supported.

        ``ngram_vocab=True`` (reference top2vec.py:876-890): mined
        bigram phrases enter the vocabulary/index as first-class terms
        with their own postings, so multi-word keywords like
        "machine learning" retrieve (operators/phrases.
        tokens_with_phrases — augment semantics, documented)."""
        self.spark = spark
        self.cfg = cfg
        self.keep_documents = keep_documents
        self.docs = docs
        # what ``tokens`` come from: a facade delete leaves it as
        # constructed; compaction points it at the survivors
        self._corpus = docs
        self.min_count = min_count
        self.index_path = index_path
        self.ascii_fast_path = ascii_fast_path
        self.tokenizer = tokenizer
        self.ngram_vocab = ngram_vocab
        self._phrase_min_count = phrase_min_count
        self._phrase_threshold = phrase_threshold
        self._index = None  # set by build_index() (postings/WAND path)
        # Reference parity: the attribute exists from construction
        # (top2vec.py __init__ stores embedding_model_path; 1846-1870
        # mutate it) — None means "callable uses its own default".
        self.embedding_model_path: str | None = None

    def _like(self, docs: DataFrame) -> "Top2VecSpark":
        """A new engine over ``docs`` with this engine's settings."""
        return Top2VecSpark(
            self.spark,
            docs,
            min_count=self.min_count,
            cfg=self.cfg,
            keep_documents=self.keep_documents,
            ascii_fast_path=self.ascii_fast_path,
            tokenizer=self.tokenizer,
            ngram_vocab=self.ngram_vocab,
            phrase_min_count=self._phrase_min_count,
            phrase_threshold=self._phrase_threshold,
        )

    # -- corpus statistics ---------------------------------------------------
    # One rule: with an index, N/avgdl (``globals``), df (``vocab``) and
    # dl (``doc_stats``) are the index's — pre-delete until
    # compact_index, identical across save/load. Without one they derive
    # from ``tokens`` on first read. Nothing runs at construction;
    # ``tokens`` and ``doc_stats`` are assignable (e.g. to cached copies).
    @property
    def _index(self):
        return self.__dict__.get("_idx")

    @_index.setter
    def _index(self, idx) -> None:
        # the one place an engine's index changes (build, compaction,
        # append, load): every table cached from the old one goes
        self.__dict__["_idx"] = idx
        for key in ("_vocab", "_doc_stats", "_globals", "_vocab_map", "_id_bounds"):
            self.__dict__.pop(key, None)

    def _tokenize(self, docs: DataFrame, phrases: bool = True) -> DataFrame:
        """``docs`` tokenized the way the index's terms were: this
        engine's tokenizer, then :attr:`phrases` with ``ngram_vocab``."""
        toks = tokenize_docs(
            docs, ascii_fast_path=self.ascii_fast_path, tokenizer=self.tokenizer
        )
        if phrases and self.ngram_vocab:
            from top2vec_spark.operators.phrases import tokens_with_phrases

            toks = tokens_with_phrases(toks, self.phrases)
        return toks

    @property
    def tokens(self) -> DataFrame:
        if "_tokens" not in self.__dict__:
            self._tokens = self._tokenize(self._corpus)
        return self._tokens

    @tokens.setter
    def tokens(self, df: DataFrame) -> None:
        self._tokens = df

    @property
    def phrases(self) -> DataFrame:
        """Bigram phrases mined from the constructing corpus; an
        indexed engine's :meth:`add_documents` result keeps its
        source's, as the index does."""
        if "_phrases" not in self.__dict__:
            from top2vec_spark.operators.phrases import find_phrases

            self._phrases = find_phrases(
                self._tokenize(self._corpus, phrases=False),
                min_count=self._phrase_min_count,
                threshold=self._phrase_threshold,
            ).cache()
        return self._phrases

    @property
    def vocab(self) -> DataFrame:
        if "_vocab" not in self.__dict__:
            self._vocab = (
                build_vocab(self.tokens, min_count=self.min_count).cache()
                if self._index is None
                else self._index.vocab
            )
        return self._vocab

    @property
    def doc_stats(self) -> DataFrame:
        if "_doc_stats" not in self.__dict__:
            self._doc_stats = (
                build_doc_stats(self.tokens).cache()
                if self._index is None
                else self._index.doc_stats.select("doc_id", "dl")
            )
        return self._doc_stats

    @doc_stats.setter
    def doc_stats(self, df: DataFrame) -> None:
        self._doc_stats = df

    @property
    def globals(self) -> CorpusGlobals:
        if self._index is not None:
            return self._index.globs
        if "_globals" not in self.__dict__:
            self._globals = compute_globals(self.doc_stats)
        return self._globals

    @classmethod
    def from_pages(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        lang_filter: str | None = None,
        **kwargs,
    ) -> "Top2VecSpark":
        """Construct from the north-rule input shape
        (url, warc_ts, html, text, lang): assigns deterministic dense
        doc_ids by url order and extracts text from html where the
        text column is null (the extract must round-trip
        byte-identically with the tokenizer contract — FIXTURES.md §1).
        """
        from top2vec_spark.operators.tokens import assign_doc_ids

        if lang_filter:
            pages = pages.filter(F.col("lang") == lang_filter)
        docs = assign_doc_ids(pages).withColumn(
            "text",
            F.coalesce(F.col("text"), F.decode(F.col("html"), "utf-8")),
        )
        return cls(spark, docs, **kwargs)

    def build_index(
        self,
        path: str | None = None,
        resume: bool = True,
        input_fingerprint: str | None = None,
        store_positions: bool = False,
        **builder_kwargs,
    ):
        """Build the compressed postings index (checkpoint-resumable).
        Returns the PostingsIndex; once built, queries use WAND and the
        engine's statistics are the index's. ``input_fingerprint`` ties
        resume markers to the input data identity
        (plans/build.IndexBuilder). ``store_positions`` also writes
        the positional sidecar (operators/positional.py), after which
        phrase/proximity/query-language searches read directory-pruned
        postings instead of re-tokenizing."""
        from top2vec_spark.plans.build import IndexBuilder

        builder = IndexBuilder(
            self.spark,
            path or self.index_path,
            cfg=self.cfg,
            input_fingerprint=input_fingerprint,
            **builder_kwargs,
        )
        self._index = builder.build(
            self.tokens, min_count=self.min_count, resume=resume
        )
        if store_positions:
            self.build_position_sidecar()
        return self._index

    def build_position_sidecar(self, n_buckets: int = 64) -> None:
        """Write the positional sidecar under the built index's path.
        The stored next_doc_id makes freshness checkable: an epoch
        append bumps the live index's next_doc_id, and a stale sidecar
        (missing the appended docs) is then bypassed in favor of the
        raw-tokens plans."""
        from top2vec_spark.operators.positional import build_position_index

        if self._index is None:
            raise ValueError("no index — build_index first")
        build_position_index(
            self.tokens,
            self._index.path,
            n_buckets=n_buckets,
            meta_extra={"next_doc_id": int(self._index.next_doc_id())},
        )

    def _sidecar_fresh(self) -> bool:
        """True when a positional sidecar exists AND is fresh
        (stored next_doc_id matches the live index — an epoch append
        bumps it, so a stale sidecar never serves)."""
        from top2vec_spark.operators.positional import position_index_meta

        idx = self._index
        if idx is None:
            return False
        meta = position_index_meta(idx.path)
        return meta is not None and meta.get("next_doc_id") == int(
            idx.next_doc_id()
        )

    def _positional_tokens(self, words) -> DataFrame:
        """(doc_id, pos, term) source for the positional operators:
        the directory-pruned sidecar when one exists AND is fresh
        (next_doc_id matches the live index), else the raw tokens
        table. Both shapes are drop-in for every positional operator
        (each filters to its query words anyway)."""
        from top2vec_spark.operators.positional import load_position_postings

        if self._sidecar_fresh():
            return load_position_postings(self.spark, self._index.path, words)
        return self.tokens

    def _live(self, df: DataFrame) -> DataFrame:
        """``df`` without the index's deleted documents
        (PostingsIndex._live: one anti-join, or ``df`` itself when
        nothing is deleted or no index is built)."""
        return df if self._index is None else self._index._live(df)

    def _n_deleted(self) -> int:
        """Tombstone count — sizes the over-fetch of the top-k
        operators that drop deleted docs after ranking."""
        return 0 if self._index is None else len(self._index.tombstones)

    def _exclude_tombstones(self, result: DataFrame, k: int, order) -> DataFrame:
        """Post-delete consistency for positional queries (which have
        no WAND path): the over-fetch + exclude + re-limit contract —
        ranks/scores keep the stale corpus stats exactly like the
        tombstoned WAND path, deleted docs just drop out of the
        result."""
        out = self._live(result)
        if out is not result:
            out = out.orderBy(*order)
        return out.limit(k) if k is not None else out

    def compact_index(self):
        """Maintenance hook: fold every streamed/appended epoch and
        all tombstones into a fresh single-epoch base
        (plans/build.compact_index — rebuild-equivalent, but from the
        stored packed tf, never re-reading raw text) under THIS
        engine's min_count. After the compaction, the surviving corpus
        is the new ground truth: ``self.docs`` drops any doc_id the
        index had tombstoned (the anti-join of :meth:`_drop_deleted` —
        correct even for deletes registered on the raw index rather
        than through api.delete_documents), ``tokens`` derive from
        those survivors, and the engine's statistics are the compacted
        index's survivor statistics — the point where deletes stop
        counting in N, avgdl, df and dl."""
        if self._index is None:
            raise ValueError("no index — build_index first")
        self._drop_deleted()
        tombs = self._index._tomb_frame()
        if tombs is not None:
            # the compaction swap DELETES the tombstone files: fill the
            # checkpoint the live frames anti-join against first
            tombs.count()
        self._index = self._index.compact(
            min_count=self.min_count, cfg=self.cfg
        )
        # the compacted index has no tombstones: the next delete
        # anti-joins the frames as they stand now
        self.__dict__.pop("_pre_delete", None)
        self._corpus = self.docs
        self.__dict__.pop("_tokens", None)
        return self._index

    # -- queries ------------------------------------------------------------
    _VOCAB_DRIVER_CAP = 2_000_000  # pin vocab on driver below this size

    @property
    def vocab_map(self) -> dict | None:
        """Driver-side term -> (term_id, df) dict for zero-job query
        planning (the reference's word_indexes dict, top2vec.py:673).
        None when the vocabulary exceeds the driver cap — queries then
        fall back to a filtered collect."""
        if not hasattr(self, "_vocab_map"):
            src = self.vocab
            if src.count() <= self._VOCAB_DRIVER_CAP:
                self._vocab_map = {
                    r["term"]: (r["term_id"], r["df"]) for r in src.collect()
                }
            else:
                self._vocab_map = None
        return self._vocab_map

    def _topk(
        self,
        pos: Sequence[str],
        neg: Sequence[str],
        k: int,
        exclude_doc_ids: Sequence[int] = (),
        use_index: bool | None = None,
    ) -> DataFrame:
        lookup = self.vocab_map
        qterms = bm25_ops.resolve_query_terms(
            lookup if lookup is not None else self.vocab, pos, neg
        )
        use_wand = self._index is not None if use_index is None else use_index
        if use_wand:
            from top2vec_spark.operators.wand import wand_topk

            return wand_topk(
                self.spark,
                self._index,
                qterms,
                self.globals,
                k,
                cfg=self.cfg,
                exclude_doc_ids=exclude_doc_ids,
            )
        weights = self.spark.createDataFrame(qterms, bm25_ops.QTERM_SCHEMA)
        return bm25_ops.bm25_topk_bruteforce(
            self.tokens,
            self.doc_stats,
            self.globals,
            weights,
            k,
            cfg=self.cfg,
            exclude_doc_ids=exclude_doc_ids,
        )

    def search_documents_by_keywords(
        self,
        keywords: Sequence[str],
        num_docs: int,
        keywords_neg: Sequence[str] = (),
        return_documents: bool = True,
        use_index: bool | None = None,
    ) -> DataFrame:
        """Reference top2vec.py:2855-2945 re-expressed: positive terms
        add BM25, negative subtract. Returns
        (doc_id, score[, text...]) ordered score DESC, doc_id ASC."""
        self._validate_list_arg(keywords, "keywords", "strings")
        self._validate_list_arg(keywords_neg, "keywords_neg", "strings")
        self._validate_num_docs(num_docs)
        self._validate_keywords(
            [k.lower() for k in keywords] + [k.lower() for k in keywords_neg]
        )
        result = self._topk(keywords, keywords_neg, num_docs, use_index=use_index)
        return self._project(result, return_documents)

    def search_documents_by_keywords_batch(
        self, queries: dict, num_docs: int
    ) -> DataFrame:
        """Batched serving (beyond the reference, which answers one
        query per call): ``queries`` maps query_id -> (keywords,
        keywords_neg); ALL queries are answered in ONE Spark job over
        the postings index (operators/wand.wand_topk_many — shared
        block decodes, one scan, one tiny final window). Returns
        (query_id, doc_id, score), each query's rows rank/score-
        identical to the per-query path (pytest-pinned). Requires a
        built index."""
        if self._index is None:
            raise ValueError("batched search requires build_index() first")
        from top2vec_spark.operators.wand import wand_topk_many

        lookup = self.vocab_map
        resolved = {
            str(qid): bm25_ops.resolve_query_terms(
                lookup if lookup is not None else self.vocab, pos, neg
            )
            for qid, (pos, neg) in queries.items()
        }
        self._validate_num_docs(num_docs)
        return wand_topk_many(
            self.spark, self._index, resolved, self.globals, num_docs, cfg=self.cfg
        )

    def search_documents_by_vectors_batch(
        self, queries: dict, num_docs: int, ef: int | None = None
    ) -> DataFrame:
        """Batched vector serving (beyond the reference): ``queries``
        maps query_id -> vector; ALL queries are answered in ONE Spark
        job over the ANN index (operators/hnsw.hnsw_topk_many — each
        shard graph deserialized once, one scan, one tiny final
        window), the vector twin of search_documents_by_keywords_batch.
        Returns (query_id, doc_id, score), each query rank/score-
        identical to the per-query use_index path. Requires
        index_document_vectors. ``ef=None`` -> num_docs, like the
        per-query default."""
        from top2vec_spark.operators.hnsw import hnsw_topk_many

        self._check_document_index_status()
        if not hasattr(self, "_doc_vectors"):
            raise ValueError(
                "no document vectors — compute_topics or "
                "set_document_vectors first"
            )
        dim = self._vector_dim(self._doc_vectors)
        for v in queries.values():
            self._validate_vector(v, dim)
        self._validate_num_docs(num_docs)
        eff = int(ef) if ef is not None else int(num_docs)
        return hnsw_topk_many(
            self._document_index,
            queries,
            num_docs,
            ef=eff,
            exclude=sorted(getattr(self, "_doc_index_tombstones", ())),
        ).withColumnRenamed("vec_id", "doc_id")

    def hybrid_search_documents(
        self,
        keywords: Sequence[str],
        vector: Sequence[float],
        num_docs: int,
        keywords_neg: Sequence[str] = (),
        return_documents: bool = True,
        rrf_c: int = 60,
        ef: int | None = None,
    ) -> DataFrame:
        """Engine addition (the reference picks ONE path per search,
        top2vec.py:2421-2495): reciprocal-rank fusion of the lexical
        top-num_docs (WAND when the postings index is built, brute
        BM25 otherwise) with the vector top-num_docs (the ANN index
        when index_document_vectors was called, exact cosine
        otherwise). Rank-based, so the two incomparable score scales
        never mix (operators/fusion.py). Returns (doc_id, rrf_score,
        n_lists) + documents when requested."""
        from top2vec_spark.operators.fusion import rrf_fuse

        self._validate_list_arg(keywords, "keywords", "strings")
        self._validate_list_arg(keywords_neg, "keywords_neg", "strings")
        self._validate_num_docs(num_docs)
        self._validate_keywords(
            [k.lower() for k in keywords] + [k.lower() for k in keywords_neg]
        )
        lex = self._topk(list(keywords), list(keywords_neg), num_docs)
        vec = self.search_documents_by_vector(
            vector,
            num_docs,
            return_documents=False,
            use_index=getattr(self, "_document_index", None) is not None,
            ef=ef,
        ).select("doc_id", "score")
        fused = rrf_fuse(
            {"lexical": lex, "vector": vec}, num_docs, rrf_c=rrf_c
        )
        return self._project(fused, return_documents)

    def query_documents(
        self, query: str, num_docs: int, return_documents: bool = True
    ) -> DataFrame:
        """Reference top2vec.py:2420-2495: tokenize the query with the
        T1 contract, then bag-of-words multi-term top-k. Out-of-vocab
        query tokens are dropped (the reference embeds them instead —
        documented re-expression, SURVEY.md §7.4)."""
        if not isinstance(query, str):
            raise ValueError("Query needs to be a string.")
        toks = reference_tokenize(query)
        known = self._known_terms(toks)
        terms = [t for t in toks if t in known]
        if not terms:
            raise ValueError("no query tokens found in vocabulary")
        self._validate_num_docs(num_docs)
        result = self._topk(terms, (), num_docs)
        return self._project(result, return_documents)

    # -- positional fulltext (beyond the reference: exact phrase,
    #    conjunctive AND, proximity, snippets — operators/positional.py)
    def search(
        self,
        query: str,
        num_docs: int,
        return_documents: bool = True,
        search_after: tuple | None = None,
        sort: list | None = None,
        min_should_match: int | None = None,
    ) -> DataFrame:
        """Query-language search (functions/querylang.py): bare terms,
        ``-`` negation, ``+`` required clauses, ``"quoted phrases"``,
        ``"sloppy phrases"~N`` (unordered span-near), trailing-``*``
        prefixes, ``~N`` fuzzy terms, ``field:value`` metadata
        filters, ``field:[lo TO hi]`` range filters, and ``^boost``
        weights — every scoring atom contributes sign * boost * BM25,
        phrases scored as exact-occurrence pseudo-terms, sloppy
        phrases as span-near match counts, fuzzy terms expanded
        against the vocabulary by edit distance, filters gating
        (never scoring) against the docs DataFrame's metadata
        columns, and only docs matching every ``+`` atom are
        returned. 'spark "fast table"^2 -slow lang:en
        n_chars:[100 TO 900]' == keywords [spark] + double-weighted
        phrase ["fast","table"] + keywords_neg [slow], restricted to
        lang == 'en' documents of 100-900 chars. Parenthesized
        groups distribute ``-``/``NOT``/``^boost`` into their
        members, a required group (``+(a b)`` or ``AND`` adjacency)
        gates disjunctively (match at least one member), and
        ``field:(v1 v2)`` is field-grouping sugar; ``+``/``AND``
        INSIDE a group are rejected (documented delta — see
        functions/querylang.py).

        ``search_after=(score, doc_id)`` is cursor pagination — the
        Elasticsearch search_after shape: pass the LAST row of the
        previous page and only strictly-later rows in the global
        (score DESC, doc_id ASC) order are returned. A cursor filter
        composes with ranking inside one plan (still
        TakeOrderedAndProject over the pre-filtered match set), so
        deep paging never pays the from+size re-scan-and-discard
        cost: page N is the same one-pass top-k as page 1. The
        cursor values must come from a previous page verbatim
        (engine-computed float64 score + doc_id).

        ``sort=[("field", "asc"|"desc"), ...]`` ranks by metadata
        columns instead of relevance (the ES sort shape; doc_id ASC
        is always the final tiebreak, score still returned). Sorting
        joins the match set to the metadata columns and replaces the
        top-k ordering — still one TakeOrderedAndProject, never a
        global sort. ``sort`` + ``search_after`` together are not
        supported (a sort cursor is a different tuple shape —
        documented limit).

        ``min_should_match=N`` (the ES/Lucene parameter): a doc must
        match at least N of the positive should atoms — must /
        filter / prohibited clauses are unaffected; N above the
        should count matches nothing (Lucene's rule).

        Routing: a PLAIN query — only unboosted ±terms, no
        phrase/wildcard/fuzzy/slop/filter/must/group and no
        search_after/sort/min_should_match — is served by the SAME
        block-max WAND kernel over the bucketed postings index as
        ``search_documents_by_keywords`` when an index is loaded
        (rank/score identity WAND ≡ brute is driver-pinned); every
        other shape runs the mixed executor over the term-pruned
        token/sidecar scans."""
        self._validate_num_docs(num_docs)
        if (
            search_after is None
            and sort is None
            and min_should_match is None
            and self._index is not None
        ):
            plain = self._plain_query_terms(query)
            if plain is not None:
                # the WAND index handles tombstones itself — this IS
                # the search_documents_by_keywords serving path
                pos, neg, terms = plain
                self._validate_keywords(terms)
                result = self._topk(pos, neg, num_docs)
                return self._project(result, return_documents)
        scored = self._live(
            self._query_match_scores(query, min_should_match=min_should_match)
        )
        if search_after is not None:
            if sort is not None:
                raise ValueError(
                    "search_after with sort is not supported "
                    "(cursor pagination follows relevance order)"
                )
            if (
                not isinstance(search_after, (tuple, list))
                or len(search_after) != 2
            ):
                raise ValueError(
                    "search_after must be a (score, doc_id) pair "
                    "from the previous page's last row"
                )
            s_after, d_after = float(search_after[0]), int(search_after[1])
            scored = scored.filter(
                (F.col("score") < F.lit(s_after))
                | (
                    (F.col("score") == F.lit(s_after))
                    & (F.col("doc_id") > F.lit(d_after))
                )
            )
        if sort is not None:
            order = self._sort_order(sort)
            # doc_id is already in the match set; other sort fields
            # join in from metadata for the ordering
            fields = [
                f for f in dict.fromkeys(f for f, _ in sort) if f != "doc_id"
            ]
            if fields:
                scored = scored.join(
                    self.docs.select("doc_id", *fields), "doc_id"
                )
        else:
            order = [F.col("score").desc(), F.col("doc_id").asc()]
        result = scored.orderBy(*order).limit(num_docs)
        if sort is not None:
            # drop sort columns _project re-adds from the docs side
            # (url / projected text) — a duplicate column name would
            # make the final orderBy reference ambiguous; the others
            # ride along in the result (ES returns the sort values —
            # they are the page cursor a client would keep)
            collide = [
                f
                for f in fields
                if f == "url"
                or (
                    f == "text"
                    and return_documents
                    and self.keep_documents
                )
            ]
            if collide:
                result = result.drop(*collide)
        return self._project(result, return_documents, order=order)

    def _meta_field(self, field: str, what: str, numeric: bool = False) -> None:
        """Validate a metadata column an aggregation/collapse joins in
        through docs.select('doc_id', field): it must exist, must not
        be 'doc_id' (that would duplicate the join key and die later
        with an ambiguous-reference AnalysisException; 'score' is not a
        metadata column, so the unknown-field check covers it), and
        with ``numeric`` must have a numeric type. ``what`` names the
        field's role in the error messages."""
        if field not in self.docs.columns:
            raise ValueError(
                f"unknown {what} field '{field}' — not a metadata column"
            )
        if field == "doc_id":
            raise ValueError(
                f"'doc_id' cannot be a {what} field (it is the join key)"
            )
        if not numeric:
            return
        dtype = self.docs.schema[field].dataType.simpleString()
        if dtype not in ("tinyint", "smallint", "int", "bigint",
                         "float", "double") and not dtype.startswith("decimal"):
            raise ValueError(f"{what} field '{field}' ({dtype}) is not numeric")

    def _sort_order(self, sort) -> list:
        """Validate an ES-style sort spec [(field, 'asc'|'desc'), ...]
        against the metadata columns; returns the orderBy column list
        with the doc_id ASC final tiebreak. NULLs sort last in either
        direction (the ES missing:_last default)."""
        if not isinstance(sort, (list, tuple)) or not sort:
            raise ValueError(
                "sort must be a non-empty list of (field, 'asc'|'desc')"
            )
        order = []
        for item in sort:
            if not isinstance(item, (list, tuple)) or len(item) != 2:
                raise ValueError(
                    "sort must be a non-empty list of (field, 'asc'|'desc')"
                )
            fld, direction = item
            if fld not in self.docs.columns:
                raise ValueError(
                    f"unknown sort field '{fld}' — not a metadata column"
                )
            if direction not in ("asc", "desc"):
                raise ValueError(
                    f"sort direction must be 'asc' or 'desc', got '{direction}'"
                )
            order.append(
                F.col(fld).desc_nulls_last()
                if direction == "desc"
                else F.col(fld).asc_nulls_last()
            )
        order.append(F.col("doc_id").asc())
        return order

    def _plain_query_terms(self, query: str):
        """(pos, neg) term lists when ``query`` is a PLAIN
        query-language string — only unboosted ±single terms, no
        phrase/wildcard/fuzzy/slop/filter/must/group and no repeated
        term — else None. Plain queries are exactly the shape the
        block-max WAND index serves with rank/score identity to the
        mixed executor (driver-pinned), so callers route them to
        :meth:`_topk`."""
        from top2vec_spark.functions.querylang import (
            has_wildcard,
            parse_query,
        )

        atoms = parse_query(query)
        plain = all(
            a.field is None
            and len(a.terms) == 1
            and a.fuzz is None
            and a.slop is None
            and not a.must
            and a.group is None
            and abs(a.sign) == 1.0
            and not has_wildcard(a.terms[0])
            for a in atoms
        )
        terms = [a.terms[0] for a in atoms]
        pos = [a.terms[0] for a in atoms if a.sign > 0]
        if plain and pos and len(set(terms)) == len(terms):
            # terms kept in atom order so callers validate with the
            # same first-unknown error the pre-routing path raised
            return pos, [a.terms[0] for a in atoms if a.sign < 0], terms
        return None

    def _parse_and_route(self, query: str):
        """Parse + validate a query-language string and pick the token
        source (pruned positional sidecar when usable, else the raw
        tokens table) and metadata frame — the shared routing of
        :meth:`search` / :meth:`facet_counts` / :meth:`explain`.
        Returns (atoms, src, doc_meta_or_None)."""
        from top2vec_spark.functions.querylang import (
            has_wildcard as _has_wildcard,
            parse_query,
        )

        atoms = parse_query(query)
        # wildcard atoms (* / ?), fuzzy atoms (~N), and field
        # filters validate at expansion/execution time instead
        words = [
            w
            for a in atoms
            if a.field is None and a.fuzz is None
            for w in a.terms
            if not _has_wildcard(w)
        ]
        if words:
            self._validate_keywords(words)
        # wildcard/fuzzy atoms resolve against the VOCABULARY into
        # <= max_expansions concrete terms before any token scan —
        # expand FIRST, then route the expanded set through the
        # term-pruned sidecar: the sidecar prunes on exact terms
        # regardless of how they were produced, so `t?ble` reads a few
        # term buckets instead of re-tokenizing the corpus (the r05
        # wildcard/fuzzy serving-path scale fix). The executor re-runs
        # the same tiny vocab-filtered collect for its weight rows —
        # two planning-time collects, zero corpus cost.
        unpruned = [
            a
            for a in atoms
            if len(a.terms) == 1
            and a.field is None
            and (_has_wildcard(a.terms[0]) or a.fuzz is not None)
        ]
        has_scoring = any(a.field is None for a in atoms)
        if not has_scoring:
            src = self.tokens  # filter-only: src unused
        elif not unpruned:
            src = self._positional_tokens(words)
        elif self._sidecar_fresh():
            from top2vec_spark.operators.positional import (
                expand_fuzzy_terms,
                expand_wildcard_terms,
            )

            expanded = list(words)
            for a in unpruned:
                exp = (
                    expand_fuzzy_terms(self.vocab, a.terms[0], a.fuzz)
                    if a.fuzz is not None
                    else expand_wildcard_terms(self.vocab, a.terms[0])
                )
                expanded.extend(r["term"] for r in exp)
            src = self._positional_tokens(expanded)
        else:
            src = self.tokens
        has_filter = any(a.field is not None for a in atoms)
        return atoms, src, (self.docs if has_filter else None)

    def _query_match_scores(
        self, query: str, min_should_match: int | None = None
    ) -> DataFrame:
        """FULL match set of a query-language string as
        (doc_id, score) — the shared front half of :meth:`search`
        (which ranks and limits it) and :meth:`facet_counts` (which
        aggregates it whole)."""
        from top2vec_spark.operators.positional import mixed_query_scores

        atoms, src, meta = self._parse_and_route(query)
        return mixed_query_scores(
            self.spark,
            src,
            self.doc_stats,
            self.globals,
            self.vocab,
            atoms,
            doc_meta=meta,
            min_should_match=min_should_match,
        )

    def explain(self, query: str, doc_id: int) -> DataFrame:
        """Lucene ``IndexSearcher.explain`` parity: the per-atom BM25
        contribution breakdown of ONE document under a query-language
        query — one row per atom the doc matches, as (atom_id, atom,
        sign, n_terms, contrib): ``atom`` is the atom's display form,
        ``sign`` its effective weight (±1 × boost), ``n_terms`` the
        matching expansion-term count (>1 for prefix/fuzzy atoms),
        ``contrib`` the atom's total signed BM25 contribution. The
        doc's search score is the atom-ordered sum of ``contrib``
        (float64-ULP-exact regrouping of the engine's fold). A doc
        that matches nothing returns an empty frame (Lucene's
        "failure to match"). Gates are NOT applied: must / filter /
        msm rules decide membership in search results, not scores, so
        explain reports the contribution rows even for a doc the
        gates would exclude (inspecting exactly why a doc scores as
        it does is the point). Raises on a filter-only query (nothing
        to explain)."""
        from top2vec_spark.operators.positional import mixed_query_explain

        atoms, src, meta = self._parse_and_route(query)
        res = mixed_query_explain(
            self.spark,
            src,
            self.doc_stats,
            self.globals,
            self.vocab,
            atoms,
            int(doc_id),
            doc_meta=meta,
        )
        labels = [(i, _atom_display(a), float(a[0]))
                  for i, a in enumerate(atoms) if a.field is None]
        lab = self.spark.createDataFrame(
            labels, "atom_id int, atom string, sign double"
        )
        return res.join(F.broadcast(lab), "atom_id").select(
            "atom_id", "atom", "sign", "n_terms", "contrib"
        ).orderBy("atom_id")

    def facet_counts(
        self, query: str, field: str, num_facets: int = 10
    ) -> DataFrame:
        """Terms-aggregation facets over a query's FULL match set —
        the Elasticsearch terms-bucket shape: run the query-language
        match (every scoring/filter/must rule of :meth:`search`, but
        unranked and unlimited), bucket the matching documents by a
        metadata column, and return the top ``num_facets`` buckets as
        (key, doc_count), doc_count DESC / key ASC. NULL metadata
        forms no bucket (ES's missing-bucket default). Tombstoned
        documents are excluded before bucketing, so facet counts
        always agree with what a paging user can retrieve."""
        self._meta_field(field, "facet")
        self._validate_num(num_facets, "num_facets")
        scored = self._live(self._query_match_scores(query))
        return (
            scored.join(self.docs.select("doc_id", field), "doc_id")
            .filter(F.col(field).isNotNull())
            .groupBy(F.col(field).alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(num_facets)
        )

    def histogram_counts(
        self, query: str, field: str, interval: int | float
    ) -> DataFrame:
        """Histogram aggregation over a query's FULL match set — the
        Elasticsearch histogram-agg shape: bucket the matching
        documents by ``floor(field / interval) * interval`` over a
        NUMERIC metadata column and return every non-empty bucket as
        (bucket, doc_count), bucket ASC. NULL metadata forms no
        bucket; tombstoned documents are excluded. Same plan family
        as :meth:`facet_counts`: the scored match set + one metadata
        join + a two-phase hash aggregation on the (derived, still
        low-cardinality) bucket key — one Exchange."""
        self._meta_field(field, "histogram", numeric=True)
        if not isinstance(interval, (int, float)) or interval <= 0:
            raise ValueError("interval must be a positive number")
        scored = self._live(self._query_match_scores(query))
        bucket = (
            F.floor(F.col(field) / F.lit(interval)) * F.lit(interval)
        ).cast("double" if isinstance(interval, float) else "bigint")
        return (
            scored.join(self.docs.select("doc_id", field), "doc_id")
            .filter(F.col(field).isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.col("bucket").asc())
        )

    def stats_agg(self, query: str, field: str) -> DataFrame:
        """Stats aggregation over a query's FULL match set — the ES
        stats-agg shape: ONE row (doc_count, min, max, avg, sum) of a
        numeric metadata column over every matching document (NULL
        metadata excluded from all five, the ES default; tombstones
        excluded). Same plan family as :meth:`facet_counts` with the
        final aggregation global: partial aggregates per partition,
        one single-row Exchange."""
        self._meta_field(field, "stats", numeric=True)
        scored = self._live(self._query_match_scores(query))
        return (
            scored.join(self.docs.select("doc_id", field), "doc_id")
            .filter(F.col(field).isNotNull())
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.min(field).alias("min"),
                F.max(field).alias("max"),
                F.avg(field).alias("avg"),
                F.sum(field).alias("sum"),
            )
        )

    def facet_stats(
        self,
        query: str,
        key_field: str,
        metric_field: str,
        num_facets: int = 10,
    ) -> DataFrame:
        """Terms aggregation WITH a sub-aggregation metric — the ES
        terms-agg + nested stats shape: bucket the query's FULL match
        set by ``key_field`` and compute doc_count plus
        min/max/avg/sum of ``metric_field`` per bucket, top
        ``num_facets`` buckets by doc_count DESC / key ASC. NULL keys
        form no bucket; NULL metric values are excluded from the
        metric (not the count) — the ES default; tombstones excluded.
        Plan: one metadata join carrying both columns + a single
        two-phase hash aggregation (one Exchange on the bucket
        key)."""
        self._meta_field(key_field, "facet")
        self._meta_field(metric_field, "stats", numeric=True)
        self._validate_num(num_facets, "num_facets")
        scored = self._live(self._query_match_scores(query))
        return (
            scored.join(
                self.docs.select("doc_id", key_field, metric_field), "doc_id"
            )
            .filter(F.col(key_field).isNotNull())
            .groupBy(F.col(key_field).alias("key"))
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.min(metric_field).alias("min"),
                F.max(metric_field).alias("max"),
                F.avg(metric_field).alias("avg"),
                F.sum(metric_field).alias("sum"),
            )
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(num_facets)
        )

    def collapse_search(
        self,
        query: str,
        field: str,
        num_docs: int,
        return_documents: bool = True,
    ) -> DataFrame:
        """Field collapsing — the ES ``collapse`` shape: the best
        (score DESC, doc_id ASC) document PER value of a metadata
        field, collapsed groups ranked by their winner's score, top
        ``num_docs`` groups. The result-diversification primitive
        (one hit per domain/language/source). NULL field values form
        no group (the ES missing default); tombstones excluded before
        collapsing so a deleted winner promotes the runner-up.
        Plan: match set + one metadata join + ONE window (Exchange on
        the collapse field, row_number) + TakeOrderedAndProject —
        at 10^12 docs the shuffle is the match set, never the corpus,
        and the per-group state is one row."""
        from pyspark.sql import Window

        self._meta_field(field, "collapse")
        self._validate_num_docs(num_docs)
        scored = self._live(self._query_match_scores(query))
        w = Window.partitionBy(field).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        result = (
            scored.join(self.docs.select("doc_id", field), "doc_id")
            .filter(F.col(field).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(num_docs)
        )
        if field == "url" or (
            field == "text" and return_documents and self.keep_documents
        ):
            # _project re-adds these from the docs side — avoid the
            # duplicate-column ambiguity (same rule as sort-by-field);
            # otherwise the collapse key rides along in the result
            result = result.drop(field)
        return self._project(result, return_documents)

    def range_agg(
        self, query: str, field: str, ranges: list
    ) -> DataFrame:
        """Range aggregation — the ES range-agg shape: explicit
        [lo, hi) buckets over a numeric metadata column of the
        query's FULL match set, one row per REQUESTED bucket (empty
        buckets included with doc_count 0 — the ES behavior, unlike
        the histogram agg) as (bucket, doc_count), in the requested
        order. Each range is ``(lo, hi)`` with ``None`` for an open
        end; ``from`` is inclusive, ``to`` exclusive (ES semantics).
        Ranges may overlap — a doc counts in every bucket it falls in
        (ES allows this; buckets are independent predicates). NULL
        metadata counts nowhere; tombstones excluded. Plan: match set
        + one metadata join + one aggregate of K conditional counts —
        single-row Exchange, no per-bucket scan."""
        self._meta_field(field, "range", numeric=True)
        if not isinstance(ranges, (list, tuple)) or not ranges:
            raise ValueError(
                "ranges must be a non-empty list of (lo, hi) pairs"
            )
        preds = []
        labels = []
        for item in ranges:
            if not isinstance(item, (list, tuple)) or len(item) != 2:
                raise ValueError(
                    "ranges must be a non-empty list of (lo, hi) pairs"
                )
            lo, hi = item
            if lo is None and hi is None:
                raise ValueError("a range needs at least one bound")
            p = F.col(field).isNotNull()
            if lo is not None:
                p = p & (F.col(field) >= F.lit(lo))
            if hi is not None:
                p = p & (F.col(field) < F.lit(hi))
            preds.append(p)
            labels.append(f"{'*' if lo is None else lo}-"
                          f"{'*' if hi is None else hi}")
        scored = self._live(self._query_match_scores(query))
        joined = scored.join(self.docs.select("doc_id", field), "doc_id")
        counts = joined.agg(
            *[
                F.sum(F.when(p, 1).otherwise(0)).alias(f"_c{i}")
                for i, p in enumerate(preds)
            ]
        ).collect()[0]
        rows = [(lab, int(counts[f"_c{i}"] or 0))
                for i, lab in enumerate(labels)]
        return self.spark.createDataFrame(
            rows, "bucket string, doc_count bigint"
        )

    def significant_terms(
        self, query: str, num_terms: int = 10
    ) -> DataFrame:
        """Significant-terms aggregation — the ES shape: vocabulary
        terms OVERREPRESENTED in the query's match set relative to
        the whole corpus, scored by the JLH heuristic
        ``(fgPct - bgPct) * (fgPct / bgPct)`` where fgPct = the
        term's doc frequency within the matching documents and bgPct
        = its corpus doc frequency (both as fractions). Returns the
        top ``num_terms`` as (term, fg_count, bg_count, score),
        score DESC / term ASC; terms must appear in the match set
        (fg_count >= 1) and only terms MORE frequent than background
        qualify (score > 0 — the ES behavior of surfacing uncommonly
        common terms). The "what characterizes these results" query
        — the reference's topic-words instinct over an ad-hoc result
        set. Plan: match-set semi-join onto the tokens table, one
        (term) count aggregation against the precomputed vocab df —
        the foreground scan is the matching docs' postings, never the
        corpus; the background stats are free from the vocab table.
        Tombstones excluded."""
        self._validate_num(num_terms, "num_terms")
        scored = self._live(self._query_match_scores(query))
        # ONE execution of the match set: the eager localCheckpoint
        # materializes it, the count reads the materialization, and the
        # semi-join below reuses it (previously the unpersisted plan
        # re-ran the whole query a second time for the join)
        scored = scored.localCheckpoint(eager=True)
        n_fg = scored.count()
        if n_fg == 0:
            return self.spark.createDataFrame(
                [], "term string, fg_count bigint, bg_count bigint, score double"
            )
        n_bg = self.globals.n_docs
        # foreground (doc_id, term) source, cheapest first: the fresh
        # positional sidecar (one DISTINCT row per (term, doc) — count
        # rows, no distinct aggregation; the positions column is never
        # read, parquet prunes it), else the index's stored packed tf
        # lineage (JVM explode, already-distinct (doc, term) rows),
        # else the lazy re-tokenize plan (no index — the only case
        # that still scans raw text)
        idx = self._index
        if self._sidecar_fresh():
            from top2vec_spark.operators.positional import POSITIONS_SUBDIR

            fg_rows = self.spark.read.parquet(
                f"{idx.path}/{POSITIONS_SUBDIR}"
            ).select("doc_id", "term")
            fg_agg = F.count(F.lit(1)).alias("fg_count")
        elif idx is not None:
            from top2vec_spark.operators.tokens import explode_packed_tf

            fg_rows = explode_packed_tf(idx.packed_tf).select(
                "doc_id", "term"
            )
            fg_agg = F.count(F.lit(1)).alias("fg_count")
        else:
            fg_rows = self.tokens
            fg_agg = F.count_distinct("doc_id").alias("fg_count")
        fg = (
            fg_rows.join(scored.select("doc_id"), "doc_id", "left_semi")
            .groupBy("term")
            .agg(fg_agg)
        )
        fg_pct = F.col("fg_count") / F.lit(float(n_fg))
        bg_pct = F.col("df") / F.lit(float(n_bg))
        return (
            fg.join(self.vocab.select("term", "df"), "term")
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .filter(F.col("score") > 0.0)
            .select(
                "term",
                "fg_count",
                F.col("df").alias("bg_count"),
                "score",
            )
            .orderBy(F.col("score").desc(), F.col("term").asc())
            .limit(num_terms)
        )

    def rescore(
        self,
        query: str,
        rescore_query: str,
        num_docs: int,
        window_size: int = 100,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        return_documents: bool = True,
    ) -> DataFrame:
        """Two-phase retrieval — the ES ``rescore`` shape: rank the
        cheap ``query`` first, take its top ``window_size`` docs, and
        re-rank ONLY that window by
        ``query_weight * score + rescore_weight * rescore_score``
        (ES's ``total`` score mode; a window doc the rescore query
        does not match keeps rescore_score 0 and is NOT dropped).
        The production serving pattern at 10^12 docs: the first pass
        runs the index-speed scorer over the corpus, the expensive
        scorer (typically a phrase/proximity query) runs over
        ``window_size`` documents — its cost is bounded by the window
        no matter the corpus size. The window membership is pushed
        into the second pass as a doc_id IN filter (window_size is
        driver-small by construction), so the rescore scan reads the
        window docs' postings only. Returns the top ``num_docs`` by
        the combined score (combined DESC, doc_id ASC)."""
        self._validate_num_docs(num_docs)
        self._validate_num(window_size, "window_size")
        if num_docs > window_size:
            raise ValueError(
                "num_docs cannot exceed window_size (the rescore "
                "window bounds the result)"
            )
        plain = self._index and self._plain_query_terms(query)
        if plain is not None:
            # index-speed first pass: a plain first query rides the
            # SAME block-max WAND routing as search() (rank/score
            # identity to the mixed executor is driver-pinned, and
            # the WAND path excludes tombstones itself) — the
            # docstring's 10^12-doc cost model holds literally
            pos, neg, terms = plain
            self._validate_keywords(terms)
            window = self._topk(pos, neg, window_size).collect()
        else:
            first = self._live(self._query_match_scores(query))
            window = (
                first.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(window_size)
                .collect()
            )
        if not window:
            return self._project(
                self.spark.createDataFrame([], "doc_id long, score double"),
                return_documents,
            )
        ids = [int(r["doc_id"]) for r in window]
        second = self._query_match_scores(rescore_query).filter(
            F.col("doc_id").isin(ids)
        )
        base = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in window],
            "doc_id long, first_score double",
        )
        combined = (
            base.join(
                second.withColumnRenamed("score", "rescore_score"),
                "doc_id",
                "left",
            )
            .withColumn(
                "score",
                F.lit(float(query_weight)) * F.col("first_score")
                + F.lit(float(rescore_weight))
                * F.coalesce(F.col("rescore_score"), F.lit(0.0)),
            )
            .select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(num_docs)
        )
        return self._project(combined, return_documents)

    def suggest(self, prefix: str, num_terms: int = 10) -> DataFrame:
        """Prefix autocomplete from the vocabulary — the classic
        term-suggester shape: the ``num_terms`` most frequent
        vocabulary terms starting with ``prefix`` (case-lowered, the
        T4 query-time contract), ordered df DESC / term ASC, as
        (term, df). One pruned vocab scan + TakeOrderedAndProject —
        the vocab table is term-sorted parquet, so the startswith
        prunes row groups by min/max stats."""
        if not isinstance(prefix, str) or not prefix.strip():
            raise ValueError("prefix must be a non-empty string")
        self._validate_num(num_terms, "num_terms")
        # strip BEFORE filtering: validation accepts a padded prefix,
        # so the filter must not silently match nothing on the pad
        prefix = prefix.strip()
        return (
            self.vocab.filter(F.col("term").startswith(prefix.lower()))
            .select("term", "df")
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(num_terms)
        )

    def search_documents_by_phrase(
        self, phrase: Sequence[str], num_docs: int, return_documents: bool = True
    ) -> DataFrame:
        """Exact consecutive-phrase BM25 top-k (the phrase scored as
        ONE pseudo-term). Returns (doc_id, tf, score[, text...])."""
        from top2vec_spark.operators.positional import phrase_topk

        self._validate_list_arg(phrase, "phrase", "strings")
        self._validate_num_docs(num_docs)
        self._validate_keywords([t.lower() for t in phrase])
        result = phrase_topk(
            self._positional_tokens(phrase),
            self.doc_stats,
            self.globals,
            phrase,
            num_docs + self._n_deleted(),
            vocab=self.vocab,
        )
        result = self._exclude_tombstones(
            result, num_docs, [F.col("score").desc(), F.col("doc_id").asc()]
        )
        return self._project(result, return_documents)

    def search_documents_by_keywords_all(
        self,
        keywords: Sequence[str],
        num_docs: int,
        return_documents: bool = True,
    ) -> DataFrame:
        """Conjunctive (AND) variant of search_documents_by_keywords:
        only documents containing ALL keywords are ranked."""
        from top2vec_spark.operators.positional import bool_and_topk

        self._validate_list_arg(keywords, "keywords", "strings")
        self._validate_num_docs(num_docs)
        self._validate_keywords([k.lower() for k in keywords])
        result = bool_and_topk(
            self.spark,
            self._positional_tokens(keywords),
            self.doc_stats,
            self.globals,
            self.vocab,
            keywords,
            num_docs + self._n_deleted(),
        )
        result = self._exclude_tombstones(
            result, num_docs, [F.col("score").desc(), F.col("doc_id").asc()]
        )
        return self._project(result, return_documents)

    def search_documents_by_proximity(
        self,
        keywords: Sequence[str],
        num_docs: int,
        return_documents: bool = True,
    ) -> DataFrame:
        """Documents containing ALL keywords, ranked by how tightly
        they co-occur (minimal cover span ASC, doc_id ASC)."""
        from top2vec_spark.operators.positional import min_cover_span

        self._validate_list_arg(keywords, "keywords", "strings")
        self._validate_num_docs(num_docs)
        self._validate_keywords([k.lower() for k in keywords])
        order = [F.col("span").asc(), F.col("doc_id").asc()]
        result = self._exclude_tombstones(
            min_cover_span(self._positional_tokens(keywords), keywords)
            .orderBy(*order),
            num_docs,
            order,
        )
        return self._project(result, return_documents, order=order)

    def get_search_snippets(
        self, keywords: Sequence[str], width: int = 8
    ) -> DataFrame:
        """Best-window snippet per document matching >= 1 keyword:
        (doc_id, start, hits, snippet) — the highlighting primitive."""
        from top2vec_spark.operators.positional import best_snippet

        self._validate_list_arg(keywords, "keywords", "strings")
        self._validate_keywords([k.lower() for k in keywords])
        # snippets slice the FULL token stream (non-query words in the
        # window), so the source stays the raw tokens table; only the
        # tombstone exclusion applies
        return self._exclude_tombstones(
            best_snippet(self.tokens, keywords, width=width),
            None,
            [F.col("doc_id").asc()],
        )

    def highlights(self, query: str, width: int = 8) -> DataFrame:
        """Best-window highlight per matching document for a
        query-language query — :meth:`get_search_snippets` driven by
        the query's own concrete scoring words (positive plain terms
        and phrase words; wildcard/fuzzy atoms expand at execution so
        their surface forms can't seed a highlight window, and
        negated terms shouldn't be highlighted — both skipped).
        Returns (doc_id, start, hits, snippet)."""
        from top2vec_spark.functions.querylang import (
            has_wildcard,
            parse_query,
        )

        words: list[str] = []
        for a in parse_query(query):
            if a.field is None and a.sign > 0 and a.fuzz is None:
                words.extend(w for w in a.terms if not has_wildcard(w))
        words = list(dict.fromkeys(words))
        if not words:
            raise ValueError(
                "query has no concrete positive terms to highlight"
            )
        return self.get_search_snippets(words, width=width)

    def search_documents_by_documents(
        self,
        doc_ids: Sequence[int],
        num_docs: int,
        doc_ids_neg: Sequence[int] = (),
        return_documents: bool = True,
    ) -> DataFrame:
        """Reference top2vec.py:3081-3180: similar documents. Query =
        the terms of the positive docs (bag-of-words), minus terms of
        negative docs; over-fetch num_docs + len(query docs), exclude
        the query docs themselves, re-limit (exact arithmetic of
        top2vec.py:3167-3177)."""
        self._validate_list_arg(doc_ids, "doc_ids", "string or int")
        self._validate_list_arg(doc_ids_neg, "doc_ids_neg", "string or int")
        self._validate_num_docs(num_docs)
        all_ids = list(doc_ids) + list(doc_ids_neg)
        self._validate_doc_ids(all_ids)
        pos_terms = self._doc_terms(doc_ids)
        neg_terms = [t for t in self._doc_terms(doc_ids_neg) if t not in set(pos_terms)]
        k_overfetch = num_docs + len(all_ids)
        result = self._topk(
            pos_terms, neg_terms, k_overfetch, exclude_doc_ids=all_ids
        ).limit(num_docs)
        return self._project(result, return_documents)

    def more_like_this(
        self,
        doc_id,
        num_docs: int,
        max_terms: int = 25,
        return_documents: bool = True,
    ) -> DataFrame:
        """Lucene MoreLikeThis: rank the source document's terms by
        tf x idf, keep the top ``max_terms`` (MLT maxQueryTerms
        default 25), run them as a bag-of-words OR query, and exclude
        the source document itself (over-fetch + exclude + re-limit,
        the P4/P5 arithmetic). Differs from
        :meth:`search_documents_by_documents`, which uses ALL the
        source doc's terms — MLT's cap is what keeps the query cheap
        when the source document is a 10^5-token page."""
        from top2vec_spark.operators.bm25 import mlt_top_terms

        self._validate_num_docs(num_docs)
        self._validate_doc_ids([doc_id])
        terms = mlt_top_terms(
            self.tokens, self.vocab, self.globals, doc_id, max_terms
        )
        result = self._topk(
            terms, [], num_docs + 1, exclude_doc_ids=[doc_id]
        ).limit(num_docs)
        return self._project(result, return_documents)

    def count_matches(self, query: str) -> int:
        """Total-hits count for a query-language string: the size of
        the FULL match set :meth:`search` ranks (every scoring,
        filter, and must rule applied; tombstones excluded) — the
        Lucene TotalHitCountCollector / ES track_total_hits shape."""
        scored = self._live(self._query_match_scores(query))
        return scored.count()

    def search_words_by_keywords(
        self,
        keywords: Sequence[str],
        num_words: int,
        keywords_neg: Sequence[str] = (),
    ) -> DataFrame:
        """``similar_words`` (reference top2vec.py:2947-3013)
        re-expressed lexically: rank vocabulary terms by BM25-weighted
        co-occurrence with the query terms — for each candidate term
        u, score(u) = sum over top documents d of the query of
        bm25(d, u). Over-fetch num_words + len(query terms), drop the
        query terms, take num_words (top2vec.py:3000-3011)."""
        pos = [t.lower() for t in keywords]
        neg = [t.lower() for t in keywords_neg]
        self._validate_num(num_words, "num_words")
        self._validate_keywords(pos + neg)
        k_terms = num_words + len(pos) + len(neg)
        # top documents for the query (fixed fan-out keeps this sublinear)
        top_docs = self._topk(pos, neg, max(50, k_terms))
        # tokenize ONLY the fetched top docs (the lazy `tokens`
        # relation would re-run the tokenizer UDF over the whole
        # corpus per query): semi-join the doc table first so the
        # expensive UDF sees <= max(50, k) rows (phrases stay rankable
        # as words)
        top_tokens = self._tokenize(
            self.docs.join(
                F.broadcast(top_docs.select("doc_id")), "doc_id", "left_semi"
            )
        )
        cooc = (
            top_tokens.join(
                F.broadcast(top_docs.select("doc_id", F.col("score").alias("dscore"))),
                "doc_id",
            )
            .groupBy("term")
            .agg(F.sum("dscore").alias("score"))
            .filter(~F.col("term").isin(pos + neg))
            .orderBy(F.col("score").desc(), F.col("term").asc())
            .limit(num_words)
        )
        return cooc

    similar_words = search_words_by_keywords

    def chunk_documents(
        self,
        chunk_length: int = 100,
        max_num_chunks: int | None = None,
        chunk_overlap_ratio: float = 0.0,
        chunker=None,
        sentencizer=None,
    ) -> DataFrame:
        """T5/H3/H4 (reference get_chunks + document_chunker +
        sentencizer hooks, top2vec.py:134-167, 365-415, 550-558):
        chunk every document. Default is the pure-column sequential
        chunker over tokens; a ``chunker`` callable (str -> list[str])
        switches to the user chunker seam; a ``sentencizer`` callable
        (str -> list[str]) to the pre-tokenize sentence seam (output
        (doc_id, sent_id, sentence)). Mutually exclusive, like the
        reference ('Only one of document_chunker or sentincizer
        should be used', top2vec.py:371)."""
        from top2vec_spark.operators.chunks import (
            custom_chunks,
            sentencize,
            sequential_chunks,
        )

        if chunker is not None and sentencizer is not None:
            raise ValueError(
                "Only one of document_chunker or sentencizer should be used."
            )
        if sentencizer is not None:
            if not callable(sentencizer):
                # reference message parity (top2vec.py:557-558)
                raise ValueError(
                    f"{sentencizer} is invalid. Document sentencizer must be callable."
                )
            return sentencize(self.docs, sentencizer)
        if chunker is not None:
            if not callable(chunker):
                # reference message parity (top2vec.py:553)
                raise ValueError(f"{chunker} is an invalid document chunker.")
            return custom_chunks(self.docs, chunker)
        arr = self.tokens.groupBy("doc_id").agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "term"))
            ).alias("pt")
        ).select(
            "doc_id", F.transform("pt", lambda x: x["term"]).alias("tokens")
        )
        return sequential_chunks(
            arr,
            chunk_length=chunk_length,
            max_num_chunks=max_num_chunks,
            chunk_overlap_ratio=chunk_overlap_ratio,
        )

    def get_documents_by_ids(self, doc_ids: Sequence[int]) -> DataFrame:
        """J1 (reference doc_id2index probe + array index,
        top2vec.py:1251-1258): fetch documents by id."""
        self._validate_doc_ids(doc_ids)
        return self.docs.filter(F.col("doc_id").isin(list(doc_ids)))

    # -- topic layer (SURVEY.md §7.6; semantics-changing substitute for
    # UMAP+HDBSCAN is documented in operators/topics.py) -----------------
    def compute_topics(self, embeddings: DataFrame, n_topics: int | None = None):
        """Assign docs to topics via nearest-centroid over an
        embeddings table (vec_id == doc_id), centroids from the label
        column. Stores doc_topic, topic words (c-TF-IDF), per-topic
        centroids keyed by the FINAL (size-renumbered) topic ids, and
        the full c-TF-IDF relation for keyword->topic search.

        LABEL-FREE default: when the table has no ``label`` column,
        cluster labels are derived from IVF spherical k-means cells
        (operators/similarity.ivf_build) with ``n_topics`` cells
        (heuristic default min(64, max(2, n/50)) when unset) — a fast
        fixed-k alternative, so ``compute_topics(embeddings)`` works
        end-to-end on a bare (vec_id, embedding) table. For the
        reference's actual density-discovery chain (PCA reduction +
        true distributed HDBSCAN, top2vec.py:1541-1567) use
        :meth:`discover_topics`."""
        from top2vec_spark.operators.similarity import (
            assign_nearest,
            label_centroids,
        )
        from top2vec_spark.operators import topics as T

        if "label" not in embeddings.columns:
            from top2vec_spark.operators.similarity import ivf_build

            if n_topics is None:
                n = embeddings.count()
                n_topics = min(64, max(2, n // 50))
            assigned, _ = ivf_build(embeddings, n_cells=int(n_topics))
            embeddings = assigned.withColumn(
                "label", F.col("cell").cast("int")
            ).drop("cell")

        self._topic_embeddings = embeddings
        self._doc_vectors = embeddings  # doubles as the by-vector corpus
        # P2 (reference top2vec.py:1046-1062): cluster label -1 is
        # HDBSCAN noise — noise docs contribute to NO centroid, but
        # every doc (noise included) still gets assigned to its
        # nearest topic, exactly like the reference's doc_top.
        cents = label_centroids(embeddings.filter(F.col("label") != -1))
        dt = assign_nearest(embeddings, cents).select(
            F.col("vec_id").alias("doc_id"),
            F.col("assigned_label").alias("topic_id"),
            "score",
        )
        self.doc_topic = T.renumber_topics_by_size(dt).cache()
        self.topic_centroids = label_centroids(
            embeddings.join(
                self.doc_topic.select(F.col("doc_id").alias("vec_id"), "topic_id"),
                "vec_id",
            ).select("vec_id", "embedding", F.col("topic_id").alias("label"))
        ).cache()
        self._tf = (
            self.tokens.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .cache()
        )
        self._ctfidf = T.ctfidf_scores(self._tf, self.doc_topic).cache()
        self.topic_words = T.topic_words_ctfidf(self._tf, self.doc_topic).cache()
        self._invalidate_topic_caches()
        # a reduced mirror from a PREVIOUS topic generation maps old
        # doc_ids to old pre-renumber topic ids — never serve it
        self._invalidate_reduced_mirror()
        return self.doc_topic

    def discover_topics(
        self,
        embeddings: DataFrame | None = None,
        umap_args: dict | None = None,
        hdbscan_args: dict | None = None,
        topic_merge_delta: float = 0.1,
        reduction: str = "pca",
    ) -> DataFrame:
        """Density-based topic discovery — the reference's
        ``compute_topics`` chain (top2vec.py:1480-1590) end-to-end:

        1. dimensionality reduction of the document vectors
           (reference: UMAP to ``n_components`` dims,
           top2vec.py:1541-1551). ``reduction`` picks the reducer:

           - ``'umap'`` — distributed UMAP (operators/umap.py):
             kNN -> umap-exact smooth-kNN fuzzy graph -> fuzzy-union
             symmetrization -> cross-entropy layout (synchronous
             expectation of umap's edge-sampled SGD — documented
             re-expression delta in the module docstring).  Honors
             ``n_neighbors`` / ``n_components`` / ``metric`` from
             ``umap_args`` plus engine extensions ``n_epochs``,
             ``seed``, ``min_dist``, ``spread``, ``knn`` (prebuilt
             edge table for the bucketed scale path) and
             ``optimize`` ('auto' | 'driver' | 'distributed').
           - ``'pca'`` (default) — one-pass distributed PCA
             (operators/pca.py), the cheaper deterministic reducer;
             only ``n_components`` is honored.
        2. HDBSCAN over the REDUCED vectors (top2vec.py:1556-1566) —
           the true distributed algorithm (operators/hdbscan.py: kNN
           mutual-reachability -> Boruvka MST -> EOM), accepting the
           reference's ``hdbscan_args`` keys. ``metric`` must be
           ``'euclidean'`` and ``cluster_selection_method`` ``'eom'``
           (the reference defaults; others unimplemented).
           Engine extensions: ``min_samples``, ``k`` (kNN width),
           ``knn`` (prebuilt edge table, e.g. knn_graph_ivf output,
           to pick the bucketed scale path).
        3. topic vectors from the ORIGINAL-dimension vectors per
           cluster, noise (-1) excluded (top2vec.py:1056-1062), then
           duplicate-topic merge at cosine distance
           ``topic_merge_delta`` (top2vec.py:1573-1576) and
           nearest-topic assignment of every document — all via
           :meth:`compute_topics` / :meth:`merge_duplicate_topics`.

        Returns the final (doc_id, topic_id, score) table."""
        from top2vec_spark.operators.hdbscan import hdbscan_labels
        from top2vec_spark.operators.pca import fit_pca, transform_pca

        if embeddings is None:
            embeddings = getattr(self, "_doc_vectors", None)
        if embeddings is None:
            raise ValueError(
                "discover_topics: no document vectors — pass an "
                "embeddings table or call set_document_vectors / "
                "embed_documents first"
            )
        if umap_args is None:
            # reference defaults, top2vec.py:1541-1544
            umap_args = {"n_neighbors": 15, "n_components": 5, "metric": "cosine"}
        if hdbscan_args is None:
            # reference defaults, top2vec.py:1556-1559
            hdbscan_args = {
                "min_cluster_size": 15,
                "metric": "euclidean",
                "cluster_selection_method": "eom",
            }
        metric = hdbscan_args.get("metric", "euclidean")
        if metric != "euclidean":
            raise ValueError(
                f"discover_topics: hdbscan metric {metric!r} not "
                "implemented (only 'euclidean', the reference default)"
            )
        method = hdbscan_args.get("cluster_selection_method", "eom")
        if method != "eom":
            raise ValueError(
                f"discover_topics: cluster_selection_method {method!r} "
                "not implemented (only 'eom', the reference default)"
            )
        if reduction not in ("pca", "umap"):
            raise ValueError(
                f"discover_topics: reduction {reduction!r} not "
                "implemented ('pca' | 'umap')"
            )
        emb = embeddings.select("vec_id", "embedding")
        n_components = int(umap_args.get("n_components", 5))
        if reduction == "umap":
            from top2vec_spark.operators.umap import umap_reduce

            self._reduction_model = None  # UMAP has no projection matrix
            reduced = umap_reduce(
                emb,
                n_components=n_components,
                n_neighbors=int(umap_args.get("n_neighbors", 15)),
                metric=umap_args.get("metric", "cosine"),
                min_dist=float(umap_args.get("min_dist", 0.1)),
                spread=float(umap_args.get("spread", 1.0)),
                n_epochs=umap_args.get("n_epochs"),
                seed=int(umap_args.get("seed", 42)),
                knn=umap_args.get("knn"),
                optimize=umap_args.get("optimize", "auto"),
            ).persist()
        else:
            self._reduction_model = fit_pca(emb, n_components)
            # the reduced table is consumed twice inside hdbscan_labels
            # (kNN build + point-id collect) — persist the mapInPandas
            # output so the projection kernel runs once
            reduced = transform_pca(emb, self._reduction_model).persist()
        try:
            labels = hdbscan_labels(
                reduced,
                min_cluster_size=int(hdbscan_args.get("min_cluster_size", 15)),
                min_samples=hdbscan_args.get("min_samples"),
                k=hdbscan_args.get("k"),
                knn=hdbscan_args.get("knn"),
            )
            n_clusters = (
                labels.filter(F.col("label") != -1)
                .select("label")
                .distinct()
                .count()
            )
            if n_clusters == 0:
                raise ValueError(
                    "discover_topics: HDBSCAN found no dense clusters "
                    "(all points noise) — lower min_cluster_size or "
                    "provide more documents"
                )
            self._cluster_labels = labels
            labeled = emb.join(labels, "vec_id")
            self.compute_topics(labeled)
        finally:
            reduced.unpersist()
        # reference dbscan eps=topic_merge_delta on cosine DISTANCE
        # (top2vec.py:1064-1070) == merge at cosine similarity
        # > 1 - topic_merge_delta; both sides chain transitively
        if topic_merge_delta > 0 and n_clusters > 1:
            self.merge_duplicate_topics(threshold=1.0 - topic_merge_delta)
        return self.doc_topic

    def get_topic_sizes(self, reduced: bool = False) -> DataFrame:
        from top2vec_spark.operators import topics as T

        return T.topic_sizes(self._dt(reduced))

    def get_topics(
        self, num_topics: int | None = None, reduced: bool = False
    ) -> DataFrame:
        self._require_topics(reduced)
        out = self.topic_words_reduced if reduced else self.topic_words
        if num_topics is not None:
            # reference validates the bound (top2vec.py:2231-2240)
            self._validate_num_topics(num_topics, reduced)
            out = out.filter(F.col("topic_id") < num_topics)
        return out

    def get_num_topics(self, reduced: bool = False) -> int:
        return self._dt(reduced).select("topic_id").distinct().count()

    def get_document_tokens(self) -> DataFrame:
        """Reference get_document_tokens (top2vec.py:1694-1706):
        the tokenized corpus, one row per document with its ordered
        token list. Re-expressed from the long-format tokens table
        (array_sort over (pos, term) structs — JVM-side, no window);
        documents whose every token was filtered out keep an empty
        array, like the reference's empty list."""
        arr = self.tokens.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ).alias("tokens")
        )
        return (
            self.docs.select("doc_id")
            .join(arr, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(
                    "tokens", F.array().cast("array<string>")
                ).alias("tokens"),
            )
        )

    def export_training_data(
        self,
        path: str,
        seq_len: int = 2048,
        weights: dict[str, float] | None = None,
        seed: int = 17,
        sep_token: str | None = "<eos>",
        shards: int | None = None,
    ) -> dict[str, dict]:
        """One-call training-data export over the engine's corpus:
        deterministic train/val/test split (operators/sampling.py —
        stable hash of doc_id), concat-and-chunk sequence packing PER
        SPLIT (operators/packing.py; documents never leak across
        splits because packing runs on each split's token subset),
        range-sharded parquet under ``path/<split>/`` (shard files are
        contiguous training-stream blocks). The trailing partial
        sequence is dropped for 'train' only (standard practice) and
        kept for every other split (never silently discard eval
        tokens). Run on a CLEANED engine (construct over clean_corpus
        output) when hygiene filtering is wanted first.

        Returns a manifest: split -> {path, n_docs, n_sequences}.
        Everything is deterministic — same corpus, same seed, same
        bytes."""
        from top2vec_spark.operators.packing import (
            pack_sequences,
            packed_sequence_arrays,
            write_packed_sequences,
        )
        from top2vec_spark.operators.sampling import split_corpus

        assignment = split_corpus(
            self.docs.select("doc_id"), weights=weights, seed=seed
        )
        names = [r["split"] for r in assignment.select("split").distinct().collect()]
        manifest: dict[str, dict] = {}
        for name in sorted(names):
            # no broadcast hint: 'train' membership is ~the whole
            # corpus — let AQE pick broadcast for the small splits
            # and a hash join for the big one
            member = assignment.filter(F.col("split") == name).select("doc_id")
            toks = self.tokens.join(member, "doc_id")
            packed = pack_sequences(
                toks,
                seq_len=seq_len,
                sep_token=sep_token,
                drop_last=(name == "train"),
            )
            seqs = packed_sequence_arrays(packed)
            out = f"{path.rstrip('/')}/{name}"
            write_packed_sequences(seqs, out, shards=shards)
            written = self.spark.read.parquet(out)
            manifest[name] = {
                "path": out,
                "n_docs": member.count(),
                "n_sequences": written.count(),
            }
        return manifest

    def hashed_document_vectors(
        self, dim: int = 256, use_idf: bool = False
    ) -> DataFrame:
        """Turnkey model-free document embeddings via the feature-
        hashing trick (operators/hashing.py): L2-normalized hashed
        term-frequency vectors from the engine's own tokens + vocab,
        entirely JVM-side. Registered as the document-vector table so
        search_documents_by_vector / embedding near-dup work, and the
        returned (vec_id, embedding) frame plugs straight into
        compute_topics — the built-in substitute for the reference's
        downloaded encoders (top2vec.py:1313-1347, out of scope per
        the north rule)."""
        from top2vec_spark.operators.hashing import hashed_doc_vectors

        n_docs = self.globals.n_docs if use_idf else None
        out = hashed_doc_vectors(
            self.tokens, self.vocab, dim=dim, use_idf=use_idf,
            n_docs=n_docs,
        )
        self._doc_vectors = out
        return out

    def train_doc2vec(
        self,
        speed: str = "fast-learn",
        vector_size: int = 300,
        seed: int = 1,
        **overrides,
    ):
        """L1 — train the reference's joint document/word embedding
        (top2vec.py:560-622, gensim Doc2Vec dm=0 dbow_words=1) with
        the engine's own distributed PV-DBOW trainer
        (operators/doc2vec.py; synchronous-expectation re-expression
        of gensim's async SGD — delta documented there). The speed
        presets map exactly as the reference's (top2vec.py:563-580):
        fast-learn hs=0/negative=5/epochs=40, learn hs=1/negative=0/
        epochs=40, deep-learn hs=1/negative=0/epochs=400, test-learn
        hs=0/negative=5/epochs=1; window=15, sample=1e-5, vocabulary =
        the engine's min_count vocab (top2vec.py:589-598). Trained
        vectors register like the reference's normed vectors
        (top2vec.py:620-622): doc vectors become the vector-search /
        compute_topics corpus, word vectors back similar_words and
        word-vector search. ``overrides`` pass through to the trainer
        (window/sample/alpha/epochs/... — test-scale knobs)."""
        from top2vec_spark.operators.doc2vec import train_doc2vec

        presets = {
            "fast-learn": dict(hs=False, negative=5, epochs=40),
            "learn": dict(hs=True, negative=0, epochs=40),
            "deep-learn": dict(hs=True, negative=0, epochs=400),
            "test-learn": dict(hs=False, negative=5, epochs=1),
        }
        if speed not in presets:
            # reference wording, top2vec.py:579-580
            raise ValueError(
                "speed parameter needs to be one of: fast-learn, "
                "learn or deep-learn"
            )
        args = dict(
            dim=vector_size, window=15, sample=1e-5,
            dbow_words=1, seed=seed, **presets[speed],
        )
        args.update(overrides)
        model = train_doc2vec(self.tokens, self.vocab, **args)
        self._doc_vectors = model.doc_vectors.select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        self._word_vectors = model.word_vectors(self.spark).select(
            "term", F.col("embedding").cast("array<float>").alias("embedding")
        )
        self._doc2vec_model = model
        return model

    def infer_document_vectors(
        self, docs: DataFrame, *, epochs: int | None = None,
        alpha: float | None = None,
    ) -> DataFrame:
        """Infer doc2vec vectors for NEW documents (doc_id, text)
        against the model trained by :meth:`train_doc2vec` — the
        reference's per-doc driver loop over gensim ``infer_vector``
        (add_documents top2vec.py:2026, free-text queries 2489/2566)
        as ONE distributed map with frozen broadcast matrices
        (operators/doc2vec.infer_doc_vectors). Tokenizes with the
        engine's own tokenizer settings so train/infer vocabularies
        agree. Returns (vec_id, embedding) L2-normalized — feed to
        search_documents_by_vector or set_document_vectors."""
        if getattr(self, "_doc2vec_model", None) is None:
            raise ValueError("no doc2vec model — train_doc2vec first")
        from top2vec_spark.operators.doc2vec import infer_doc_vectors

        return infer_doc_vectors(
            self._doc2vec_model, self._tokenize(docs), epochs=epochs, alpha=alpha
        )

    def export_doc2vec_corpus(
        self, path: str, n_files: int = 64
    ) -> DataFrame:
        """S2: materialize the tokenized corpus in gensim Doc2Vec
        ``corpus_file`` format (reference top2vec.py:604-609 writes
        ``' '.join(tokenizer(doc))`` per line to a temp file and tags
        each document by its line number). Distributed sink: globally
        ordered text part-files at ``{path}/corpus`` + a line-number ->
        doc_id manifest at ``{path}/manifest`` (returned). This is
        the reference's corpus hand-off boundary for EXTERNAL gensim
        training, re-expressed as a Spark sink; in-engine training is
        :meth:`train_doc2vec` (operators/doc2vec.py)."""
        from top2vec_spark.sources.doc2vec_corpus import (
            export_doc2vec_corpus,
        )

        return export_doc2vec_corpus(
            self.get_document_tokens(), path, n_files=n_files
        )

    def get_document_token_topic_assignment(
        self, round_digits: int | None = None
    ) -> DataFrame:
        """Reference get_document_token_topic_assignment
        (top2vec.py:1681-1692): token-level topic assignment per
        document. The reference's contextual model scores each token
        against each topic; the lexical re-expression assigns each
        TERM its argmax c-TF-IDF topic (ties to the smaller
        topic_id), then joins that onto the long tokens table —
        one row per (doc_id, pos) token occurrence with (topic_id,
        score); OOV-for-topics terms (no topic contains them) carry
        NULLs. Requires computed topics, mirroring the reference's
        contextual_top2vec_req guard.

        ``round_digits`` (oracle-compare mode): rank AND return the
        c-TF-IDF rounded to that many digits, so 1-ulp JVM-vs-libm log
        noise cannot flip the per-term argmax against an external
        recomputation; default None keeps full precision for users."""
        from pyspark.sql import Window as W

        self._require_topics()
        src = self._ctfidf
        if round_digits is not None:
            src = src.withColumn("ctfidf", F.round("ctfidf", round_digits))
        best = (
            src.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("term").orderBy(
                        F.col("ctfidf").desc(), F.col("topic_id").asc()
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("term", "topic_id", F.col("ctfidf").alias("score"))
        )
        return self.tokens.join(best, "term", "left").select(
            "doc_id", "pos", "term", "topic_id", "score"
        )

    def generate_topic_wordcloud(
        self, topic_num: int, reduced: bool = False,
        round_digits: int | None = None,
    ) -> dict:
        """M5/S6 wordcloud export (reference generate_topic_wordcloud,
        top2vec.py:3188-3236): softmax over the topic's stored top-50
        word scores -> {word: weight}, the exact frequencies dict the
        reference feeds ``WordCloud().generate_from_frequencies``.
        Rendering (matplotlib/wordcloud) is the caller's concern — the
        container has no plotting libs, and a 50-entry dict is
        driver-side by construction (O(topics * 50) total, never
        corpus-scale). Weights are a numerically-stable softmax:
        positive, descending in score, summing to 1.

        ``round_digits`` (oracle-compare mode) rounds the stored
        ctfidf scores BEFORE the softmax so an external recomputation
        of the score chain (e.g. the DuckDB driver oracle) feeds the
        softmax bit-identical inputs."""
        import math as _math

        self._require_topics(reduced)
        self._validate_topic_num(topic_num, reduced)
        words = self.topic_words_reduced if reduced else self.topic_words
        score = F.col("ctfidf")
        if round_digits is not None:
            score = F.round(score, round_digits)
        rows = (
            words.filter(F.col("topic_id") == int(topic_num))
            .select("term", score.alias("ctfidf"))
            .collect()
        )
        if not rows:
            return {}
        mx = max(r["ctfidf"] for r in rows)
        exps = {r["term"]: _math.exp(r["ctfidf"] - mx) for r in rows}
        z = sum(exps.values())
        return {t: v / z for t, v in exps.items()}

    def search_documents_by_topic(
        self,
        topic_num: int,
        num_docs: int,
        return_documents: bool = True,
        reduced: bool = False,
    ) -> DataFrame:
        from top2vec_spark.operators import topics as T

        self._validate_topic_num(topic_num, reduced)
        self._validate_topic_search(topic_num, num_docs, reduced)
        res = T.search_documents_by_topic(self._dt(reduced), topic_num, num_docs)
        return self._project(res.select("doc_id", "score"), return_documents)

    def get_documents_topics(
        self,
        doc_ids: Sequence[int],
        reduced: bool = False,
        num_topics: int = 1,
    ) -> DataFrame:
        """Reference get_documents_topics (top2vec.py:1873-1958): the
        topic(s) of each given doc. num_topics=1 reads the stored
        assignment (J3 equi-join); num_topics>1 scores the docs'
        embeddings against every topic centroid (W4 top-N). Returns
        (doc_id, rank, topic_id, score) ordered doc_id, rank."""
        from top2vec_spark.operators.similarity import assign_topn

        self._validate_doc_ids(doc_ids)
        dt = self._dt(reduced)
        ids = list(doc_ids)
        if num_topics <= 1:
            return (
                dt.filter(F.col("doc_id").isin(ids))
                .select("doc_id", F.lit(1).alias("rank"), "topic_id", "score")
                .orderBy("doc_id")
            )
        if not hasattr(self, "_topic_embeddings"):
            raise ValueError("compute_topics(embeddings) must run first")
        emb = self._topic_embeddings.filter(F.col("vec_id").isin(ids))
        cents = self._centroid_df(reduced)
        return (
            assign_topn(emb, cents, num_topics)
            .select(
                F.col("vec_id").alias("doc_id"),
                "rank",
                F.col("label").alias("topic_id"),
                "score",
            )
            .orderBy("doc_id", "rank")
        )

    def get_documents_topic_distribution(
        self, doc_ids: Sequence[int], reduced: bool = False
    ) -> DataFrame:
        """A6 re-expression (reference contextual per-doc topic
        distribution, top2vec.py:805-856): a probability distribution
        over ALL topics per requested doc. The reference derives it
        from chunk-to-topic assignment proportions of its contextual
        embeddings; without an embedding model we re-express it as the
        doc embedding's positive-clipped, sum-normalized similarity to
        every topic centroid (documented semantics change — same
        shape/invariants: rows per (doc, topic), probabilities >= 0
        summing to 1 per doc)."""
        from pyspark.sql import Window as W

        from top2vec_spark.operators.similarity import assign_topn

        self._validate_doc_ids(doc_ids)
        if not hasattr(self, "_topic_embeddings"):
            raise ValueError("compute_topics(embeddings) must run first")
        n = self.get_num_topics(reduced=reduced)
        emb = self._topic_embeddings.filter(F.col("vec_id").isin(list(doc_ids)))
        scored = assign_topn(emb, self._centroid_df(reduced), n)
        pos = F.greatest(F.col("score"), F.lit(0.0))
        w = W.partitionBy("vec_id")
        return (
            scored.withColumn("_p", pos)
            .withColumn("_z", F.sum("_p").over(w))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.col("label").alias("topic_id"),
                F.when(F.col("_z") > 0, F.col("_p") / F.col("_z"))
                .otherwise(F.lit(1.0) / F.lit(float(n)))
                .alias("probability"),
            )
            .orderBy("doc_id", "topic_id")
        )

    def search_topics(
        self,
        keywords: Sequence[str],
        num_topics: int,
        keywords_neg: Sequence[str] = (),
        reduced: bool = False,
    ) -> DataFrame:
        """Reference search_topics (top2vec.py:3015-3079) re-expressed:
        topics ranked by summed c-TF-IDF of the (lowercased) keywords,
        negatives subtracting. Unknown keywords raise ValueError like
        the reference's _validate_keywords (top2vec.py:1420-1432)."""
        from top2vec_spark.operators import topics as T

        self._require_topics(reduced)
        self._validate_num_topics(num_topics, reduced)
        pos = [k.lower() for k in keywords]
        neg = [k.lower() for k in keywords_neg]
        self._validate_keywords(pos + neg)
        src = self._ctfidf_reduced if reduced else self._ctfidf
        return T.search_topics_scores(src, pos, neg, num_topics)

    def query_topics(
        self, query: str, num_topics: int, reduced: bool = False
    ) -> DataFrame:
        """Reference query_topics (top2vec.py:2497-2571): tokenize the
        free-text query with the T1 contract, drop OOV tokens, rank
        topics like search_topics."""
        from top2vec_spark.operators import topics as T

        if not isinstance(query, str):
            raise ValueError("Query needs to be a string.")
        self._require_topics(reduced)
        self._validate_num_topics(num_topics, reduced)
        toks = reference_tokenize(query)
        known = self._known_terms(toks)
        terms = [t for t in toks if t in known]
        if not terms:
            raise ValueError("no query tokens found in vocabulary")
        src = self._ctfidf_reduced if reduced else self._ctfidf
        return T.search_topics_scores(src, terms, (), num_topics)

    # -- vector entry points (reference top2vec.py:2574-2784) ----------------
    def set_document_vectors(self, embeddings: DataFrame) -> None:
        """Register a (vec_id == doc_id, embedding) table for
        search_documents_by_vector (compute_topics sets it too)."""
        self._doc_vectors = embeddings

    def set_word_vectors(self, word_vectors: DataFrame) -> None:
        """Register a (term, embedding) table for
        search_words_by_vector."""
        self._word_vectors = word_vectors

    # -- ANN indexing (reference top2vec.py:1710-1825, hnswlib) --------------
    def index_document_vectors(
        self, ef_construction: int = 200, M: int = 64, n_shards: int = 8
    ) -> None:
        """Reference index_document_vectors (top2vec.py:1710-1750):
        build the ANN serving index over the registered document
        vectors so vector searches can pass ``use_index=True``. Here
        the index is the distributed sharded HNSW (operators/hnsw.py)
        instead of one in-process hnswlib graph: ``n_shards`` graphs
        built in parallel, the blob table pinned one-task-per-shard
        and persisted so every indexed query runs all shard searches
        in parallel with hot worker graph caches. Unlike hnswlib there
        is no index_id->doc_id indirection (top2vec.py:1739-1745):
        vec_id IS doc_id by construction."""
        from top2vec_spark.operators.hnsw import hnsw_build

        if not hasattr(self, "_doc_vectors"):
            raise ValueError(
                "no document vectors — compute_topics or "
                "set_document_vectors first"
            )
        idx = hnsw_build(
            self._doc_vectors,
            n_shards=n_shards,
            M=M,
            ef_construction=ef_construction,
        )
        idx = idx.repartition(max(n_shards, 1), "shard").persist()
        idx.count()
        old = getattr(self, "_document_index", None)
        if old is not None:
            old.unpersist()
        self._document_index = idx
        self._doc_index_tombstones: frozenset = frozenset()

    def index_word_vectors(
        self, ef_construction: int = 200, M: int = 64, n_shards: int = 4
    ) -> None:
        """Reference index_word_vectors (top2vec.py:1752-1788). Word
        vectors are keyed by term string; HNSW needs int64 ids, so a
        (word_id, term) mapping is materialized alongside the index
        (monotonically_increasing_id — unique without a shuffle; ids
        are index-build-local, never exposed) and joined back after
        the top-k, exactly the reference's index_id2word indirection
        (top2vec.py:1781-1787) made distributed."""
        from top2vec_spark.operators.hnsw import hnsw_build

        if not hasattr(self, "_word_vectors"):
            raise ValueError("no word vectors — set_word_vectors first")
        base = (
            self._word_vectors.select(
                F.monotonically_increasing_id().alias("word_id"),
                "term",
                "embedding",
            )
            .persist()
        )
        base.count()
        idx = hnsw_build(
            base,
            n_shards=n_shards,
            M=M,
            ef_construction=ef_construction,
            id_col="word_id",
        )
        idx = idx.repartition(max(n_shards, 1), "shard").persist()
        idx.count()
        old = getattr(self, "_word_index", None)
        if old is not None:
            old.unpersist()
        oldm = getattr(self, "_word_index_terms", None)
        if oldm is not None:
            oldm.unpersist()
        self._word_index = idx
        self._word_index_terms = base.select("word_id", "term")

    def save_ann_indexes(self, path: str) -> None:
        """Reference model save serializes the hnswlib indexes
        alongside the model (top2vec.py:894-943). Engine state is
        index-as-tables, so the ANN indexes persist the same way: the
        document-index blob table plus its tombstone set, and the
        word-index blob table plus its (word_id, term) mapping, all as
        parquet under ``path``. No-op for an index that was never
        built."""
        from top2vec_spark.operators.hnsw import hnsw_write

        if getattr(self, "_document_index", None) is not None:
            hnsw_write(self._document_index, f"{path}/document_index")
            tomb = sorted(getattr(self, "_doc_index_tombstones", ()))
            self.spark.createDataFrame(
                [(int(t),) for t in tomb], "doc_id long"
            ).write.mode("overwrite").parquet(
                f"{path}/document_index_tombstones"
            )
        if getattr(self, "_word_index", None) is not None:
            hnsw_write(self._word_index, f"{path}/word_index")
            self._word_index_terms.write.mode("overwrite").parquet(
                f"{path}/word_index_terms"
            )

    def load_ann_indexes(self, path: str) -> None:
        """Reference model load rehydrates serialized hnswlib indexes
        (top2vec.py:945-1012). Loads whichever indexes ``path`` holds
        and pins them for serving (one task per shard graph, persisted
        — hnsw_serving), restoring tombstones and the word-id
        mapping."""
        import os

        from top2vec_spark.operators.hnsw import hnsw_serving

        if os.path.isdir(f"{path}/document_index"):
            self._document_index = hnsw_serving(
                self.spark, f"{path}/document_index"
            )
            tpath = f"{path}/document_index_tombstones"
            self._doc_index_tombstones = (
                frozenset(
                    int(r["doc_id"])
                    for r in self.spark.read.parquet(tpath).collect()
                )
                if os.path.isdir(tpath)
                else frozenset()
            )
        if os.path.isdir(f"{path}/word_index"):
            self._word_index = hnsw_serving(self.spark, f"{path}/word_index")
            terms = self.spark.read.parquet(f"{path}/word_index_terms")
            self._word_index_terms = terms.persist()

    def save(self, path: str) -> None:
        """S3 — the reference's FULL-model save (Top2Vec.save,
        top2vec.py:894-943) re-expressed as tables + manifest: where
        the reference joblib-dumps the object after serializing its
        hnswlib indexes to bytes, the engine's state already IS
        tables, so save writes them as parquet under ``path``:

        - ``docs`` (the corpus ``tokens`` derive from)
        - topic layer: ``doc_topic``, ``topic_centroids``,
          ``topic_embeddings`` (+ ``doc_vectors`` only when set to a
          different table)
        - reduced mirror: ``doc_topic_reduced``,
          ``centroids_reduced``; the hierarchy rides in the manifest
        - ``word_vectors`` when set
        - ANN indexes via :meth:`save_ann_indexes` under ``ann/``
        - the lexical WAND index by PATH REFERENCE in the manifest
          (its tables already live at their own ``index_path``)

        With an index, statistics are the index's, so the loaded engine
        scores exactly like the saved one. Derived state (tokens, tf,
        c-TF-IDF, topic words; statistics without an index) recomputes
        on load, not stored twice. Reference parity on callables: the
        reference nulls the
        un-picklable embed functions before dumping and the user
        re-attaches after load (top2vec.py:899-918) — same contract
        here for ``tokenizer`` / ``embedding_model`` /
        ``token_embedding_model`` hooks; a custom tokenizer is
        REQUIRED again at :meth:`load` (recorded in the manifest)
        because every derivation depends on it."""
        import json as _json
        import os

        os.makedirs(path, exist_ok=True)
        mani: dict = {
            "version": 1,
            "min_count": self.min_count,
            "k1": self.cfg.k1,
            "b": self.cfg.b,
            "keep_documents": self.keep_documents,
            "ascii_fast_path": self.ascii_fast_path,
            "ngram_vocab": self.ngram_vocab,
            "phrase_min_count": self._phrase_min_count,
            "phrase_threshold": self._phrase_threshold,
            "requires_tokenizer": self.tokenizer is not None,
            "index_path": self._index and self._index.path,
        }
        self.docs.write.mode("overwrite").parquet(f"{path}/docs")
        if hasattr(self, "doc_topic"):
            self.doc_topic.write.mode("overwrite").parquet(
                f"{path}/doc_topic"
            )
            self.topic_centroids.write.mode("overwrite").parquet(
                f"{path}/topic_centroids"
            )
            self._topic_embeddings.write.mode("overwrite").parquet(
                f"{path}/topic_embeddings"
            )
            mani["has_topics"] = True
        dv = getattr(self, "_doc_vectors", None)
        if dv is not None and dv is not getattr(self, "_topic_embeddings", None):
            dv.write.mode("overwrite").parquet(f"{path}/doc_vectors")
            mani["has_doc_vectors"] = True
        if getattr(self, "_word_vectors", None) is not None:
            self._word_vectors.write.mode("overwrite").parquet(
                f"{path}/word_vectors"
            )
            mani["has_word_vectors"] = True
        if hasattr(self, "doc_topic_reduced"):
            self.doc_topic_reduced.write.mode("overwrite").parquet(
                f"{path}/doc_topic_reduced"
            )
            self.spark.createDataFrame(
                [
                    (int(t), [float(x) for x in v])
                    for t, v in sorted(self._centroids_reduced.items())
                ],
                "topic_id long, centroid array<double>",
            ).write.mode("overwrite").parquet(f"{path}/centroids_reduced")
            mani["hierarchy"] = [
                [int(t) for t in group] for group in self._hierarchy
            ]
            mani["has_reduced"] = True
        self.save_ann_indexes(f"{path}/ann")
        # manifest LAST: its presence marks a complete save
        with open(f"{path}/manifest.json", "w") as f:
            _json.dump(mani, f)

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, tokenizer=None
    ) -> "Top2VecSpark":
        """S4 — the reference's full-model load (Top2Vec.load +
        _load_document_embedder_model, top2vec.py:945-1012): rebuild
        the engine from a :meth:`save` directory. The lexical index
        re-attaches from its recorded ``index_path``, statistics
        included (the saved engine's exactly); stored topic tables
        re-attach; derived c-TF-IDF / topic-words / reduced-words
        recompute deterministically from them; ANN indexes rehydrate
        via :meth:`load_ann_indexes`. User
        callables are NOT in the save (reference contract): pass the
        same ``tokenizer`` the model was built with (enforced via the
        manifest), and re-attach embedding hooks with
        ``set_embedding_model`` / ``set_token_embedding_model``."""
        import json as _json
        import os

        import numpy as np

        with open(f"{path}/manifest.json") as f:
            mani = _json.load(f)
        if mani["requires_tokenizer"] and tokenizer is None:
            raise ValueError(
                "This model was saved with a custom tokenizer; pass "
                "the same tokenizer= to load() — every vocabulary "
                "derivation depends on it."
            )
        if not mani["requires_tokenizer"]:
            tokenizer = None
        docs = spark.read.parquet(f"{path}/docs")
        eng = cls(
            spark,
            docs,
            min_count=mani["min_count"],
            cfg=BM25Config(k1=mani["k1"], b=mani["b"]),
            keep_documents=mani["keep_documents"],
            ascii_fast_path=mani["ascii_fast_path"],
            index_path=mani["index_path"],
            tokenizer=tokenizer,
            ngram_vocab=mani["ngram_vocab"],
            phrase_min_count=mani["phrase_min_count"],
            phrase_threshold=mani["phrase_threshold"],
        )
        if mani["index_path"] and os.path.isdir(mani["index_path"]):
            from top2vec_spark.plans.build import PostingsIndex

            eng._index = PostingsIndex.load(spark, mani["index_path"])
        if mani.get("has_topics"):
            from top2vec_spark.operators import topics as T

            eng.doc_topic = spark.read.parquet(f"{path}/doc_topic").cache()
            eng.topic_centroids = spark.read.parquet(
                f"{path}/topic_centroids"
            ).cache()
            eng._topic_embeddings = spark.read.parquet(
                f"{path}/topic_embeddings"
            )
            eng._doc_vectors = eng._topic_embeddings
            eng._tf = (
                eng.tokens.groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("tf"))
                .cache()
            )
            eng._ctfidf = T.ctfidf_scores(eng._tf, eng.doc_topic).cache()
            eng.topic_words = T.topic_words_ctfidf(
                eng._tf, eng.doc_topic
            ).cache()
        if mani.get("has_doc_vectors"):
            eng._doc_vectors = spark.read.parquet(f"{path}/doc_vectors")
        if mani.get("has_word_vectors"):
            eng._word_vectors = spark.read.parquet(f"{path}/word_vectors")
        if mani.get("has_reduced"):
            from top2vec_spark.operators import topics as T

            eng.doc_topic_reduced = spark.read.parquet(
                f"{path}/doc_topic_reduced"
            ).cache()
            eng.topic_words_reduced = T.topic_words_ctfidf(
                eng._tf, eng.doc_topic_reduced
            ).cache()
            eng._ctfidf_reduced = T.ctfidf_scores(
                eng._tf, eng.doc_topic_reduced
            ).cache()
            eng._hierarchy = [
                [int(t) for t in group] for group in mani["hierarchy"]
            ]
            eng._centroids_reduced = {
                int(r["topic_id"]): np.array(r["centroid"])
                for r in spark.read.parquet(
                    f"{path}/centroids_reduced"
                ).collect()
            }
        if os.path.isdir(f"{path}/ann"):
            eng.load_ann_indexes(f"{path}/ann")
        return eng

    def _check_document_index_status(self) -> None:
        """Message parity: reference _check_document_index_status
        (top2vec.py:1292-1295)."""
        if getattr(self, "_document_index", None) is None:
            raise ImportError(
                "There is no document index.\n\n"
                "Call index_document_vectors method before setting "
                "use_index=True."
            )

    def _check_word_index_status(self) -> None:
        """Message parity: reference _check_word_index_status
        (top2vec.py:1297-1300)."""
        if getattr(self, "_word_index", None) is None:
            raise ImportError(
                "There is no word index.\n\n"
                "Call index_word_vectors method before setting "
                "use_index=True."
            )

    def set_embedding_model(self, embedding_model) -> None:
        """H2 hook — reference set_embedding_model
        (top2vec.py:1827-1843): register a user callable
        ``list[str] -> np.ndarray (n, dim)``. Like the reference, the
        callable is NOT serialized with the model; re-set it after
        load. Message parity with the reference's guard."""
        if not callable(embedding_model):
            raise ValueError("embedding_model must be callable.")
        self.embed = embedding_model

    def embed_documents(self, batch_size: int = 32) -> DataFrame:
        """Distributed re-expression of reference _embed_documents
        (top2vec.py:1022-1048, default embedding_batch_size=32,
        top2vec.py:460): slice each Arrow partition into
        ``batch_size``-doc batches, call the registered callable per
        batch, L2-normalize row-wise like the reference, and register
        the result as the document-vector table (vec_id == doc_id) —
        so search_documents_by_vector / compute_topics work on top.
        The callable executes inside mapInPandas on the executors
        (the documented user-code seam; Arrow moves the text batches,
        the model call itself is whatever the user supplies — e.g. a
        GPU encoder on a real cluster)."""
        import numpy as np
        import pandas as pd

        if not hasattr(self, "embed"):
            raise ValueError(
                "no embedding model — set_embedding_model first"
            )
        embed, bs = self.embed, int(batch_size)

        def batches(pdfs):
            for pdf in pdfs:
                texts = pdf["text"].fillna("").tolist()
                vecs = []
                for i in range(0, len(texts), bs):
                    vecs.append(np.asarray(embed(texts[i : i + bs])))
                if not vecs:
                    continue
                m = np.vstack(vecs).astype(np.float64)
                norms = np.maximum(
                    np.linalg.norm(m, axis=1, keepdims=True), 1e-12
                )
                m = m / norms
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["doc_id"],
                        "embedding": [r.astype(np.float32).tolist() for r in m],
                    }
                )

        out = self.docs.select("doc_id", "text").mapInPandas(
            batches, "vec_id long, embedding array<float>"
        )
        self._doc_vectors = out
        return out

    def embed_query(self, query: str) -> list:
        """Reference _embed_query (top2vec.py:1050-1054): embed ONE
        query string driver-side and L2-normalize — the vector feeds
        search_documents_by_vector / search_words_by_vector."""
        import numpy as np

        if not hasattr(self, "embed"):
            raise ValueError(
                "no embedding model — set_embedding_model first"
            )
        v = np.asarray(self.embed([query])[0], dtype=np.float64)
        return (v / max(float(np.linalg.norm(v)), 1e-12)).tolist()

    def set_token_embedding_model(self, token_embedding_model) -> None:
        """L3 execution seam — the reference fuses HF tokenizer +
        encoder inside contextual_token_embeddings (embedding.py:51-109);
        here the user registers ONE callable
        ``list[str] -> list[(tokens: list[str], vectors: (n_i, dim))]``
        returning, per input text, the model's own token strings and
        the per-token hidden-state matrix. Training/fetching the model
        stays out of scope (BASELINE.json north rule); the *execution*
        is distributed — the callable runs inside mapInPandas on the
        executors. Like set_embedding_model (H2), the callable is NOT
        serialized with the model; re-set it after load."""
        if not callable(token_embedding_model):
            raise ValueError("token_embedding_model must be callable.")
        self.token_embed = token_embedding_model

    def embed_document_tokens(
        self, batch_size: int = 32, materialize: bool = True
    ) -> DataFrame:
        """Distributed re-expression of reference
        contextual_token_embeddings (embedding.py:51-109; DataLoader
        batch_size=32 at top2vec.py:747-751): each Arrow partition is
        sliced into ``batch_size``-doc model calls inside mapInPandas;
        the ragged per-doc (tokens, matrix) outputs are exploded to a
        long ``(doc_id, pos, term, vec)`` table — the pre-joined form
        of the reference's (document_token_embeddings, document_tokens,
        document_labels) ragged triple (embedding.py:95-109;
        ``document_labels`` IS the doc_id column, J4). Registers the
        table so contextual_document_vectors / smoothing build on it.

        The result is persisted (MEMORY_AND_DISK — spills, never OOMs)
        and by default materialized with one eager pass, so the user's
        model executes EXACTLY ONCE per document: the downstream
        window chain references this table on both sides of a join
        (per-doc window starts + the token rows), and without the
        persist each branch would re-run the model — measured 2x
        inference on an unpersisted plan (AQE does not stage-reuse the
        two MapInPandas instances; their expression IDs differ).
        ``materialize=False`` skips the eager pass (lazy persist) for
        callers that will only ever scan the table once. The previous
        registration, if any, is unpersisted."""
        import numpy as np
        import pandas as pd

        if not hasattr(self, "token_embed"):
            raise ValueError(
                "no token embedding model — set_token_embedding_model first"
            )
        model, bs = self.token_embed, int(batch_size)

        def batches(pdfs):
            for pdf in pdfs:
                ids = pdf["doc_id"].tolist()
                texts = pdf["text"].fillna("").tolist()
                col_doc: list = []
                col_pos: list = []
                col_term: list = []
                col_vec: list = []
                for i in range(0, len(texts), bs):
                    out = model(texts[i : i + bs])
                    for j, (toks, mat) in enumerate(out):
                        m = np.atleast_2d(np.asarray(mat, dtype=np.float32))
                        if len(toks) != m.shape[0]:
                            raise ValueError(
                                "token embedding model returned "
                                f"{len(toks)} tokens but {m.shape[0]} vectors"
                            )
                        did = ids[i + j]
                        col_doc.extend([did] * len(toks))
                        col_pos.extend(range(len(toks)))
                        col_term.extend(str(t) for t in toks)
                        col_vec.extend(r.tolist() for r in m)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(col_doc, dtype="int64"),
                        "pos": pd.Series(col_pos, dtype="int32"),
                        "term": pd.Series(col_term, dtype="object"),
                        "vec": pd.Series(col_vec, dtype="object"),
                    }
                )

        from pyspark import StorageLevel

        out = self.docs.select("doc_id", "text").mapInPandas(
            batches, "doc_id long, pos int, term string, vec array<float>"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if materialize:
            out.count()  # single model pass populates the cache
        prev = getattr(self, "_token_vectors", None)
        if prev is not None:
            prev.unpersist()
        self._token_vectors = out
        return out

    def contextual_document_vectors(
        self,
        window_size: int = 50,
        stride: int = 40,
        smoothing_window: int | None = None,
        register: bool = True,
    ) -> DataFrame:
        """Reference contextual chain (top2vec.py:752-760):
        sliding_window_average over the per-token vectors (window 50,
        stride 40, last window right-aligned; embedding.py:112-144)
        gives the chunk vectors that ARE the contextual
        document_vectors, L2-normalized (embedding.py:142). Optional
        adjacent smoothing first (smooth_document_token_embeddings,
        embedding.py:147-171 via c_top2vec_smoothing_window,
        top2vec.py:1604). Returns (doc_id, chunk_id, start, vec).

        Documented delta: the reference keeps the STACKED chunk
        vectors plus a per-chunk doc label; the engine's by-vector
        corpus is one vector per doc_id, so when ``register=True`` the
        per-doc MEAN of its chunk vectors (the A2 aggregation,
        SURVEY §2.4) is L2-normalized and registered as the document
        vector table (vec_id == doc_id) for search/compute_topics."""
        from top2vec_spark.operators.windows import (
            sliding_window_mean,
            smooth_adjacent,
        )

        if not hasattr(self, "_token_vectors"):
            raise ValueError(
                "no token vectors — embed_document_tokens first"
            )
        tok = self._token_vectors.select("doc_id", "pos", "vec")
        if smoothing_window is not None:
            tok = smooth_adjacent(tok, w=int(smoothing_window), normalize=True)
        chunks = sliding_window_mean(
            tok, window=int(window_size), stride=int(stride)
        )
        nrm = F.sqrt(
            F.aggregate(
                F.transform("vec", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        out = chunks.select(
            "doc_id",
            F.col("window_id").alias("chunk_id"),
            "start",
            F.transform("vec", lambda x: x / nrm).alias("vec"),
        )
        if register:
            flat = out.select("doc_id", F.posexplode("vec").alias("dim", "v"))
            means = flat.groupBy("doc_id", "dim").agg(F.avg("v").alias("m"))
            doc_vecs = (
                means.groupBy("doc_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ).alias("pm")
                )
                .select(
                    F.col("doc_id").alias("vec_id"),
                    F.transform("pm", lambda x: x["m"]).alias("raw"),
                )
            )
            dn = F.sqrt(
                F.aggregate(
                    F.transform("raw", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            )
            self._doc_vectors = doc_vecs.select(
                "vec_id",
                F.transform("raw", lambda x: (x / dn).cast("float")).alias(
                    "embedding"
                ),
            )
        return out

    def calculate_documents_topic_distributions(
        self,
        topic_vectors: DataFrame | None = None,
        token_embeddings: DataFrame | None = None,
        reduced: bool = False,
    ) -> DataFrame:
        """Reference calculate_documents_topic_distributions
        (top2vec.py:805-856): assign every contextual TOKEN embedding
        its argmax-inner-product topic (`_calculate_documents_topic`,
        top2vec.py:1081-1146 — raw np.inner, first-max tie-break),
        then per document aggregate (a) the topic DISTRIBUTION
        (fraction of the doc's tokens assigned to each topic,
        reference line 854: topic_counts[i] / doc_num_tokens) and
        (b) the topic RELEVANCE (mean token score per topic,
        reference mean_scores). The reference's driver-side
        tqdm-over-unique-labels loop becomes one broadcast-matmul
        map plus ONE groupBy — no per-document Python.

        ``topic_vectors`` defaults to the computed topic centroids
        (label, centroid); ``token_embeddings`` defaults to the table
        registered by embed_document_tokens (doc_id, pos, vec).

        Documented shape delta: the reference preallocates DENSE
        (num_documents, num_topics) matrices; the engine returns/
        stores the equivalent LONG form — one row per (doc_id,
        topic_id) with at least one assigned token; absent pairs are
        the matrices' zeros. The reference's doc_top_tokens /
        doc_top_token_dists ragged dicts ARE the per-token assignment
        table, stored as ``_token_topic_assignment``; its
        token-level topic_sizes (pd.value_counts of doc_top) is
        ``get_token_topic_sizes()``.

        Returns (doc_id, topic_id, token_count, probability,
        relevance) and registers the getter state."""
        from pyspark.sql import Window as W

        from top2vec_spark.operators.similarity import (
            assign_tokens_nearest,
        )

        if token_embeddings is None:
            if not hasattr(self, "_token_vectors"):
                raise ValueError(
                    "no token vectors — embed_document_tokens first"
                )
            token_embeddings = self._token_vectors
        if topic_vectors is None:
            self._require_topics(reduced)
            topic_vectors = self._centroid_df(reduced)
        assigned = assign_tokens_nearest(token_embeddings, topic_vectors)
        w = W.partitionBy("doc_id")
        dist = (
            assigned.groupBy("doc_id", "topic_id")
            .agg(
                F.count(F.lit(1)).alias("token_count"),
                F.avg("score").alias("relevance"),
            )
            .withColumn(
                "probability",
                F.col("token_count") / F.sum("token_count").over(w),
            )
            .select(
                "doc_id", "topic_id", "token_count", "probability",
                "relevance",
            )
        )
        self._token_topic_assignment = assigned
        self._doc_topic_distribution = dist.select(
            "doc_id", "topic_id", "probability"
        )
        self._doc_topic_scores = dist.select(
            "doc_id", "topic_id", "relevance"
        )
        return dist

    def get_document_topic_distribution(self) -> DataFrame:
        """Reference get_document_topic_distribution
        (top2vec.py:1633-1646): the per-document topic probability
        distribution computed by calculate_documents_topic_distributions
        — long form (doc_id, topic_id, probability); absent pairs are
        the reference matrix's zeros."""
        if not hasattr(self, "_doc_topic_distribution"):
            raise ValueError(
                "no document topic distribution — run "
                "calculate_documents_topic_distributions first"
            )
        return self._doc_topic_distribution

    def get_document_topic_relevance(self) -> DataFrame:
        """Reference get_document_topic_relevance
        (top2vec.py:1648-1661): per-document mean token-topic score —
        long form (doc_id, topic_id, relevance); absent pairs are the
        reference matrix's zeros."""
        if not hasattr(self, "_doc_topic_scores"):
            raise ValueError(
                "no document topic relevance — run "
                "calculate_documents_topic_distributions first"
            )
        return self._doc_topic_scores

    def get_token_topic_sizes(self) -> DataFrame:
        """The reference's token-level topic_sizes
        (pd.Series(doc_top).value_counts(), top2vec.py:813): how many
        TOKENS are assigned to each topic, largest first."""
        if not hasattr(self, "_token_topic_assignment"):
            raise ValueError(
                "no token topic assignment — run "
                "calculate_documents_topic_distributions first"
            )
        return (
            self._token_topic_assignment.groupBy("topic_id")
            .agg(F.count(F.lit(1)).alias("topic_size"))
            .orderBy(F.desc("topic_size"), "topic_id")
        )

    def update_embedding_model_path(self, embedding_model_path: str) -> None:
        """Reference update_embedding_model_path (top2vec.py:1846-1861):
        record a local path the embedding model should be loaded from
        instead of downloaded. The engine never downloads (S5 is out
        of scope — BASELINE.json north rule); the path is handed to
        the user's set_embedding_model / set_token_embedding_model
        callable, which is responsible for loading it (on a real
        cluster, ship the files via --py-files/--archives)."""
        self.embedding_model_path = embedding_model_path

    def change_to_download_embedding_model(self) -> None:
        """Reference change_to_download_embedding_model
        (top2vec.py:1863-1870): clear a previously recorded model
        path so the user callable falls back to its own default
        loading behavior."""
        self.embedding_model_path = None

    def get_label_vocabulary(
        self,
        tokens: DataFrame | None = None,
        min_count: int = 50,
        ngram_vocab: bool = False,
        ngram_vocab_args: dict | None = None,
    ) -> DataFrame:
        """Reference get_label_vocabulary (top2vec.py:859-896): the
        contextual-path vocabulary — CountVectorizer corpus counts
        filtered by STRICT ``count > min_count`` (reference line 868:
        np.where(word_counts > min_count)), with the reference's exact
        all-words-ignored ValueError; when ``ngram_vocab`` is set the
        vocabulary is REPLACED by the mined phrases (reference lines
        878-894 — find_phrases output, not a union). ``tokens``
        defaults to the engine's long token table; a caller may pass
        any (doc_id, term) frame."""
        from top2vec_spark.operators.corpus_stats import build_vocab
        from top2vec_spark.operators.phrases import find_phrases

        src = tokens if tokens is not None else self.tokens
        if ngram_vocab:
            args = dict(ngram_vocab_args or {})
            return find_phrases(
                src,
                min_count=int(args.get("min_count", 5)),
                threshold=float(args.get("threshold", 10.0)),
            ).select(F.col("phrase").alias("term"))
        out = build_vocab(src, min_count=int(min_count)).select("term")
        if not out.head(1):
            raise ValueError(
                f"A min_count of {min_count} results in "
                f"all words being ignored, choose a lower value."
            )
        return out

    def vocab_word_vectors(
        self, batch_size: int = 32, register: bool = True
    ) -> DataFrame:
        """L4 execution seam — reference average_embeddings(self.vocab)
        (embedding.py:9-48, called at top2vec.py:738-740): embed each
        VOCAB WORD with the registered token model, mean over its
        token vectors, L2-normalize, and register as the word-vector
        table for search_words_by_vector. Runs distributed over the
        vocab table (mapInPandas, ``batch_size``-word model calls).

        Documented delta (SURVEY Appendix A): the reference means
        last_hidden_state over ALL model_max_length positions
        INCLUDING padding (embedding.py:43); the engine means over the
        word's real tokens only."""
        import numpy as np
        import pandas as pd

        if not hasattr(self, "token_embed"):
            raise ValueError(
                "no token embedding model — set_token_embedding_model first"
            )
        model, bs = self.token_embed, int(batch_size)

        def batches(pdfs):
            for pdf in pdfs:
                words = pdf["term"].tolist()
                col_term: list = []
                col_vec: list = []
                for i in range(0, len(words), bs):
                    out = model(words[i : i + bs])
                    for j, (_toks, mat) in enumerate(out):
                        m = np.atleast_2d(np.asarray(mat, dtype=np.float64))
                        v = m.mean(axis=0)
                        v = v / max(float(np.linalg.norm(v)), 1e-12)
                        col_term.append(words[i + j])
                        col_vec.append(v.astype(np.float32).tolist())
                yield pd.DataFrame(
                    {
                        "term": pd.Series(col_term, dtype="object"),
                        "vec": pd.Series(col_vec, dtype="object"),
                    }
                )

        out = self.vocab.select("term").mapInPandas(
            batches, "term string, vec array<float>"
        )
        if register:
            self.set_word_vectors(
                out.select("term", F.col("vec").alias("embedding"))
            )
        return out

    def search_documents_by_vector(
        self,
        vector: Sequence[float],
        num_docs: int,
        return_documents: bool = True,
        use_index: bool = False,
        ef: int | None = None,
    ) -> DataFrame:
        """Reference search_documents_by_vector (top2vec.py:2574-2650):
        cosine top-k over the registered document embeddings.
        ``use_index=False``: exact (operators/similarity.cosine_topk —
        per-partition matmul + TakeOrderedAndProject).
        ``use_index=True``: the sharded HNSW built by
        index_document_vectors; ``ef=None`` mirrors the reference's
        ``set_ef(num_docs)`` default (top2vec.py:2630-2633). NOTE: on
        the keyword entry points ``use_index`` toggles the WAND
        inverted-index path instead — same name, the engine's lexical
        analogue."""
        from top2vec_spark.operators.similarity import cosine_topk

        if not hasattr(self, "_doc_vectors"):
            raise ValueError(
                "no document vectors — compute_topics or "
                "set_document_vectors first"
            )
        self._validate_vector(vector, self._vector_dim(self._doc_vectors))
        self._validate_num_docs(num_docs)
        if use_index:
            from top2vec_spark.operators.hnsw import hnsw_topk

            self._check_document_index_status()
            eff = int(ef) if ef is not None else int(num_docs)
            res = hnsw_topk(
                self._document_index,
                vector,
                num_docs,
                ef=eff,
                exclude=sorted(getattr(self, "_doc_index_tombstones", ())),
            ).select(F.col("vec_id").alias("doc_id"), "score")
        else:
            res = cosine_topk(self._doc_vectors, vector, num_docs).select(
                F.col("vec_id").alias("doc_id"), "score"
            )
        return self._project(res, return_documents)

    def search_words_by_vector(
        self,
        vector: Sequence[float],
        num_words: int,
        use_index: bool = False,
        ef: int | None = None,
    ) -> DataFrame:
        """Reference search_words_by_vector (top2vec.py:2652-2713):
        cosine top-k over a registered (term, embedding) table;
        ``use_index=True`` serves from the index_word_vectors HNSW
        with the (word_id -> term) mapping joined back (broadcast of
        the <= k result rows — the mapping table stays distributed)."""
        from top2vec_spark.operators.similarity import cosine_topk_sql

        if not hasattr(self, "_word_vectors"):
            raise ValueError("no word vectors — set_word_vectors first")
        self._validate_vector(vector, self._vector_dim(self._word_vectors))
        self._validate_num(num_words, "num_words")
        if use_index:
            from top2vec_spark.operators.hnsw import hnsw_topk

            self._check_word_index_status()
            eff = int(ef) if ef is not None else int(num_words)
            res = hnsw_topk(
                self._word_index, vector, num_words, ef=eff
            ).withColumnRenamed("vec_id", "word_id")
            return (
                self._word_index_terms.join(F.broadcast(res), "word_id")
                .select("term", "score")
                .orderBy(F.col("score").desc(), F.col("term").asc())
            )
        return cosine_topk_sql(
            self._word_vectors, vector, num_words, id_col="term"
        ).select(F.col("vec_id").alias("term"), "score")

    def search_topics_by_vector(
        self, vector: Sequence[float], num_topics: int, reduced: bool = False
    ) -> DataFrame:
        """Reference search_topics_by_vector (top2vec.py:2715-2784):
        cosine against the (tiny, driver-held) topic centroids."""
        import numpy as np

        self._require_topics(reduced)
        rows = self._centroid_df(reduced).collect()
        # reference order: vector validated before num_topics
        # (top2vec.py:2764-2765)
        if rows:
            self._validate_vector(vector, len(rows[0]["centroid"]))
        self._validate_num_topics(num_topics, reduced)
        q = np.asarray(list(vector), dtype=np.float64)
        q = q / (np.linalg.norm(q) or 1.0)
        scored = sorted(
            (
                (float(np.dot(np.asarray(r["centroid"]), q)), int(r["label"]))
                for r in rows
            ),
            key=lambda x: (-x[0], x[1]),
        )[:num_topics]
        return self.spark.createDataFrame(
            [(t, s) for s, t in scored], "topic_id long, score double"
        )

    # -- topic reduction / merge (L7, U3) ------------------------------------
    def hierarchical_topic_reduction(self, num_topics: int):
        """L7 (top2vec.py:2270-2418): driver loop over collected topic
        centroids, then a MAPPING join (original topic -> merged
        topic) materializes the reduced mirror — doc_topic_reduced,
        topic_words_reduced, reduced centroids and the hierarchy —
        so every reduced=True query surface works afterwards. Sizes
        are conserved exactly (membership mapping, no re-assignment),
        mirroring the reference's reduced size invariant
        (test_top2vec.py:241-248)."""
        import numpy as np

        from top2vec_spark.operators import topics as T

        self._require_topics()
        current = self._num_topics(reduced=False)
        if num_topics >= current:
            # reference _validate_hierarchical_reduction_num_topics
            # (top2vec.py:1358-1361)
            raise ValueError(f"Number of topics must be less than {current}.")
        cents = {
            int(r["label"]): np.array(r["centroid"])
            for r in self.topic_centroids.collect()
        }
        sizes = {
            int(r["topic_id"]): r["topic_size"]
            for r in self.get_topic_sizes().collect()
        }
        reduced, hierarchy = T.hierarchical_topic_reduction(
            cents, sizes, num_topics
        )
        if hasattr(self, "_topic_sizes_red"):
            delattr(self, "_topic_sizes_red")  # re-reduction: fresh sizes
        mapping, ordered = T.reduced_topic_mapping(hierarchy, sizes)
        mdf = self.spark.createDataFrame(
            [(int(o), int(n)) for o, n in mapping.items()],
            "topic_id long, reduced_id long",
        )
        self.doc_topic_reduced = (
            self.doc_topic.join(F.broadcast(mdf), "topic_id")
            .select("doc_id", F.col("reduced_id").alias("topic_id"), "score")
            .cache()
        )
        self.topic_words_reduced = T.topic_words_ctfidf(
            self._tf, self.doc_topic_reduced
        ).cache()
        self._ctfidf_reduced = T.ctfidf_scores(
            self._tf, self.doc_topic_reduced
        ).cache()
        self._hierarchy = ordered
        # reduced centroids keyed by the new ids (surviving original
        # topic s carries the merged centroid for group mapping[s])
        self._centroids_reduced = {
            mapping[s]: v for s, v in reduced.items()
        }
        return reduced, hierarchy

    def get_topic_hierarchy(self) -> list:
        """Reference get_topic_hierarchy (top2vec.py:2244-2268): the
        original topic ids inside each reduced topic, indexed by the
        reduced topic id."""
        if not hasattr(self, "_hierarchy"):
            raise ValueError(
                "Hierarchical topic reduction has not been performed."
            )
        return self._hierarchy

    def merge_duplicate_topics(self, threshold: float = 0.9) -> int:
        """U3 (reference top2vec.py:1064-1086): merge topics whose
        centroids are near-duplicates (cosine > threshold), then
        renumber by size and refresh the topic tables. Returns the
        number of topics after merging."""
        import numpy as np

        from top2vec_spark.operators import topics as T
        from top2vec_spark.operators.similarity import label_centroids

        self._require_topics()
        cents = {
            int(r["label"]): np.array(r["centroid"])
            for r in self.topic_centroids.collect()
        }
        mapping = T.merge_duplicate_topics(cents, threshold)
        if all(o == m for o, m in mapping.items()):
            return len(cents)
        mdf = self.spark.createDataFrame(
            [(int(o), int(m)) for o, m in mapping.items()],
            "topic_id long, merged_id long",
        )
        merged_dt = (
            self.doc_topic.join(F.broadcast(mdf), "topic_id")
            .select("doc_id", F.col("merged_id").alias("topic_id"), "score")
        )
        self.doc_topic = T.renumber_topics_by_size(merged_dt).cache()
        self.topic_centroids = label_centroids(
            self._topic_embeddings.join(
                self.doc_topic.select(F.col("doc_id").alias("vec_id"), "topic_id"),
                "vec_id",
            ).select("vec_id", "embedding", F.col("topic_id").alias("label"))
        ).cache()
        self._ctfidf = T.ctfidf_scores(self._tf, self.doc_topic).cache()
        self.topic_words = T.topic_words_ctfidf(self._tf, self.doc_topic).cache()
        self._invalidate_topic_caches()
        # the reduced mirror was computed against the PRE-merge topic
        # numbering — invalidate it so reduced=True queries raise
        # (re-run hierarchical_topic_reduction) instead of silently
        # serving stale topic ids
        self._invalidate_reduced_mirror()
        return self.doc_topic.select("topic_id").distinct().count()

    # -- topic-layer helpers --------------------------------------------------
    def _dt(self, reduced: bool) -> DataFrame:
        self._require_topics(reduced)
        return self.doc_topic_reduced if reduced else self.doc_topic

    def _centroid_df(self, reduced: bool) -> DataFrame:
        if not reduced:
            return self.topic_centroids
        return self.spark.createDataFrame(
            [
                (int(t), [float(x) for x in v])
                for t, v in sorted(self._centroids_reduced.items())
            ],
            "label long, centroid array<double>",
        )

    def _require_topics(self, reduced: bool = False) -> None:
        if not hasattr(self, "doc_topic"):
            raise ValueError(
                "no topics computed — call compute_topics(embeddings) first"
            )
        if reduced and not hasattr(self, "doc_topic_reduced"):
            raise ValueError(
                "Hierarchical topic reduction has not been performed."
            )

    def _validate_list_arg(self, val, var_name: str, kind: str) -> None:
        """Reference argument-type checks (_validate_doc_ids /
        _validate_keywords, top2vec.py:1405-1410, 1427-1432) with the
        reference's messages. The engine additionally accepts tuples
        (its own Sequence defaults are tuples) — a strict superset."""
        import numpy as np

        if not isinstance(val, (list, tuple, np.ndarray)):
            raise ValueError(f"{var_name} must be a list of {kind}.")

    def _validate_vector(self, vector, dim: int) -> None:
        """Reference _validate_vector (top2vec.py:1468-1473). The
        engine accepts any 1-D numeric sequence, not just np.ndarray
        (documented deviation — Spark-side vectors are plain lists);
        non-sequences get the reference's type message and the
        dimension check keeps the reference's wording."""
        if isinstance(vector, str) or not hasattr(vector, "__len__"):
            raise ValueError("Vector needs to be a numpy array.")
        if len(vector) != dim:
            raise ValueError(f"Vector needs to be of {dim} dimensions.")

    def _vector_dim(self, df: DataFrame, col: str = "embedding") -> int:
        """Dimensionality of an embedding table, from ONE head row of a
        column-pruned scan, cached per (table, col) identity."""
        cache = getattr(self, "_vec_dims", None)
        if cache is None:
            cache = self._vec_dims = {}
        key = (id(df), col)
        if key not in cache:
            row = df.select(F.size(F.col(col)).alias("d")).head()
            cache[key] = int(row["d"]) if row else 0
        return cache[key]

    def _known_terms(self, words: Sequence[str]) -> set:
        """The vocabulary terms among ``words``: on the driver from
        :attr:`vocab_map`, else (over its cap) one filtered collect."""
        lookup = self.vocab_map
        if lookup is not None:
            return {w for w in words if w in lookup}
        vocab = self.vocab.filter(F.col("term").isin(list(set(words))))
        return {r["term"] for r in vocab.collect()}

    def _validate_keywords(self, words: Sequence[str]) -> None:
        """Reference _validate_keywords (top2vec.py:1420-1432):
        unknown words raise."""
        known = self._known_terms(words)
        missing = [w for w in words if w not in known]
        if missing:
            # reference message format (top2vec.py:1438-1441)
            raise ValueError(
                f"'{missing[0]}' has not been learned by the model so it "
                "cannot be searched."
            )

    # -- mutation (U1/U2) ---------------------------------------------------
    def add_documents(
        self, new_docs: DataFrame, new_embeddings: DataFrame | None = None
    ) -> "Top2VecSpark":
        """Reference add_documents (top2vec.py:1960-2061): append +
        incremental stats rebuild. Returns a new engine over the
        union; id uniqueness enforced like top2vec.py:512-513.

        With a built index, the postings are appended INCREMENTALLY
        (only the new docs are tokenized/encoded — new doc-shards,
        no existing partition rewritten; plans/build.py
        ``append_documents``). New doc_ids are remapped to start at
        the next shard boundary. The new engine's statistics are the
        appended index's, cached in memory when this engine's were.

        A5: if topics are computed and ``new_embeddings`` (vec_id ==
        new doc_id pre-shift, embedding) is given, the new docs are
        assigned to their nearest EXISTING topic and topic sizes grow
        incrementally — topic vectors and topic words are NOT
        retrained, exactly like the reference (top2vec.py:2030-2050
        extends doc_top without recomputing topic_vectors)."""
        id_shift = 0
        if self._index is not None:
            lo = self._index.next_doc_id()
            old_min = new_docs.agg(F.min("doc_id")).collect()[0][0]
            id_shift = int(lo - old_min)
            shifted = new_docs.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(id_shift)).cast("long")
            )
            out = self._like(
                self.docs.unionByName(shifted, allowMissingColumns=True)
            )
            # appended docs must be indexed under the SAME tokenization
            # as the base build: with a custom tokenizer or a
            # phrase-augmented vocab, pre-tokenize here (engine
            # pipeline) and hand the packed tf to the append — the
            # default append path uses the built-in contract tokenizer
            # only. Phrase augmentation uses the BASE phrase vocabulary
            # (no re-mining), matching the stored index's terms, and
            # the new engine keeps it for its own tokens.
            packed_tf = None
            if self.tokenizer is not None or self.ngram_vocab:
                from top2vec_spark.operators.tokens import pack_tokens

                packed_tf = pack_tokens(self._tokenize(shifted))
            if self.ngram_vocab:
                out._phrases = self.phrases
            idx = self._index.append_documents(
                shifted, cfg=self.cfg, packed_tf=packed_tf
            )
            # a serving index stays served from memory: the source keeps
            # its own cache for the snapshot it still answers
            src = self._index._postings
            if src is not None and src.is_cached:
                idx.cache()
            out._index = idx
        else:
            dup = (
                self.docs.select("doc_id")
                .join(new_docs.select("doc_id"), "doc_id", "inner")
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError("Some document ids already exist in model.")
            out = self._like(
                self.docs.unionByName(new_docs, allowMissingColumns=True)
            )
        if hasattr(self, "doc_topic") and new_embeddings is not None:
            from top2vec_spark.operators.similarity import assign_nearest

            emb = new_embeddings
            if id_shift:
                emb = emb.withColumn(
                    "vec_id", (F.col("vec_id") + F.lit(id_shift)).cast("long")
                )
            new_dt = assign_nearest(emb, self.topic_centroids).select(
                F.col("vec_id").alias("doc_id"),
                F.col("assigned_label").alias("topic_id"),
                "score",
            )
            out.doc_topic = self.doc_topic.unionByName(new_dt).cache()
            out.topic_centroids = self.topic_centroids  # not retrained
            out.topic_words = self.topic_words  # stale by design (ref parity)
            out._ctfidf = self._ctfidf
            out._tf = self._tf
            out._topic_embeddings = self._topic_embeddings.unionByName(
                emb, allowMissingColumns=True
            )
            out._doc_vectors = out._topic_embeddings
        # ANN index lifecycle (reference add_documents extends the
        # hnswlib document index via add_items, top2vec.py:2040-2058):
        # with new embeddings, append an epoch of fresh shard graphs —
        # no existing graph rebuilt; without them the old index cannot
        # cover the new docs, so it is NOT carried (re-index after
        # registering vectors), mirroring the reference's invariant
        # that indexed models always embed added docs.
        if (
            getattr(self, "_document_index", None) is not None
            and new_embeddings is not None
        ):
            from top2vec_spark.operators.hnsw import hnsw_append

            emb_new = new_embeddings
            if id_shift:
                emb_new = emb_new.withColumn(
                    "vec_id", (F.col("vec_id") + F.lit(id_shift)).cast("long")
                )
            appended = hnsw_append(self._document_index, emb_new).persist()
            appended.count()
            out._document_index = appended
            out._doc_index_tombstones = getattr(
                self, "_doc_index_tombstones", frozenset()
            )
        return out

    def delete_documents(self, doc_ids: Sequence[int]) -> "Top2VecSpark":
        """Reference delete_documents (top2vec.py:2063-2122). With a
        built index: tombstone marking (= hnswlib mark_deleted,
        top2vec.py:2104-2110) — queries skip the docs immediately, no
        partition rewrites; statistics stay the index's pre-delete ones
        until :meth:`compact_index` (the reference likewise does not
        retrain after deletes). The WAND path is authoritative
        post-delete; forcing use_index=False bypasses tombstones (like
        bypassing the reference's index). Without an index: engine
        over the filtered corpus."""
        self._validate_doc_ids(doc_ids)
        if self._index is not None:
            self._index.delete_documents(doc_ids)
            self._drop_deleted()
            if hasattr(self, "_id_bounds"):  # validated: every id was live
                runs, n = self._id_bounds
                self._id_bounds = (runs, n - len({int(i) for i in doc_ids}))
            if hasattr(self, "doc_topic"):  # A5: sizes shrink in place
                self._invalidate_topic_caches()
            # ANN index: tombstone, not rebuild (hnswlib mark_deleted
            # parity, top2vec.py:2104-2110)
            if getattr(self, "_document_index", None) is not None:
                self._doc_index_tombstones = getattr(
                    self, "_doc_index_tombstones", frozenset()
                ) | frozenset(int(d) for d in doc_ids)
            return self
        out = self._like(self.docs.filter(~F.col("doc_id").isin(list(doc_ids))))
        if hasattr(self, "doc_topic"):
            out.doc_topic = self.doc_topic.filter(
                ~F.col("doc_id").isin(list(doc_ids))
            )
            out.topic_centroids = self.topic_centroids
            out.topic_words = self.topic_words
            out._ctfidf = self._ctfidf
            out._tf = self._tf
            if hasattr(self, "doc_topic_reduced"):
                out.doc_topic_reduced = self.doc_topic_reduced.filter(
                    ~F.col("doc_id").isin(list(doc_ids))
                )
                out.topic_words_reduced = self.topic_words_reduced
                out._ctfidf_reduced = self._ctfidf_reduced
                out._hierarchy = self._hierarchy
                out._centroids_reduced = self._centroids_reduced
            if hasattr(self, "_topic_embeddings"):
                out._topic_embeddings = self._topic_embeddings.filter(
                    ~F.col("vec_id").isin(list(doc_ids))
                )
                out._doc_vectors = out._topic_embeddings
        if not hasattr(out, "_doc_vectors") and hasattr(self, "_doc_vectors"):
            out._doc_vectors = self._doc_vectors.filter(
                ~F.col("vec_id").isin(list(doc_ids))
            )
        if getattr(self, "_document_index", None) is not None:
            out._document_index = self._document_index
            out._doc_index_tombstones = getattr(
                self, "_doc_index_tombstones", frozenset()
            ) | frozenset(int(d) for d in doc_ids)
        return out

    # doc-keyed frames a delete shrinks, with their id column: the
    # corpus, the topic memberships (the reference's delete_documents
    # rewrites doc_top and doc_top_reduced, top2vec.py:2084-2122; word
    # tables stay stale by design like topic_words) and the vectors
    # the brute vector path reads (reference np.delete's
    # document_vectors, top2vec.py:2091)
    _DOC_KEYED = (
        ("docs", "doc_id"),
        ("doc_topic", "doc_id"),
        ("doc_topic_reduced", "doc_id"),
        ("_topic_embeddings", "vec_id"),
        ("_doc_vectors", "vec_id"),
    )

    def _drop_deleted(self) -> None:
        """Point every doc-keyed frame at the index's live documents:
        ONE anti-join over the frame as it stood before the first
        delete, so repeated deletes replace the join instead of
        stacking filters (a frame reassigned since is re-based on its
        new value)."""
        pre = self.__dict__.setdefault("_pre_delete", {})
        for attr, key in self._DOC_KEYED:
            cur = getattr(self, attr, None)
            if cur is None:
                continue
            base, live = pre.get(attr, (cur, None))
            if live is not cur:
                base = cur
            live = self._index._live(base, key)
            pre[attr] = (base, live)
            setattr(self, attr, live)

    # -- helpers ------------------------------------------------------------
    def _project(
        self, result: DataFrame, return_documents: bool, order=None
    ) -> DataFrame:
        """Join back url/text like the reference returns
        (documents?, doc_scores, doc_ids) — url plays the role of
        document_ids (SURVEY.md §1.2).

        O(k) join-back: the ≤k result rows are collected and the text
        fetch is a pushed ``doc_id IN (...)`` filter on the docs scan
        (partition/row-group pruned) — a plain broadcast join here
        would STREAM the full corpus scan to fetch k rows, a
        full-table read per query at 10^12 docs. Results larger than
        _PROJECT_COLLECT_CAP fall back to the streaming join (a
        driver-side IN literal of 10^5+ ids would stall planning)."""
        if order is None:
            order = [F.col("score").desc(), F.col("doc_id").asc()]
        cols = ["doc_id"]
        if "url" in self.docs.columns:
            cols.append("url")
        if return_documents and self.keep_documents and "text" in self.docs.columns:
            cols.append("text")
        if len(cols) == 1:
            return result
        # Retire the previous over-cap query's persisted frame now:
        # unpersisting only makes a still-held result DataFrame
        # recompute, so correctness is preserved, and a long-lived
        # serving session holds at most ONE leaked cache entry instead
        # of accumulating one per huge-k query.
        for prev in self._project_persisted:
            prev.unpersist()
        self._project_persisted.clear()
        # Persist before the probing collect: the over-cap fallback
        # reuses the computed result instead of re-running the whole
        # WAND/brute job a second time for the streaming join.
        result = result.persist()
        rows = result.limit(self._PROJECT_COLLECT_CAP + 1).collect()
        if len(rows) > self._PROJECT_COLLECT_CAP:
            # huge k (e.g. search_documents_by_topic over a whole
            # topic): a driver-side IN list would blow up — fall back
            # to the streaming join, which handles any k
            self._project_persisted.append(result)
            return result.join(self.docs.select(*cols), "doc_id").orderBy(*order)
        result.unpersist()
        local = self.spark.createDataFrame(rows, result.schema)
        ids = [int(r["doc_id"]) for r in rows]
        side = self.docs.select(*cols).filter(F.col("doc_id").isin(ids))
        return local.join(side, "doc_id").orderBy(*order)

    _PROJECT_COLLECT_CAP = 10_000  # max hits fetched via a driver IN list

    @property
    def _project_persisted(self) -> list:
        if not hasattr(self, "_project_persisted_frames"):
            self._project_persisted_frames = []
        return self._project_persisted_frames

    def _validate_num(self, k: int, var_name: str = "num_docs") -> None:
        """Reference _less_than_zero (top2vec.py:1350-1353), plus an
        engine guard against 0 (a k=0 top-k is a no-op query)."""
        if k < 0:
            raise ValueError(f"{var_name} cannot be less than 0.")
        if k == 0:
            raise ValueError(f"{var_name} must be >= 1")

    def _validate_num_docs(self, num_docs: int) -> None:
        """Reference _validate_num_docs (top2vec.py:1363-1367) —
        the live document count from the cached bounds aggregate, no
        per-call scan."""
        self._validate_num(num_docs, "num_docs")
        _, n = self._doc_id_bounds()
        if num_docs > n:
            raise ValueError(
                f"num_docs cannot exceed the number of documents: {n}."
            )

    def _validate_num_topics(self, num_topics: int, reduced: bool) -> None:
        """Reference _validate_num_topics (top2vec.py:1369-1378)."""
        self._validate_num(num_topics, "num_topics")
        n = self._num_topics(reduced)
        if num_topics > n:
            kind = "reduced topics" if reduced else "topics"
            raise ValueError(
                f"num_topics cannot exceed the number of {kind}: {n}."
            )

    def _validate_topic_num(self, topic_num: int, reduced: bool) -> None:
        """Reference _validate_topic_num (top2vec.py:1380-1391)."""
        if topic_num < 0:
            raise ValueError("topic_num cannot be less than 0.")
        hi = self._num_topics(reduced) - 1
        if topic_num > hi:
            kind = "reduced" if reduced else "original"
            raise ValueError(
                f"Invalid topic number: valid {kind} topics numbers are "
                f"0 to {hi}."
            )

    def _validate_topic_search(
        self, topic_num: int, num_docs: int, reduced: bool
    ) -> None:
        """Reference _validate_topic_search (top2vec.py:1393-1402)."""
        self._validate_num(num_docs, "num_docs")
        size = self._topic_size_map(reduced).get(int(topic_num), 0)
        if num_docs > size:
            kind = "reduced" if reduced else "original"
            raise ValueError(
                f"Invalid number of documents: {kind} topic {topic_num}"
                f" only has {size} documents."
            )

    def _num_topics(self, reduced: bool = False) -> int:
        return len(self._topic_size_map(reduced))

    def _topic_size_map(self, reduced: bool = False) -> dict:
        """topic_id -> size, driver-cached (tiny; one small agg per
        topic generation). Invalidated by every topic mutation."""
        key = "_topic_sizes_red" if reduced else "_topic_sizes_full"
        if not hasattr(self, key):
            from top2vec_spark.operators import topics as T

            sizes = {
                int(r["topic_id"]): int(r["topic_size"])
                for r in T.topic_sizes(self._dt(reduced)).collect()
            }
            setattr(self, key, sizes)
        return getattr(self, key)

    def _invalidate_topic_caches(self) -> None:
        for key in ("_topic_sizes_full", "_topic_sizes_red"):
            if hasattr(self, key):
                delattr(self, key)

    def _invalidate_reduced_mirror(self) -> None:
        for attr in (
            "doc_topic_reduced",
            "topic_words_reduced",
            "_ctfidf_reduced",
            "_hierarchy",
            "_centroids_reduced",
        ):
            if hasattr(self, attr):
                delattr(self, attr)

    def _doc_id_bounds(self) -> tuple:
        """(runs, n) of the LIVE corpus ids, cached after one
        column-pruned aggregate grouped by doc shard: ``runs`` is one
        (lo, hi, dense) per shard, sorted by lo, and n is the live
        document count. A run is dense when every id of [lo, hi] is
        live or tombstoned; appended ids start at the next shard
        boundary, so per-shard runs stay dense where the whole id range
        does not. A facade delete subtracts its ids from n in place
        (they become tombstones, so each run's dense flag still holds);
        compaction drops the cache."""
        if not hasattr(self, "_id_bounds"):
            idx = self._index
            dps = DEFAULT_DOCS_PER_SHARD if idx is None else idx.docs_per_shard
            rows = (
                self._live(self.docs)
                .groupBy(F.expr(f"doc_id div {int(dps)}").alias("shard"))
                .agg(
                    F.min("doc_id").alias("lo"),
                    F.max("doc_id").alias("hi"),
                    F.count("doc_id").alias("n"),
                )
                .collect()
            )
            runs, tombs = [], None
            for r in sorted(rows, key=lambda r: r["lo"]):
                lo, hi = int(r["lo"]), int(r["hi"])
                holes = hi - lo + 1 - int(r["n"])
                if holes and idx is not None:  # tombstones read only here
                    tombs = sorted(idx.tombstones) if tombs is None else tombs
                    holes -= bisect_right(tombs, hi) - bisect_left(tombs, lo)
                runs.append((lo, hi, holes == 0))
            self._id_bounds = (runs, sum(int(r["n"]) for r in rows))
        return self._id_bounds

    def _validate_doc_ids(self, ids: Sequence[int]) -> None:
        """Existence check without a per-call corpus scan: each id is
        checked driver-side against its shard's cached run
        (:meth:`_doc_id_bounds`) and the tombstones, so dense-id shards
        (the assign_doc_ids contract, appends included) cost zero jobs
        on the hot path of search_documents_by_documents /
        get_documents_topics / delete_documents. Ids that fall in a
        non-dense run go to one pushed isin probe. Message parity:
        reference _validate_doc_ids (top2vec.py:1404-1418)."""
        uniq = {int(i) for i in ids}
        if not uniq:
            return
        runs, _ = self._doc_id_bounds()
        tombs = self._index.tombstones if self._index is not None else frozenset()
        los = [lo for lo, _, _ in runs]
        bad, probe = [], []
        for i in uniq:
            k = bisect_right(los, i) - 1
            if k < 0 or i > runs[k][1] or i in tombs:
                bad.append(i)
            elif not runs[k][2]:
                probe.append(i)
        if probe:
            found = {
                r["doc_id"]
                for r in self.docs.select("doc_id")
                .filter(F.col("doc_id").isin(probe))
                .collect()
            }
            bad += [i for i in probe if i not in found]
        if bad:
            raise ValueError(f"{min(bad)} is not a valid document id.")

    def _doc_terms(self, ids: Sequence[int]) -> list[str]:
        """Distinct terms of the given docs. Filters the doc TABLE
        before tokenizing (predicate reaches the parquet scan), so the
        expensive tokenizer UDF runs over len(ids) rows — not the
        whole corpus, which the lazy `tokens` relation would
        re-tokenize per query."""
        if not ids:
            return []
        rows = (
            self._tokenize(
                self.docs.filter(F.col("doc_id").isin(list(ids))), phrases=False
            )
            .select("term")
            .distinct()
            .collect()
        )
        return sorted(r["term"] for r in rows)
