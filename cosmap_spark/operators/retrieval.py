"""Lexical retrieval: Okapi BM25 scoring and top-k search.

The search-engine member of the text stack (TF-IDF/LM featurization
lives in queries/llm_ops.py::q_tfidf, which hash-checks the same
``bm25_weight`` expression per (doc, term) against DuckDB): given a
set of query strings, rank documents by BM25 — the standard lexical
baseline next to the embedding k-NN stack (operators/knn.py), and the
sparse half of a hybrid retriever.

Scale shape: the corpus tokenizes once into (doc, term, tf) with
per-document lengths (two map-side-combined aggregations); the
QUERY-term document frequencies are computed by filtering that table
to the query vocabulary BEFORE any shuffle (query-vocabulary-sized,
broadcasts); scoring is one broadcast join + one per-doc aggregation;
top-k cuts with orderBy+limit (TakeOrderedAndProject) per query.
Nothing corpus-sized shuffles except the one (doc, term) aggregation
every lexical index pays — and that one is payable ONCE:
``build_lex_index`` exposes the corpus-derived state,
``operators.index_store.save_lex_index`` / ``load_lex_index`` /
``lex_append`` persist and incrementally maintain it, and
``bm25_search(prebuilt=...)`` serves from it without re-tokenizing
history.

The reference has no text surface at all; this module is part of the
mandated beyond-reference pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import require_int
from cosmap_spark.functions.text import tokens


def bm25_weight(
    tf: Column,
    df: Column,
    n_docs: Column,
    doc_len: Column,
    avg_len: Column,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """The Okapi BM25 per-(doc, term) weight:
    ``idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with the
    Robertson–Spärck-Jones idf ``ln((N − df + 0.5)/(df + 0.5) + 1)``
    (the +1 keeps it positive for df > N/2, the Lucene convention).
    Pure column arithmetic — hash-checked against DuckDB at full
    (doc, term) granularity by q_tfidf's ``bm25`` column."""
    idf = F.log(
        (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
    )
    return idf * (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * doc_len / avg_len)
    )


def build_lex_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The corpus-derived state every BM25 serve consumes — the
    lexical index: ``(tf, lens)`` with ``tf = [__d, term, tf]`` (term
    frequencies per document) and ``lens = [__d, dl]`` (document
    lengths in tokens).  Built by ONE tokenize + two map-side-combined
    aggregations; :func:`bm25_search` builds it inline when no
    ``prebuilt`` index is passed, and
    ``operators.index_store.save_lex_index`` persists it so serving
    sessions never re-tokenize the corpus.  Doc ids must be unique
    (see :func:`bm25_scored`).

    ``positions=True`` makes the index POSITIONAL: tf gains
    ``pos array<int>`` — the sorted 0-based token offsets of the term
    in the document (``sort_array(collect_list(...))`` — collect_list
    order is partition-dependent, the sort pins it).  Positions cost
    one int per token (≈ the token table itself) and buy exact
    quoted-phrase / proximity verification (:func:`phrase_match`)
    without re-reading any text.  BM25 scoring ignores the column, so
    a positional index serves everything a bag-of-words one does."""
    if positions:
        toks = docs.select(
            F.col(id_col).alias("__d"),
            F.posexplode(tokens(F.col(text_col))).alias("__p", "term"),
        )
        tf = toks.groupBy("__d", "term").agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("__p")).alias("pos"),
        )
    else:
        toks = docs.select(
            F.col(id_col).alias("__d"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        tf = toks.groupBy("__d", "term").agg(F.count("*").alias("tf"))
    lens = tf.groupBy("__d").agg(F.sum("tf").alias("dl"))
    return tf, lens


def inline_tf(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
    vocab: list[str] | None = None,
    vocab_df: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """The INLINE-shaped term table every one-shot retrieval pass
    consumes — ``[__d, term, tf, __dl]`` (+ ``pos array<int>`` with
    ``positions=True``): one tokenizing scan carrying the document
    length through the explode itself (max() of a per-doc constant in
    the aggregation), so nothing doc-count-sized is ever joined or
    broadcast.  ``vocab`` filters terms BELOW the aggregation (term is
    a grouping key — only vocabulary rows shuffle).  ``vocab_df`` /
    ``doc_filter`` are the LAZY twins: in-plan term / doc-id sets
    (single-column frames, query-sized by contract) applied as
    broadcast left-semi joins on the PRE-aggregation token table —
    the shape a second-pass consumer (RM3's expansion vocabulary, the
    feedback-doc term distributions) needs, because a join placed
    ABOVE the aggregation cannot push through it: the full corpus
    (doc, term) agg would evaluate with values (~3× the pruned cost —
    the round-8 rm3 finding) only to be immediately decimated.
    ``__dl`` stays the FULL document length under every filter (it is
    computed in the same projection as the explode, before any
    semi-join).  The persisted
    twin is :func:`build_lex_index` + ``index_store`` (dl in a
    separate lens table); this is the single definition of the inline
    shape — bm25_scored / bm25_search_weighted / phrase_search and the
    ledger's rm3 branch all build through it, so the documented
    inline ≡ prebuilt row-identity has exactly one expression tree to
    hold for."""
    if doc_filter is not None:
        # a doc-id filter restricts WHOLE documents, so it sits
        # before the tokenize: only surviving docs pay the regex +
        # explode (the per-doc __dl below is still each survivor's
        # full length)
        docs = docs.join(
            F.broadcast(doc_filter.select(F.col(doc_filter.columns[0])
                                          .alias(id_col)).distinct()),
            id_col, "left_semi",
        )
    t = tokens(F.col(text_col))
    if positions:
        toks = docs.select(
            F.col(id_col).alias("__d"),
            F.posexplode(t).alias("__p", "term"),
            F.size(t).cast("long").alias("__dl"),
        )
    else:
        toks = docs.select(
            F.col(id_col).alias("__d"),
            F.explode(t).alias("term"),
            F.size(t).cast("long").alias("__dl"),
        )
    if vocab is not None:
        toks = toks.where(F.col("term").isin(sorted(set(vocab))))
    if vocab_df is not None:
        toks = toks.join(
            F.broadcast(vocab_df.select("term").distinct()),
            "term", "left_semi",
        )
    aggs = [F.count("*").alias("tf"), F.max("__dl").alias("__dl")]
    if positions:
        aggs.append(F.sort_array(F.collect_list("__p")).alias("pos"))
    return toks.groupBy("__d", "term").agg(*aggs)


def bm25_scored(
    docs: DataFrame | None,
    queries: dict[str, str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    variants: dict[str, tuple[float, float]] | None = None,
    prebuilt: dict | None = None,
) -> DataFrame:
    """The UNCUT per-(query, doc) BM25 score table, optionally under
    SEVERAL (k1, b) parameterizations from ONE corpus pass —
    ``[query_id, __d, n_hit, score_<name>...]``.

    Doc ids must be UNIQUE (dedup upstream — ``exact_dedup`` or a
    ``dropDuplicates`` on the id): a duplicated id makes the document
    length ill-defined, and the inline path (max of the per-row token
    counts) and a ``build_lex_index`` store (sum of tf across rows)
    would resolve it differently.

    ``variants`` maps a name to ``(k1, b)`` (default
    ``{"score": (1.2, 0.75)}``).  All variant sums share one
    aggregation: the corpus term table is tokenized, vocabulary-
    filtered, and shuffled exactly once however many scorings are
    requested — the reason q_topk's bm25 + pure-idf rankings cost one
    corpus pass, not two (see :func:`bm25_search` for the single-
    variant serving contract and tokenization notes).

    The inline (non-``prebuilt``) path carries the document length
    through the token explode itself, so NOTHING doc-count-sized is
    joined or broadcast at any corpus scale.  The ``prebuilt`` path
    takes dl from the persisted doc-length table and broadcasts it
    (16 bytes/doc → ~10⁸ docs against a 2 GB broadcast limit)."""
    if not queries:
        raise ValueError("bm25_search: empty query set")
    variants = variants or {"score": (1.2, 0.75)}
    if prebuilt is not None:
        spark = prebuilt["tf"].sparkSession
        tf, lens = prebuilt["tf"], prebuilt.get("lens")
        if lens is None and "__dl" not in tf.columns:
            raise ValueError(
                "bm25_search: prebuilt without lens needs tf carrying "
                "__dl (the inline-shaped term table)"
            )
        if lens is None and not (
            "n_docs" in prebuilt and "avgdl" in prebuilt
        ) and docs is None:
            raise ValueError(
                "bm25_search: prebuilt without lens or n_docs/avgdl "
                "needs docs for the corpus stats"
            )
    else:
        if docs is None:
            raise ValueError("bm25_search: need docs or prebuilt")
        spark = docs.sparkSession
        # the inline shape (see inline_tf): dl rides the term table,
        # the query-vocab filter still pushes below the aggregate, and
        # the separate doc-length scan AND its corpus-sized broadcast
        # join disappear — at any corpus scale nothing doc-count-sized
        # is broadcast here
        tf = inline_tf(docs, id_col=id_col, text_col=text_col)
        lens = None  # dl rides the tf rows; only stats still scans
    if prebuilt is not None and "n_docs" in prebuilt and "avgdl" in prebuilt:
        # known scalars: inject as literals — no 1-row frame, no
        # crossJoin broadcast build (each broadcast exchange is a
        # serialized driver job in local mode; the rm3 lesson)
        stats = None
        stat_cols = [
            F.lit(int(prebuilt["n_docs"])).alias("n_docs"),
            F.lit(float(prebuilt["avgdl"])).alias("avgdl"),
        ]
    elif lens is not None:
        stats = lens.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    else:
        # NULL-text docs are excluded: they have no token rows, so the
        # tf/lens (prebuilt) path never counts them — counting them
        # here would skew n_docs/idf and break the documented
        # inline ≡ prebuilt row-identity
        stats = docs.where(F.col(text_col).isNotNull()).select(
            F.size(tokens(F.col(text_col))).cast("long").alias("dl")
        ).agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))

    qrows = [
        (qid, t)
        for qid, q in queries.items()
        for t in sorted({t for t in q.split(" ") if t})
    ]
    qterms = spark.createDataFrame(qrows, "query_id string, term string")
    # df over the QUERY vocabulary only: filter before the aggregation
    qvocab = sorted({t for _, t in qrows})
    dfreq = (
        tf.where(F.col("term").isin(qvocab))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored_src = (
        tf.where(F.col("term").isin(qvocab))
        .join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
    )
    if lens is not None:
        # prebuilt path: dl comes from the persisted doc-length table
        scored_src = scored_src.join(
            F.broadcast(lens.withColumnRenamed("dl", "__dl")), "__d"
        )
    if stats is not None:
        scored_src = scored_src.crossJoin(F.broadcast(stats))
    else:
        scored_src = scored_src.select("*", *stat_cols)
    return (
        scored_src
        .groupBy("query_id", "__d")
        .agg(
            *[
                F.round(
                    F.sum(
                        bm25_weight(
                            F.col("tf"), F.col("df"), F.col("n_docs"),
                            F.col("__dl"), F.col("avgdl"), k1=k1, b=b,
                        )
                    ),
                    6,
                ).alias(name)
                for name, (k1, b) in variants.items()
            ],
            F.count("*").alias("n_hit"),
        )
    )


def topk_cut(
    scored: DataFrame,
    *,
    score_col: str = "score",
    id_col: str = "doc_id",
    top_n: int = 10,
) -> DataFrame:
    """Cut a :func:`bm25_scored` table to the top ``top_n`` per query
    under one variant — ``[query_id, doc_id, score, n_hit]``, ties
    broken on doc id (the deterministic contract every oracle
    replays)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("__d").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top_n)
        .select(
            "query_id",
            F.col("__d").alias(id_col),
            F.col(score_col).alias("score"),
            F.col("n_hit").cast("long").alias("n_hit"),
        )
    )


def bm25_search(
    docs: DataFrame | None,
    queries: dict[str, str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    prebuilt: dict | None = None,
) -> DataFrame:
    """Top ``top_n`` documents per query by BM25 —
    ``[query_id, doc_id, score, n_hit]`` (``n_hit`` = how many query
    terms the document contains; ties broken by id for a
    deterministic cut).  Composed as :func:`bm25_scored` (one corpus
    pass) + :func:`topk_cut` (query-keyed window).

    ``queries`` maps query ids to query strings tokenized by
    single-space split with empty tokens dropped.  The corpus side
    (``functions.text.tokens`` = ``split(text, ' ')``) keeps empty
    tokens on repeated spaces; those can never match a query term, so
    on single-spaced corpora the two tokenizations agree exactly —
    queries containing tabs/newlines must be normalized by the caller.
    Duplicate terms in one query count once (the standard
    bag-of-words-query BM25).  Scoring joins the corpus term table to
    a BROADCAST literal of query terms, so adding queries adds
    broadcast rows, never corpus work.

    ``prebuilt`` serves from a persisted lexical index instead of
    re-tokenizing (``docs`` may then be ``None``): a dict with ``tf``
    and ``lens`` frames shaped like :func:`build_lex_index`'s result,
    plus optional precomputed ``n_docs``/``avgdl`` scalars (both
    present → the corpus-stats job is skipped entirely — what
    ``index_store.load_lex_index`` returns).  Serving from a loaded
    index is row-identical to the inline path (pinned in
    tests/test_index_store.py).
    """
    scored = bm25_scored(
        docs, queries, id_col=id_col, text_col=text_col,
        variants={"score": (k1, b)}, prebuilt=prebuilt,
    )
    return topk_cut(scored, score_col="score", id_col=id_col, top_n=top_n)


def phrase_match(
    tf: DataFrame,
    phrase: str,
    *,
    candidates: DataFrame | None = None,
    slop: int = 0,
) -> DataFrame:
    """Docs containing the phrase — ``[__d]`` — verified from a
    POSITIONAL index (``build_lex_index(positions=True)``), never by
    re-reading text.

    ``slop=0`` (default) is the EXACT quoted phrase (adjacent tokens,
    in order): filter the tf table to the phrase's vocabulary (the
    filter pushes to ``save_lex_index``'s term-sorted parquet layout —
    row-group pruning, not a corpus scan), group per doc, require
    every distinct term present, then intersect shifted position
    lists — a doc matches iff
    ``pos(t₀) ∩ (pos(t₁)−1) ∩ … ∩ (pos(tₙ)−n)`` is non-empty
    (``array_intersect`` is hash-based, O(|pos| sums), evaluated on
    doc-length-bounded arrays).  A one-term phrase degenerates to
    containment.

    ``slop > 0`` is ORDERED proximity: the terms must appear in order
    with total span ≤ (n−1) + slop tokens ("web retrieval" with
    slop=1 also matches "web scale retrieval").  Verified by the
    greedy-earliest chain: for each start p₀ ∈ pos(t₀), each next
    position is the smallest one strictly after the previous —
    greedy-minimal next positions minimize the final span, so the
    check is exact, not heuristic.  Same per-doc arrays, O(n·|pos|)
    per start.

    ``candidates`` (optional, query-sized ``[__d]``) broadcast-joins
    BEFORE the per-doc aggregation — the post-BM25 verify shape: only
    shortlisted docs ever group, so phrase filtering of a ranked page
    costs O(candidates), not O(df of the commonest term)."""
    terms = [t for t in phrase.split(" ") if t]
    if not terms:
        raise ValueError("phrase_match: empty phrase")
    if slop < 0:
        raise ValueError(f"phrase_match: slop must be >= 0; got {slop}")
    if "pos" not in tf.columns:
        raise ValueError(
            "phrase_match: tf has no 'pos' column — build the index "
            "with build_lex_index(positions=True)"
        )
    hits = tf.where(
        F.col("term").isin(sorted(set(terms)))
    ).select("__d", "term", "pos")
    if candidates is not None:
        hits = hits.join(
            F.broadcast(candidates.select("__d").distinct()), "__d"
        )
    perdoc = hits.groupBy("__d").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "pos"))
        ).alias("__m"),
        F.count("*").alias("__nt"),
    ).where(F.col("__nt") == len(set(terms)))
    if slop == 0:
        acc = F.element_at(F.col("__m"), F.lit(terms[0]))
        for i, t in enumerate(terms[1:], 1):
            off = F.lit(i)
            acc = F.array_intersect(
                acc,
                F.transform(
                    F.element_at(F.col("__m"), F.lit(t)), lambda x: x - off
                ),
            )
        return perdoc.where(F.size(acc) > 0).select("__d")
    # ordered proximity: greedy-earliest chain per start position;
    # fold state = last matched position (NULL = chain broken)
    max_span = F.lit(len(terms) - 1 + slop)
    rest = F.array(*[F.lit(t) for t in terms[1:]])
    matched = F.exists(
        F.element_at(F.col("__m"), F.lit(terms[0])),
        lambda p0: F.aggregate(
            rest,
            p0.cast("int"),
            lambda acc, t: F.when(
                acc.isNotNull(),
                F.array_min(
                    F.filter(
                        F.element_at(F.col("__m"), t), lambda x: x > acc
                    )
                ),
            ),
        )
        - p0 <= max_span,
    )
    return perdoc.where(matched).select("__d")


def phrase_match_multi(
    tf: DataFrame,
    phrases: dict[str, str],
    *,
    slop: int = 0,
) -> DataFrame:
    """All phrases' match sets in ONE pass — ``[query_id, __d]`` —
    semantically ``union(phrase_match(tf, p) for p in phrases)`` but
    with a single vocabulary filter, ONE per-doc grouping, and every
    phrase's predicate evaluated over the same term→positions map
    (per-phrase calls each pay their own groupBy + exchange; the
    ledger's phrase branch fused its three into this — the
    bm25_scored-variants lesson applied to matching).  Per-phrase
    verification logic is IDENTICAL to :func:`phrase_match` (shifted-
    position intersection at slop=0, greedy-earliest chain above);
    the all-terms-present guard rides a CASE so ANSI ``element_at``
    never sees a missing key."""
    if not phrases:
        raise ValueError("phrase_match_multi: empty phrase set")
    if slop < 0:
        raise ValueError(f"phrase_match_multi: slop must be >= 0; got {slop}")
    if "pos" not in tf.columns:
        raise ValueError(
            "phrase_match_multi: tf has no 'pos' column — build the "
            "index with build_lex_index(positions=True)"
        )
    terms_by_q = {}
    for qid, phrase in sorted(phrases.items()):
        terms = [t for t in phrase.split(" ") if t]
        if not terms:
            raise ValueError(f"phrase_match_multi: empty phrase for {qid!r}")
        terms_by_q[qid] = terms
    vocab = sorted({t for ts in terms_by_q.values() for t in ts})
    perdoc = (
        tf.where(F.col("term").isin(vocab))
        .select("__d", "term", "pos")
        .groupBy("__d")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "pos"))
            ).alias("__m")
        )
    )

    def matched(terms: list[str]):
        present = None
        for t in set(terms):
            c = F.map_contains_key(F.col("__m"), F.lit(t))
            present = c if present is None else (present & c)
        if slop == 0:
            # NOT `lambda x, off=off`: pyspark reads a two-parameter
            # lambda as the (element, index) form, silently binding
            # the default to the ARRAY INDEX — a real closure keeps
            # the shift a captured literal
            def shift(off: int):
                return lambda x: x - F.lit(off)

            acc = F.element_at(F.col("__m"), F.lit(terms[0]))
            for i, t in enumerate(terms[1:], 1):
                acc = F.array_intersect(
                    acc,
                    F.transform(
                        F.element_at(F.col("__m"), F.lit(t)), shift(i)
                    ),
                )
            hit = F.size(acc) > 0
        else:
            max_span = F.lit(len(terms) - 1 + slop)
            rest = F.array(*[F.lit(t) for t in terms[1:]])
            hit = F.exists(
                F.element_at(F.col("__m"), F.lit(terms[0])),
                lambda p0: F.aggregate(
                    rest,
                    p0.cast("int"),
                    lambda acc, t: F.when(
                        acc.isNotNull(),
                        F.array_min(
                            F.filter(
                                F.element_at(F.col("__m"), t),
                                lambda x: x > acc,
                            )
                        ),
                    ),
                )
                - p0 <= max_span,
            )
        return F.when(present, hit).otherwise(F.lit(False))

    qids = F.filter(
        F.array(*[
            F.when(matched(terms), F.lit(qid))
            for qid, terms in sorted(terms_by_q.items())
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        perdoc.select(F.explode(qids).alias("query_id"), "__d")
    )


def phrase_search(
    docs: DataFrame | None,
    queries: dict[str, str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    prebuilt: dict | None = None,
    slop: int = 0,
) -> DataFrame:
    """Quoted-phrase retrieval: top ``top_n`` docs per query that
    contain the query as an EXACT phrase, ranked by BM25 over the
    phrase's terms — ``[query_id, doc_id, score, n_hit]``.  The
    retrieval user's ``"foo bar"`` query: recall is exact (every
    phrase-containing doc is eligible — no candidate-pool recall
    loss), ranking is the standard lexical score.

    Cost shape: the inline path pays exactly the inline BM25 bill —
    ONE tokenizing corpus pass building a positional term table
    ALREADY filtered to the union of all phrases' vocabularies (the
    filter sits below the aggregation — term is a grouping key — so
    only vocabulary rows shuffle), plus the corpus-stats scan; that
    df-bounded frame is lazily ``localCheckpoint``-ed and serves BOTH
    the scoring aggregation and every per-query :func:`phrase_match`
    (which would otherwise each re-tokenize the corpus).  The match
    sets equi-join the score table on (query, doc).  ``prebuilt``
    must be a POSITIONAL index (``load_lex_index`` of a
    ``save_lex_index(positions=True)`` store), served as-is — the
    persisted layout already prunes by term.  ``slop`` relaxes every
    query to ordered proximity (see :func:`phrase_match`)."""
    if not queries:
        raise ValueError("phrase_search: empty query set")
    if prebuilt is None:
        if docs is None:
            raise ValueError("phrase_search: need docs or prebuilt")
        vocab = sorted({
            t for q in queries.values() for t in q.split(" ") if t
        })
        vtf = inline_tf(
            docs, id_col=id_col, text_col=text_col,
            positions=True, vocab=vocab,
        ).localCheckpoint(eager=False)
        prebuilt = {"tf": vtf}
        scored = bm25_scored(
            docs, queries, id_col=id_col, text_col=text_col,
            variants={"score": (k1, b)}, prebuilt=prebuilt,
        )
    else:
        scored = bm25_scored(
            None, queries, variants={"score": (k1, b)}, prebuilt=prebuilt,
        )
    tf = prebuilt["tf"]
    if "pos" not in tf.columns:
        raise ValueError(
            "phrase_search: prebuilt index is not positional — save "
            "with save_lex_index(..., positions=True)"
        )
    # ONE fused pass for every phrase's match set (phrase_match_multi:
    # one vocabulary filter + one per-doc grouping instead of a
    # groupBy + exchange per phrase)
    matches = phrase_match_multi(tf, queries, slop=slop)
    filtered = scored.join(matches, ["query_id", "__d"])
    return topk_cut(filtered, score_col="score", id_col=id_col, top_n=top_n)


def rm3_expand(
    scored: DataFrame,
    tf: DataFrame | None,
    queries: dict[str, str],
    *,
    score_col: str = "score",
    fb_docs: int = 5,
    fb_terms: int = 10,
    lam: float = 0.5,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RM3 pseudo-relevance-feedback query expansion (Lavrenko &
    Croft 2001 relevance models; RM3 interpolation per Abdul-Jaleel
    et al. 2004) — ``[query_id, term, weight]``, the weighted
    expanded query ready for :func:`bm25_search_weighted`.

    From the first-pass ranking ``scored`` (a :func:`bm25_scored`
    frame), the top ``fb_docs`` per query are feedback docs with
    P(d) ∝ score; the relevance model is
    ``RM1(t) = Σ_d P(t|d)·P(d)`` with ``P(t|d) = tf/dl`` (dl rides
    the tf rows — the inline-shaped term table); the top ``fb_terms``
    terms by (RM1 desc, term asc) interpolate with the uniform
    original query model: ``w(t) = λ·1/|Q| + (1−λ)·RM1(t)``.

    ENTIRELY in-plan — no collect anywhere: feedback docs are a
    query-keyed window, their term distributions come from ONE
    equi-join of the tf table against the broadcast fb set (the scan
    is fb-doc-pruned, never corpus-wide), term selection is a second
    query-keyed window.  Pass ``docs`` (the corpus frame the inline
    ``tf`` was built from) to push the feedback-doc filter BELOW the
    (doc, term) aggregation as a broadcast left-semi join on the
    token table — with only ``tf`` the filter is a join ABOVE the
    aggregate, which a Catalyst filter cannot replace (joins don't
    push through aggregation), so the full corpus agg evaluates with
    values first (~3× the pruned cost; measured 2.0 → 0.9 s on the
    rm3 gate stage at sf0.1).  ``tf`` remains the right input for a
    PERSISTED index, where value evaluation is a parquet scan, not a
    tokenize.  RM1 is an ORDER-DEPENDENT double sum feeding
    a DISCRETE cut, so it is rounded to 4 dp BEFORE ranking and
    interpolation (the aggregate tier of the engine's float
    discipline — a 6 dp quantization of an order-dependent sum keeps
    a last-ulp knife edge that would flip the selected TERM SET
    cross-engine, not just a list tail)."""
    if not queries:
        raise ValueError("rm3_expand: empty query set")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]; got {lam}")
    if tf is None and docs is None:
        raise ValueError("rm3_expand: need tf or docs")
    if tf is not None and "__dl" not in tf.columns:
        raise ValueError(
            "rm3_expand: tf must carry __dl (the inline-shaped term "
            "table bm25_scored builds)"
        )
    spark = (tf if tf is not None else docs).sparkSession
    wq = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("__d").asc()
    )
    # P(d) denominator Σ score over the ≤fb_docs feedback docs rides
    # the SAME query-keyed window pass as the rank cut (__stot per
    # row), so it needs no separate aggregate + broadcast build — each
    # broadcast exchange is a serialized driver job in local mode.
    # NOT named __S: Spark resolves column names CASE-INSENSITIVELY,
    # so withColumn("__S") would silently REPLACE __s (the round-8
    # 5×-inflated-RM1 bug)
    wqs = Window.partitionBy("query_id")
    fb = (
        scored.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= fb_docs)
        .select("query_id", "__d", F.col(score_col).alias("__s"))
        .withColumn("__stot", F.sum("__s").over(wqs))
    )
    # term distributions of ONLY the feedback docs: when docs is in
    # hand, aggregate ONLY their tokens (doc filter below the agg);
    # the persisted-index path joins the tf table directly
    if docs is not None:
        fbtf = inline_tf(
            docs, id_col=id_col, text_col=text_col,
            doc_filter=fb.select("__d"),
        )
    else:
        fbtf = tf
    ft = fbtf.join(F.broadcast(fb), "__d")
    rm1 = (
        ft.groupBy("query_id", "term")
        .agg(
            F.sum(
                F.col("tf").cast("double") / F.col("__dl") * F.col("__s")
            ).alias("__num"),
            F.max("__stot").alias("__stot"),
        )
        .select(
            "query_id", "term",
            F.round(F.col("__num") / F.col("__stot"), 4).alias("__rm1"),
        )
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("__rm1").desc(), F.col("term").asc()
    )
    top = rm1.withColumn("__tr", F.row_number().over(wt)).where(
        F.col("__tr") <= fb_terms
    ).select("query_id", "term", "__rm1")
    orig_rows = sorted({
        (qid, t)
        for qid, q in queries.items()
        for t in {x for x in q.split(" ") if x}
    })
    n_orig = {qid: len({x for x in q.split(" ") if x})
              for qid, q in queries.items()}
    orig = spark.createDataFrame(
        [(qid, t, lam * (1.0 / n_orig[qid])) for qid, t in orig_rows],
        "query_id string, term string, __w double",
    )
    # interpolation as union + one keyed sum instead of a full-outer
    # join (an SMJ costs two sort exchanges on these tiny sides): each
    # (query, term) has at most TWO addends — λ·P(t|Q) and
    # (1−λ)·RM1(t) — and a two-operand IEEE add is order-independent,
    # so round(sum) is bit-identical to the joined expression
    parts = top.select(
        "query_id", "term",
        (F.lit(1.0 - float(lam)) * F.col("__rm1")).alias("__w"),
    ).unionByName(orig)
    return (
        parts.groupBy("query_id", "term")
        .agg(F.round(F.sum("__w"), 6).alias("weight"))
        .where(F.col("weight") > 0)
    )


def bm25_search_weighted(
    docs: DataFrame | None,
    qterms: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    tf: DataFrame | None = None,
    n_docs: int | None = None,
    avgdl: float | None = None,
    vocab: list[str] | None = None,
) -> DataFrame:
    """Top ``top_n`` docs per query under a WEIGHTED term query —
    ``score(d) = Σ_t w_t · bm25_t(d)`` over an in-plan
    ``[query_id, term, weight]`` table (what :func:`rm3_expand`
    emits) — ``[query_id, doc_id, score, n_hit]``.  The plain
    :func:`bm25_search` is the ``w ≡ 1`` special case with a
    driver-side literal query set; this variant takes the query table
    as a DataFrame because expansion terms are NOT known driver-side
    (the whole RM3 pipeline stays lazy).

    Same scale shape as :func:`bm25_scored`, with the query-vocab
    ``isin`` filter replaced by an equi-join against the broadcast
    term table (the vocabulary is in-plan); the final score rounds to
    4 dp (an aggregate of an aggregate — the engine's aggregate
    rounding tier).  Pass ``tf`` (an inline-shaped term table with
    ``__dl``) to reuse an already-built one, and ``n_docs``/``avgdl``
    (two scalars — collect them ONCE from the corpus-stats scan a
    first pass already ran) to skip re-scanning docs for stats: a
    second-pass caller (RM3 serving) should pay zero corpus-stats
    work here.  ``vocab`` (a literal term list — callers whose
    expansion table is BOUNDED collect it, the knn_ivfpq prune_scan
    pattern) turns the vocabulary filter into a plain scan-pushable
    isin below the aggregation and skips the query-lineage
    checkpoint; omit it for unbounded in-plan expansion tables."""
    if docs is None and tf is None:
        raise ValueError("bm25_search_weighted: need docs or tf")
    stat_cols = None
    if n_docs is not None and avgdl is not None:
        # known scalars → literals: no stats scan, no 1-row broadcast
        # build (a serialized driver job in local mode)
        stats = None
        stat_cols = [
            F.lit(int(n_docs)).alias("n_docs"),
            F.lit(float(avgdl)).alias("avgdl"),
        ]
    elif docs is not None:
        stats = docs.where(F.col(text_col).isNotNull()).select(
            F.size(tokens(F.col(text_col))).cast("long").alias("dl")
        ).agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    else:
        lens = tf.groupBy("__d").agg(F.max("__dl").alias("dl"))
        stats = lens.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    # the weighted-query table feeds TWO broadcast builds (vocab +
    # scoring join); when it arrives with an expensive lineage (RM3's
    # expansion pipeline includes a corpus join) each build re-runs
    # it — checkpoint the query-sized frame once (measured ~10% off
    # the rm3 stage at sf0.1; the smallest-post-aggregation rule)
    q = qterms.select("query_id", "term", "weight")
    if vocab is None:
        # in-plan expansion lineage: checkpoint the query-sized frame
        # once against its two broadcast consumers (measured ~10% off
        # the rm3 stage at sf0.1; the smallest-post-aggregation rule)
        q = q.localCheckpoint(eager=False)
    vocab_lazy = q.select("term").distinct()
    # ONE corpus pass serves both df counting and scoring: the
    # vocab-joined term table is df-bounded (query-vocabulary rows,
    # never the corpus), so the lazy checkpoint is the smallest-post-
    # aggregation materialization the measured rule wants — without
    # it dfreq and the scoring join each re-run the full tokenize.
    # (A term-keyed window df over the same frame measured ~15%
    # SLOWER than this shape at sf0.1 — the window's sort exchange
    # costs more than the tiny dfreq broadcast.)  With docs in hand
    # the in-plan vocabulary pushes BELOW the (doc, term) aggregation
    # (broadcast left-semi on the token table — a join above the agg
    # cannot push through it, so the full corpus agg would evaluate
    # with values at ~3× the pruned cost; the round-8 rm3 finding);
    # a prebuilt tf joins above as before (persisted indexes prune by
    # term at the scan).
    # with a DRIVER-KNOWN vocabulary (the knn_ivfpq prune_scan
    # pattern — callers whose expansion table is bounded collect it)
    # the filter is a literal isin: a plain predicate below the agg,
    # no semi-join build, and no checkpoint needed (the query lineage
    # is a local relation, nothing expensive re-runs)
    if vocab is not None and docs is not None:
        hits = inline_tf(
            docs, id_col=id_col, text_col=text_col, vocab=vocab
        )
    elif docs is not None:
        hits = inline_tf(
            docs, id_col=id_col, text_col=text_col, vocab_df=vocab_lazy
        ).localCheckpoint(eager=False)
    elif vocab is not None:
        # prebuilt tf + literal vocab: same prune_scan promise as the
        # docs path — a plain isin predicate (term-sorted persisted
        # indexes prune row groups on it), no semi-join build, and q
        # was correctly left un-checkpointed above (falling through to
        # the broadcast(vocab_lazy) join here would re-run q's lineage
        # per broadcast consumer — the round-8 advice finding)
        hits = tf.where(F.col("term").isin(vocab)).localCheckpoint(
            eager=False
        )
    else:
        hits = tf.join(F.broadcast(vocab_lazy), "term").localCheckpoint(
            eager=False
        )
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    # weights and df are both term-keyed query-vocabulary-sized sides:
    # pre-join them so the scoring pass pays ONE broadcast build (the
    # inner q ⋈ dfreq join rides inside that build's job)
    qd = q.join(dfreq, "term")
    scored = hits.join(F.broadcast(qd), "term")
    if stats is not None:
        scored = scored.crossJoin(F.broadcast(stats))
    else:
        scored = scored.select("*", *stat_cols)
    scored = (
        scored
        .groupBy("query_id", "__d")
        .agg(
            F.round(
                F.sum(
                    F.col("weight")
                    * bm25_weight(
                        F.col("tf"), F.col("df"), F.col("n_docs"),
                        F.col("__dl"), F.col("avgdl"), k1=k1, b=b,
                    )
                ),
                4,
            ).alias("score"),
            F.count("*").alias("n_hit"),
        )
    )
    return topk_cut(scored, score_col="score", id_col=id_col, top_n=top_n)


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_cols: list[str] | None = None,
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists —
    the standard score-free hybrid-retrieval combiner (e.g.
    :func:`bm25_search` ∪ ``knn.knn_*`` top-k): each list contributes
    ``1/(k + rank)`` per (query, doc), summed; higher is better.

    ``score_cols[i]`` names list i's descending-sort score column
    (default: every list uses ``score``).  Ranks are computed per
    query WITHIN each list by a keyed window (ties broken on id, so
    fusion is deterministic), lists union, and one aggregation fuses —
    every exchange is keyed by query, nothing global.  Returns
    ``[query_col, id_col, rrf, n_lists]`` cut to ``top_n`` per query
    (ties on id)."""
    if not rankings:
        raise ValueError("rrf_fuse: no rankings")
    if score_cols is None:
        score_cols = ["score"] * len(rankings)
    if len(score_cols) != len(rankings):
        raise ValueError(
            f"rrf_fuse: {len(score_cols)} score_cols for "
            f"{len(rankings)} rankings"
        )
    parts = []
    for df, sc in zip(rankings, score_cols):
        w = Window.partitionBy(query_col).orderBy(
            F.col(sc).desc(), F.col(id_col).asc()
        )
        parts.append(
            df.select(
                query_col,
                id_col,
                (F.lit(1.0) / (F.lit(k) + F.row_number().over(w)))
                .alias("__contrib"),
            )
        )
    both = parts[0]
    for p in parts[1:]:
        both = both.unionByName(p)
    fused = both.groupBy(query_col, id_col).agg(
        F.round(F.sum("__contrib"), 8).alias("rrf"),
        F.count("*").cast("long").alias("n_lists"),
    )
    wq = Window.partitionBy(query_col).orderBy(
        F.col("rrf").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= top_n)
        .drop("__rn")
    )


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 10,
    grade_col: str | None = None,
) -> DataFrame:
    """Ranking-quality metrics per query against relevance judgments
    (``qrels``: one row per relevant (query, doc)):
    ``precision_at_k``, ``recall_at_k``, ``mrr`` (reciprocal rank of
    the first relevant hit), and ``ndcg_at_k`` — the standard eval
    harness for :func:`bm25_search` / ANN / :func:`rrf_fuse` outputs.

    ``grade_col`` switches nDCG to GRADED relevance: it names an
    integer/double column in ``qrels`` and gains use the exponential
    form ``(2^grade − 1) / log2(rank + 1)`` with the ideal DCG from
    each query's grades sorted descending and cut at k (grade 1
    everywhere reproduces the binary metric exactly).  The set-based
    metrics (precision/recall/mrr) stay binary — a qrels row with
    grade ≤ 0 counts as not relevant for them, contributes zero gain,
    and is excluded from recall's denominator (graded qrels commonly
    carry explicit grade-0 judgments); negative grades clamp to 0.  A
    query whose judgments are ALL grade-0 surfaces NULL recall/ndcg
    (undefined: nothing relevant exists).  Default ``None`` keeps the
    historical binary nDCG.

    One keyed window ranks each query's results (ties on id, matching
    the searchers' cut order), a LEFT join marks relevance, one
    aggregation computes the metrics, and the per-query totals (count
    and ideal DCG) come from a broadcastable qrels aggregation —
    everything keyed by query; the graded ideal-DCG window is over
    qrels only, never results.  Queries with no qrels row are dropped
    (undefined recall); rounded to 6 dp."""
    import math

    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = results.withColumn("__rank", F.row_number().over(w)).where(
        F.col("__rank") <= k
    )
    grade = (
        F.col(grade_col).cast("double") if grade_col is not None
        else F.lit(1.0)
    )
    rel = qrels.select(
        query_col,
        id_col,
        (grade > 0).alias("__rel"),
        # clamp at 0: a negative grade would yield NEGATIVE gain
        # (2^g − 1 < 0) and corrupt both DCG and the ideal
        F.greatest(grade, F.lit(0.0)).alias("__g"),
    )
    marked = ranked.join(rel, [query_col, id_col], "left").select(
        query_col,
        "__rank",
        F.coalesce("__rel", F.lit(False)).alias("__rel"),
        F.coalesce("__g", F.lit(0.0)).alias("__g"),
    )
    gain = F.pow(F.lit(2.0), F.col("__g")) - F.lit(1.0)
    if grade_col is None:
        totals = qrels.groupBy(query_col).agg(
            F.count("*").alias("__n_rel")
        )
        # ideal DCG for n relevant docs cut at k: sum of 1/log2(i+1)
        idcg = F.lit(0.0)
        for i in range(1, k + 1):
            idcg = idcg + F.when(
                F.least(F.col("__n_rel"), F.lit(k)) >= i,
                F.lit(1.0 / math.log2(i + 1)),
            ).otherwise(F.lit(0.0))
    else:
        # ideal DCG from the query's grades sorted DESC, cut at k —
        # a qrels-sized keyed window, then one aggregation
        wg = Window.partitionBy(query_col).orderBy(
            F.col("__g").desc(), F.col(id_col).asc()
        )
        totals = (
            rel.withColumn("__i", F.row_number().over(wg))
            .groupBy(query_col)
            .agg(
                # recall's denominator counts RELEVANT judgments only:
                # graded qrels commonly carry explicit grade-0 rows
                F.sum(F.col("__rel").cast("int")).alias("__n_rel"),
                F.sum(
                    F.when(
                        F.col("__i") <= k,
                        (F.pow(F.lit(2.0), F.col("__g")) - F.lit(1.0))
                        / F.log2(F.col("__i") + 1),
                    ).otherwise(F.lit(0.0))
                ).alias("__idcg"),
            )
        )
        idcg = F.col("__idcg")
    per_q = (
        marked.groupBy(query_col)
        .agg(
            F.sum(F.col("__rel").cast("int")).alias("__hits"),
            F.min(F.when(F.col("__rel"), F.col("__rank"))).alias("__first"),
            F.sum(
                F.when(
                    F.col("__rel"),
                    gain / F.log2(F.col("__rank") + 1),
                ).otherwise(F.lit(0.0))
            ).alias("__dcg"),
        )
        .join(F.broadcast(totals), query_col)
    )
    return per_q.select(
        query_col,
        F.round(F.col("__hits") / k, 6).alias("precision_at_k"),
        # try_divide: all-grade-0 queries have n_rel = idcg = 0 and
        # surface NULL (ANSI division would throw)
        F.round(
            F.try_divide(F.col("__hits"), F.col("__n_rel")), 6
        ).alias("recall_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(F.try_divide(F.col("__dcg"), idcg), 6).alias("ndcg_at_k"),
    )


# --- Late-interaction (multi-vector) retrieval ----------------------------

def _norm_rows(m):
    """Row-normalize; zero-norm rows become zero vectors (they then
    contribute 0 similarity instead of NaN — the engine-wide zero-norm
    discipline, see functions.vectors.cosine_similarity)."""
    import numpy as np

    n = np.sqrt((m * m).sum(axis=1, keepdims=True))
    return np.where(n > 0, m / np.where(n > 0, n, 1.0), 0.0)


def _seq_dot(a, b):
    """a @ b.T with STRICTLY SEQUENTIAL per-cell summation:
    ``cumsum(...)[..., -1]`` instead of BLAS — bit-identical results
    for a (doc, query) pair regardless of how rows are batched, which
    is what makes the per-batch local top-k partition-layout
    independent (numpy's matmul/sum change association with matrix
    shape; the pq._adc_luts rule)."""
    import numpy as np

    return np.cumsum(a[:, None, :] * b[None, :, :], axis=-1)[..., -1]


def _maxsim_schema(docs, id_col, queries, qid_col) -> str:
    """Output schema carrying the NATIVE id types of both sides —
    string doc ids (web corpora) and int ids flow through unchanged;
    the total order (−score, id) is well-defined for both (python /
    numpy / pandas / Spark all order strings by Unicode code point =
    UTF-8 byte order, so local and global top-k agree)."""
    did = docs.schema[id_col].dataType.simpleString()
    qid = queries.schema[qid_col].dataType.simpleString()
    for name, t in (("doc", did), ("query", qid)):
        if t.startswith(("array", "map", "struct")):
            raise ValueError(f"maxsim: {name} id must be scalar, got {t}")
    return f"qid {qid}, doc_id {did}, score double"


def _topk_by_score_id(pdf, n: int):
    """Local top-n under the (−score, doc_id) TOTAL order — the shared
    ``operators.topk`` kernel, so the local prune can never disagree
    with the global window; works for int AND string ids (lexsort
    would choke on object dtype)."""
    from cosmap_spark.operators.topk import topk_pandas

    return topk_pandas(pdf, [], [("score", False), ("doc_id", True)], n)


def maxsim_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "doc_id",
    vecs_col: str = "tvecs",
    qid_col: str = "qid",
    qvecs_col: str = "tvecs",
    normalize: bool = True,
    batch_k: int | None = None,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval: per query, the top-k
    documents under the MaxSim score

        score(q, d) = Σ_{i ∈ q tokens} max_{j ∈ d tokens} ⟨qᵢ, dⱼ⟩

    over MULTI-VECTOR representations (Khattab & Zaharia, SIGIR 2020)
    — ``docs``/``queries`` carry one row per item with
    ``array<array<double>>`` token embeddings, the same opaque-column
    plumbing as the multimodal operators.

    Scale shape (the ADC-scorer discipline): the query token matrix is
    driver-resident and ships ONCE in the kernel closure (queries are
    query-sized by contract); the corpus streams through ONE
    ``mapInPandas`` pass that scores every batch fully vectorized and
    emits only a per-batch LOCAL top-``batch_k`` per query under the
    TOTAL order (−score, doc_id) — so the only exchange is
    O(partitions·|Q|·k) rows into the final per-query rank window,
    never corpus-sized.  Dot products use
    strictly sequential summation (:func:`_seq_dot`), so a pair's
    score is bit-identical under any partition layout and the local
    prune can never disagree with the global window (the repo's
    local-top-k rule).

    ``normalize=True`` row-normalizes both sides (cosine MaxSim);
    zero-norm tokens contribute 0.  Documents with no tokens are never
    retrieved (MaxSim over an empty set is undefined); NULL token
    arrays are skipped.  At 100 TB run the ANN stage first and
    re-rank its shortlist with :func:`maxsim_rerank` — this function
    is the exact full-corpus scorer (small corpora, oracles,
    recall measurement).  ``batch_k`` widens the per-batch local
    top-k (never narrows: values below ``k`` would drop global
    winners, so it clamps to ``k``).  ``k`` must be an int >= 1.

    The query set is collected at construction (one driver job): an
    empty set or a token-less query raises there.  Query sets too
    large for the closure belong to :func:`maxsim_rerank`, whose
    joins are all equi-joins and which never collects queries.  Ids
    (doc and query) may be any scalar type — string ids flow through
    natively."""
    import numpy as np
    import pandas as pd

    require_int("k", k)
    # batch_k is a WIDEN-ONLY knob (more local candidates per batch =
    # more tie headroom); below k it would prune global winners and
    # make results layout-dependent, so it clamps
    n_short = max(k, batch_k) if batch_k else k
    out_schema = _maxsim_schema(docs, id_col, queries, qid_col)

    qrows = queries.select(qid_col, qvecs_col).collect()
    if not qrows:
        raise ValueError("maxsim_topk: empty query set")
    qids = [r[qid_col] for r in qrows]
    qmats = []
    for r in qrows:
        toks = r[qvecs_col] or []
        if not toks:
            raise ValueError(f"maxsim_topk: query {r[qid_col]} has no tokens")
        qmats.append(np.asarray(toks, dtype=np.float64))
    dim = qmats[0].shape[1]
    if any(m.shape[1] != dim for m in qmats):
        raise ValueError("maxsim_topk: query token dims differ")
    qmat = np.concatenate(qmats, axis=0)
    if normalize:
        qmat = _norm_rows(qmat)
    # column group boundaries per query for the reduceat sum
    qstarts = np.cumsum([0] + [m.shape[0] for m in qmats])[:-1]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks = pdf[vecs_col].tolist()
            ids = pdf[id_col].to_numpy()
            keep = [
                i for i, t in enumerate(toks) if t is not None and len(t)
            ]
            if not keep:
                continue
            # Arrow hands array<array<double>> cells over as object
            # arrays of ndarrays — stack element-wise, asarray chokes
            mats = [
                np.stack(
                    [np.asarray(t, dtype=np.float64) for t in toks[i]]
                )
                for i in keep
            ]
            if any(m.shape[1] != dim for m in mats):
                raise ValueError(
                    f"maxsim_topk: doc token dim != query dim {dim}"
                )
            dmat = np.concatenate(mats, axis=0)
            if normalize:
                dmat = _norm_rows(dmat)
            sims = _seq_dot(dmat, qmat)            # (Σt_d, T_all)
            dstarts = np.cumsum([0] + [m.shape[0] for m in mats])[:-1]
            per_doc = np.maximum.reduceat(sims, dstarts, axis=0)
            scores = np.add.reduceat(per_doc, qstarts, axis=1)
            kept_ids = ids[keep]
            outs = []
            top = min(n_short, scores.shape[0])
            for qi, q in enumerate(qids):
                outs.append(
                    _topk_by_score_id(
                        pd.DataFrame({
                            "qid": [q] * len(kept_ids),
                            "doc_id": kept_ids,
                            "score": scores[:, qi],
                        }),
                        top,
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    partial = docs.select(id_col, vecs_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select("qid", "doc_id", F.round("score", 6).alias("score"), "rn")
    )


def maxsim_rerank(
    shortlist: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    vecs_col: str = "tvecs",
    qid_col: str = "qid",
    qvecs_col: str = "tvecs",
    normalize: bool = True,
) -> DataFrame:
    """MaxSim-score an ANN SHORTLIST — the 100 TB serving shape for
    late interaction: a cheap first stage (e.g. ``knn.knn_lsh`` /
    ``pq.knn_ivfpq`` over pooled single vectors) nominates
    ``(qid, doc_id)`` candidates, and only THOSE documents' token
    matrices are scored (one equi-join on ``doc_id`` prunes the token
    corpus; the scored frame is shortlist-sized — |Q|·k rows — never
    corpus-sized).  Returns ``[qid, doc_id, score, rn]`` re-ranked by
    exact MaxSim with the same zero-norm/sequential-sum contract as
    :func:`maxsim_topk` (equality on the overlap pinned in
    tests/test_retrieval.py).

    The query token table joins the candidate frame by a second
    EQUI-join on qid, so queries never reach the driver, |Q| is
    unbounded, and construction runs zero driver jobs (pinned in
    tests).  A shortlist row whose qid has no query row is dropped by
    that join.  A query with no tokens raises when its candidates are
    scored, not at construction.  Ids (doc and query) may be any
    scalar type — string ids flow through natively."""
    import numpy as np
    import pandas as pd

    out_schema = _maxsim_schema(docs, id_col, queries, qid_col)
    cand = (
        shortlist.select(
            F.col(qid_col).alias("qid"), F.col(id_col).alias("doc_id")
        )
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(vecs_col).alias("__tv")
            ),
            "doc_id",
        )
        .join(
            queries.select(
                F.col(qid_col).alias("qid"), F.col(qvecs_col).alias("__qv")
            ),
            "qid",
        )
    )

    def as_matrix(toks):
        m = np.stack([np.asarray(t, dtype=np.float64) for t in toks])
        return _norm_rows(m) if normalize else m

    def kernel(batches):
        # shortlist-sized input: a python loop over rows is bounded by
        # |Q|·k, the documented imperative exception (per-row matrices
        # are tokens×dim — tiny)
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_d, out_s = [], [], []
            for q, d, tv, qv in zip(
                pdf["qid"], pdf["doc_id"], pdf["__tv"], pdf["__qv"]
            ):
                if qv is None or not len(qv):
                    raise ValueError(f"maxsim_rerank: query {q} has no tokens")
                if tv is None or not len(tv):
                    continue
                sims = _seq_dot(as_matrix(tv), as_matrix(qv))
                # SEQUENTIAL sum over query tokens (cumsum), exactly
                # like maxsim_topk's np.add.reduceat: numpy .sum()
                # switches to pairwise past 8 elements and the two
                # operators' scores would drift by ulps on real
                # (>8-token) queries, breaking the pinned full-scan ≡
                # rerank equality (CLAUDE.md sequential-sum rule)
                out_q.append(q)
                out_d.append(d)
                out_s.append(float(np.cumsum(sims.max(axis=0))[-1]))
            if out_q:
                yield pd.DataFrame(
                    {"qid": out_q, "doc_id": out_d, "score": out_s}
                )

    scored = cand.mapInPandas(kernel, out_schema)
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).select("qid", "doc_id", F.round("score", 6).alias("score"), "rn")


def maxsim_rerank_pruned(
    shortlist: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    prune_k: int,
    id_col: str = "doc_id",
    vecs_col: str = "tvecs",
    qid_col: str = "qid",
    qvecs_col: str = "tvecs",
    normalize: bool = True,
) -> DataFrame:
    """Centroid-pruned two-stage MaxSim rerank — the PLAID-shaped
    serving path (Santhanam et al., CIKM 2022: prune candidates with
    centroid-level approximations before exact late-interaction
    scoring): the ANN shortlist is first cut to the top ``prune_k``
    docs per query by a CHEAP centroid proxy, and only the survivors
    pay :func:`maxsim_rerank`'s exact token-matrix scoring — the
    third stage of ANN → centroid prune → exact MaxSim.

    The proxy reuses the IVF coarse quantizer's state the index
    already persists (``knn.ivf_build``'s ``assigned`` ``[nid, cid]``
    + driver-resident ``centroids``): with one centroid per doc,
    ``approx(q, d) = Σ_i ⟨q̂ᵢ, ĉ(d)⟩ = ⟨Σ_i q̂ᵢ, ĉ(d)⟩`` — the
    per-query SUMMED (normalized) token vector dotted with the doc's
    (normalized) centroid, one in-plan array dot per shortlist row.
    Matters once |Q|·k·tokens is the serving bottleneck: exact
    scoring cost drops by shortlist/prune_k while the proxy pass
    touches no token matrix at all.

    Plan contract: every join stays EQUI (shortlist ⋈ assigned on doc
    id; broadcast centroid frame on cid; the exact stage's doc/qid
    equi-joins), the prune window is query-keyed, and construction
    runs zero driver jobs (the query sum is computed in-plan on the
    query-sized frame — higher-order functions, no collect).  With
    ``prune_k`` ≥ the per-query shortlist size the result is
    bit-identical to the unpruned :func:`maxsim_rerank` (pinned in
    tests); smaller ``prune_k`` trades recall for cost, with the
    recall differential pinned on a clustered fixture.

    Proxy resolution — size ``prune_k`` accordingly: one centroid per
    DOC discriminates BETWEEN clusters, not within one (every doc of
    a cluster shares the same proxy score; ties fall to doc id), so
    ``prune_k`` must exceed the expected count of same-cluster
    candidates in the shortlist — the proxy's job is dropping
    other-cluster noise cheaply, the exact stage ranks within the
    cluster.  Full PLAID sharpens this with per-TOKEN centroid bags;
    that needs a token-level quantizer the pooled IVF index does not
    persist.  A shortlist doc missing from ``assigned`` is dropped by
    the inner join — refusing silently-unindexed docs is the safe
    default (they were nominated by the same index)."""
    import math

    require_int("prune_k", prune_k)
    if not centroids:
        raise ValueError("maxsim_rerank_pruned: empty centroid list")
    spark = shortlist.sparkSession
    crows = []
    for cid, vec in centroids:
        if normalize:
            n = math.sqrt(sum(float(x) * float(x) for x in vec))
            vec = [float(x) / n if n > 0 else 0.0 for x in vec]
        crows.append((int(cid), [float(x) for x in vec]))
    cframe = spark.createDataFrame(
        crows, "cid long, __cn array<double>"
    )
    # per-query summed (optionally normalized) token vector, in-plan:
    # queries are query-sized by contract, so the interpreted HOF cost
    # (the per-element norm re-evaluation Spark's no-CSE-in-lambdas
    # rule implies) is bounded; zero-norm tokens contribute 0 (the
    # maxsim contract)
    zero = F.transform(
        F.element_at(F.col(qvecs_col), 1), lambda x: x * 0.0
    )

    def _step(acc, t):
        if not normalize:
            return F.zip_with(acc, t, lambda a, x: a + x)
        n = F.sqrt(F.aggregate(t, F.lit(0.0), lambda a, x: a + x * x))
        return F.zip_with(
            acc, t,
            lambda a, x: a + F.when(n > 0, x / n).otherwise(F.lit(0.0)),
        )

    qsum = queries.select(
        F.col(qid_col).alias("qid"),
        F.aggregate(F.col(qvecs_col), zero, _step).alias("__qs_raw"),
    )
    approx = (
        shortlist.select(
            F.col(qid_col).alias("qid"), F.col(id_col).alias("doc_id")
        )
        .join(
            assigned.select(F.col("nid").alias("doc_id"), "cid"),
            "doc_id",
        )
        .join(F.broadcast(cframe), "cid")
        .join(F.broadcast(qsum), "qid")
        .select(
            "qid", "doc_id",
            F.aggregate(
                F.zip_with(
                    F.col("__qs_raw"), F.col("__cn"),
                    lambda a, b: a * b,
                ),
                F.lit(0.0), lambda a, x: a + x,
            ).alias("__approx"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("__approx").desc(), F.col("doc_id").asc()
    )
    pruned = (
        approx.withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= prune_k)
        .select(F.col("qid").alias(qid_col), F.col("doc_id").alias(id_col))
    )
    return maxsim_rerank(
        pruned, docs, queries,
        id_col=id_col, vecs_col=vecs_col, qid_col=qid_col,
        qvecs_col=qvecs_col, normalize=normalize,
    )


def _norm_tokens(col, normalize: bool):
    """Row-normalize each token vector of an ``array<array<double>>``
    column in-plan (zero-norm tokens → zero vectors, the maxsim
    contract).  The norm is BOUND once per token via the
    single-element-array + transform trick — referenced inside the
    per-element lambda it would re-run its O(dim) aggregate per
    element, twice (the no-CSE-in-lambdas rule: an O(dim²)-per-token
    blowup over the whole corpus in maxsim_token_quantizer — the
    round-9 review finding)."""
    if not normalize:
        return col

    def one(t):
        return F.element_at(
            F.transform(
                F.array(
                    F.sqrt(F.aggregate(t, F.lit(0.0),
                                       lambda a, x: a + x * x))
                ),
                lambda n: F.transform(
                    t,
                    lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0)),
                ),
            ),
            1,
        )

    return F.transform(col, one)


def maxsim_token_quantizer(
    docs: DataFrame,
    *,
    nlist: int = 16,
    id_col: str = "doc_id",
    vecs_col: str = "tvecs",
    normalize: bool = True,
    iters: int = 1,
    seed: int = 29,
    seeding: str = "hash",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Train a TOKEN-level coarse quantizer for full-PLAID MaxSim
    pruning (Santhanam et al., CIKM 2022: candidate scoring against
    per-token centroid ids): the corpus token vectors (exploded,
    optionally normalized — train with the SAME ``normalize`` the
    serving call will use) go through ``knn.ivf_build``, and each
    document keeps its BAG — the sorted distinct centroid ids its
    tokens quantize to.  Returns ``(centroids, bags)`` with ``bags =
    [nid, bag array<int>]``; persist beside the index with
    ``index_store.save_token_bags``.

    This is the resolution the pooled proxy
    (:func:`maxsim_rerank_pruned`) documents as its limit: one
    centroid per DOC discriminates between clusters only, while the
    bag preserves each doc's token-level composition — the
    within-cluster signal (differential pinned on a cluster-dense
    shortlist where the pooled proxy degenerates to doc-id ties).

    Cost/scale: training is ``ivf_build`` over O(corpus tokens) rows
    (one-time, like any quantizer training); the bag table is one
    ``collect_set`` aggregation on the assignment — O(docs) rows of
    ≤ min(tokens, nlist) ints, tiny beside the token matrices."""
    from cosmap_spark.operators.knn import ivf_build

    require_int("nlist", nlist)
    tok = docs.where(F.col(vecs_col).isNotNull()).select(
        F.col(id_col).alias("__did"),
        F.posexplode(_norm_tokens(F.col(vecs_col), normalize))
        .alias("__pos", "__t"),
    ).select(
        # composite token id: unique, deterministic, hashable by
        # ivf_build's seed sampler for any scalar doc-id type
        F.concat(F.col("__did").cast("string"), F.lit("\x1f"),
                 F.col("__pos").cast("string")).alias("tok_id"),
        "__did", "__t",
    )
    cents, assigned = ivf_build(
        tok, nlist=nlist, iters=iters, id_col="tok_id", vec_col="__t",
        seed=seed, seeding=seeding,
    )
    bags = (
        assigned.select(F.col("nid").alias("tok_id"), "cid")
        .join(tok.select("tok_id", "__did"), "tok_id")
        .groupBy("__did")
        .agg(F.sort_array(F.collect_set("cid")).alias("bag"))
        .select(F.col("__did").alias("nid"), "bag")
    )
    return cents, bags


def maxsim_rerank_plaid(
    shortlist: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    bags: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    prune_k: int,
    id_col: str = "doc_id",
    vecs_col: str = "tvecs",
    qid_col: str = "qid",
    qvecs_col: str = "tvecs",
    normalize: bool = True,
) -> DataFrame:
    """Token-level centroid-pruned MaxSim rerank — full PLAID: the ANN
    shortlist is cut to the top ``prune_k`` docs per query by

        approx(q, d) = Σ_i max_{c ∈ bag(d)} ⟨q̂ᵢ, ĉ⟩

    (each query token scored against the doc's token-CENTROID bag from
    :func:`maxsim_token_quantizer`), and only the survivors pay
    :func:`maxsim_rerank`'s exact token-matrix scoring.  Strictly
    sharper than the pooled proxy of :func:`maxsim_rerank_pruned`:
    approx preserves per-token structure, so it discriminates WITHIN a
    cluster (the pooled proxy's documented resolution limit — pinned
    by a cluster-dense-shortlist differential the pooled proxy fails).

    Plan contract (the pruned-rerank discipline, plan-gated in tests):
    all equi-joins — shortlist ⋈ bags on doc id, the per-query
    sim-table broadcast on qid — zero driver jobs at construction, and
    the proxy touches no token MATRIX: the doc side contributes only
    its ≤ min(tokens, nlist)-int bag.  Per query the similarity table
    ⟨q̂ᵢ, ĉ⟩ is computed in-plan (query ⨯ broadcast centroid frame —
    |Q|·nlist rows, query-sized by the maxsim contract) and rides a
    broadcast map keyed by centroid id; the per-row fold is
    higher-order functions only (element-wise max across the bag's
    sim rows, then a sequential sum — HOF ``aggregate`` is sequential
    by definition, the engine's dot-product determinism rule).  With
    ``prune_k`` ≥ the per-query shortlist size the result is
    bit-identical to the unpruned rerank (pinned).  A shortlist doc
    missing from ``bags`` is dropped by the inner join (the
    maxsim_rerank_pruned contract: silently-unindexed docs refuse)."""
    import math

    require_int("prune_k", prune_k)
    if not centroids:
        raise ValueError("maxsim_rerank_plaid: empty centroid list")
    spark = shortlist.sparkSession
    crows = []
    for cid, vec in centroids:
        if normalize:
            n = math.sqrt(sum(float(x) * float(x) for x in vec))
            vec = [float(x) / n if n > 0 else 0.0 for x in vec]
        crows.append((int(cid), [float(x) for x in vec]))
    cframe = spark.createDataFrame(crows, "cid int, __cn array<double>")

    # per (query, centroid): the per-token sim row ⟨q̂ᵢ, ĉ⟩ — a
    # query-sized ⨯ nlist frame, folded into one broadcast map per
    # query keyed by centroid id (array_sort pins collect_list's
    # partition-dependent order before map construction)
    qn = queries.select(
        F.col(qid_col).alias("qid"),
        _norm_tokens(F.col(qvecs_col), normalize).alias("__qt"),
    )
    qsims = qn.crossJoin(F.broadcast(cframe)).select(
        "qid", "cid",
        F.transform(
            "__qt",
            lambda t: F.aggregate(
                F.zip_with(t, F.col("__cn"), lambda a, b: a * b),
                F.lit(0.0), lambda a, x: a + x,
            ),
        ).alias("__sims"),
    )
    simmap = qsims.groupBy("qid").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("cid", "__sims")))
        ).alias("__sm")
    )

    arrs = F.transform(
        F.col("bag"), lambda c: F.element_at(F.col("__sm"), c)
    )
    folded = F.aggregate(
        F.slice(arrs, 2, F.greatest(F.size(arrs) - 1, F.lit(0))),
        F.element_at(arrs, 1),
        lambda acc, a: F.zip_with(acc, a, lambda x, y: F.greatest(x, y)),
    )
    # the bag table is corpus-sized; the shortlist is query·k-sized by
    # contract — broadcast it so the bags stream through one hash probe
    # (an unhinted join plans SMJ pre-AQE: a corpus-wide sort for a
    # shortlist lookup)
    approx = (
        bags.select(F.col("nid").alias("doc_id"), "bag")
        .join(
            F.broadcast(shortlist.select(
                F.col(qid_col).alias("qid"), F.col(id_col).alias("doc_id")
            )),
            "doc_id",
        )
        .join(F.broadcast(simmap), "qid")
        .select(
            "qid", "doc_id",
            F.aggregate(folded, F.lit(0.0), lambda a, x: a + x)
            .alias("__approx"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("__approx").desc(), F.col("doc_id").asc()
    )
    pruned = (
        approx.withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= prune_k)
        .select(F.col("qid").alias(qid_col), F.col("doc_id").alias(id_col))
    )
    return maxsim_rerank(
        pruned, docs, queries,
        id_col=id_col, vecs_col=vecs_col, qid_col=qid_col,
        qvecs_col=qvecs_col, normalize=normalize,
    )
