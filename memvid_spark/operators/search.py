"""Lexical search operators: postings build, TF scoring, BM25, boolean AND.

Reference lineage:
- legacy lex scoring = occurrence count + 1000.0 phrase bonus, sort desc
  (src/lex.rs:264-296)
- BM25 via Tantivy TopDocs (src/search/tantivy/engine.rs:265-290)
- implicit-AND semantics (src/search/parser.rs:286-299,
  tests/test_implicit_and.rs)

Scale design (100 TB posture):
- ``build_postings`` is ONE shuffle (groupBy doc,token with map-side
  partial aggregation). At scale it would be written out partitioned/
  bucketed by ``token`` so query-time term lookups are pruned scans.
- Query terms are a tiny in-filter / broadcast — scoring never shuffles
  the corpus; only the per-doc score aggregation does (one groupBy on
  doc_id, map-side combinable).
- Top-k uses orderBy().limit(k) → Spark's TakeOrderedAndProject: per-
  partition heaps + driver merge of k rows, no full sort.
- Every ordering carries a total order (score DESC, doc_id ASC): Spark's
  sort is not stable across partitions, the reference is single-threaded
  (SURVEY §7 "per-row tie-breaking").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import pin_expr, sql_str, tokens, tokens_pinned

PHRASE_BONUS = 1000.0  # src/lex.rs:281 — phrase hit adds 1000.0
BM25_K1 = 1.2
BM25_B = 0.75


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: Sequence[str] | None = None,
) -> DataFrame:
    """(doc_id, token, tf) term-frequency postings derived from the corpus.

    Rebuildable from the content table exactly as memvid rebuilds its
    Tantivy index from the TOC (src/memvid/search/api.rs:1038-1106).

    ``vocab`` restricts to a term set *inside the array before explode* —
    for a query-time scoring pass only the query terms ever leave the
    tokenizer, so the exploded row count is O(matches), not O(corpus
    tokens). (Catalyst cannot push a post-explode filter back through
    the generator, so we do it structurally.)
    """
    toks = tokens(text_col)
    if vocab is not None:
        vset = F.array(*[F.lit(v) for v in sorted({t.lower() for t in vocab})])
        toks = F.filter(toks, lambda x: F.array_contains(vset, x))
    return (
        docs.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), F.size(tokens(text_col)).alias("dl"))


def lex_topk(
    docs: DataFrame,
    terms: Sequence[str],
    phrase: str | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Legacy lex scoring: total occurrences of query terms (+1000 if the
    exact phrase substring occurs), top-k. Only rows with score>0 rank.

    Plan shape (round 11): the tokenizer materializes ONCE per row via
    ``tokens_pinned`` and every per-term count reads the column —
    un-pinned, each term's occurrence count re-ran the full regex
    split (higher-order filter() is CodegenFallback, outside
    subexpression elimination), and the score>0 filter re-inlined the
    whole expression at the scan once more. The score column is pinned
    too so the filter stays above the projection instead of
    re-deriving the per-term array scans."""
    pre = docs.select(
        F.col(id_col), F.col(text_col), tokens_pinned(text_col).alias("_toks")
    )
    occ_sql = " + ".join(
        f"size(filter(_toks, x -> x = {sql_str(t.lower())}))" for t in terms
    )
    score = F.expr(f"CAST(({occ_sql}) AS DOUBLE)")
    if phrase:
        score = score + F.when(
            F.lower(F.col(text_col)).contains(phrase.lower()), F.lit(PHRASE_BONUS)
        ).otherwise(F.lit(0.0))
    return (
        pre.select(F.col(id_col), pin_expr(score).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def implicit_and_match(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs whose token set contains EVERY query term (implicit AND).

    The filter reads a pinned token column (one regex split per row);
    the un-pinned form re-tokenized once per term inside the pushed
    filter condition."""
    pre = docs.select(F.col(id_col), tokens_pinned(text_col).alias("_toks"))
    pred = None
    for t in terms:
        this = F.array_contains(F.col("_toks"), t.lower())
        pred = this if pred is None else (pred & this)
    return pre.filter(pred).select(F.col(id_col))


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Exact BM25 over the corpus for a bag of query terms.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  [Robertson/Lucene form]

    Plan shape (round 11, for query-sized term bags): ONE narrow corpus
    pass computes per-doc (dl, tf per term) as array expressions — no
    explode, no postings table, no join. A single scalar aggregation
    over that pass yields N, avgdl AND every per-term df together; one
    broadcast attach scores each doc in codegen and TakeOrdered keeps
    k. The previous shape (postings explode → broadcast df join →
    shuffle-join doc lengths → per-doc sum) shuffled the O(corpus)
    doc-length table per query and re-scanned the corpus three times
    (postings, lengths, N); at warehouse scale the lengths join alone
    was a full-corpus exchange. Large vocabularies (beyond query size)
    should use the postings-table form (``build_postings``), which
    scales with matches, not terms x tokens.

    Score equivalence: per-(doc, term) weights are the same IEEE
    expression over the same exact inputs (integer tf/dl/N/df, one
    avgdl double); the per-doc sum accumulates in fixed sorted-term
    order instead of hash-agg arrival order — same set of addends, so
    the 6-dp rounded score is unchanged (summation order was already
    engine-arbitrary between Spark and the oracle).
    """
    terms_lc = sorted({t.lower() for t in terms})
    if not terms_lc:
        # empty term bag: no doc matches (the postings form yielded an
        # empty frame here); keep the (id, score) schema
        return docs.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).filter(F.lit(False))
    # One pinned tokenize per row per scan (round 11): `dl` plus every
    # per-term tf reads the materialized `_toks` column. Un-pinned,
    # each of those (t+1) higher-order expressions re-ran the regex
    # split (CodegenFallback, no subexpression elimination), and the
    # pushed-down match filter re-inlined them again at the scan —
    # measured 8 split() evaluations per row for a 3-term query.
    pre = docs.select(
        F.col(id_col), tokens_pinned(text_col).alias("_toks")
    )
    # Wide per-term expression chains are single F.expr strings (round
    # 12): the stacked-Column construction of per/stats/score measured
    # ~0.2 s of py4j round trips per call; the strings parse JVM-side
    # in a few ms into the SAME expression trees (operator order and
    # literal values replicated exactly — k1+1, 1-b etc. are the same
    # Python-computed doubles via repr round-trip; the oracle
    # hash-match at both SFs pins the IEEE equivalence).
    # Per-term tf stays the higher-order filter form, NOT
    # size-diff-of-array_remove: a measured round-12 NEGATIVE result.
    # array_remove(tf) is 1.2-1.3x faster in steady state (it compiles;
    # the lambda runs interpreted) but its generated code JIT-warms
    # 2-3x SLOWER — fresh-session samples at the 10x corpus read
    # 85-100 / 30-66 / 8 cpu_s (s0/s1/s2) vs the fallback's 50 / 17-20
    # / 10-13 — and both the probe methodology (min of 2 early samples)
    # and a service's first-request latency live in the early samples.
    per = pre.select(
        F.col(id_col),
        F.expr("size(_toks) AS dl"),
        *[
            F.expr(
                f"size(filter(_toks, x -> x = {sql_str(tt)})) AS _tf{i}"
            )
            for i, tt in enumerate(terms_lc)
        ],
    )
    stats = per.agg(
        F.expr("count(1) AS n_docs"),
        F.expr("avg(dl) AS avgdl"),
        *[
            F.expr(f"sum(CAST((_tf{i} > 0) AS BIGINT)) AS _df{i}")
            for i in range(len(terms_lc))
        ],
    )
    wi_sqls = []
    for i in range(len(terms_lc)):
        idf = f"ln({1.0!r}D + (n_docs - _df{i} + 0.5D) / (_df{i} + 0.5D))"
        wi_sqls.append(
            f"(CASE WHEN _tf{i} > 0 THEN {idf} * (_tf{i} * {k1 + 1!r}D)"
            f" / (_tf{i} + {k1!r}D * ({1 - b!r}D + {b!r}D * dl / avgdl))"
            f" ELSE 0.0D END)"
        )
    score = F.expr(" + ".join(wi_sqls))
    # only docs containing >= 1 query term rank — exactly the rows the
    # postings form emitted (match on raw tf, not the rounded score, so
    # a sub-1e-6 positive score still ranks like before). The match
    # column is pinned so the filter reads the already-computed tf
    # attributes instead of being pushed below `per` (which would
    # re-derive every per-term array scan inside the filter).
    any_match = F.expr(
        " OR ".join(f"(_tf{i} > 0)" for i in range(len(terms_lc)))
    )
    scored = (
        per.select("*", pin_expr(any_match).alias("_hit"))
        .filter(F.col("_hit"))
        .drop("_hit")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.round(score, 6))
        .select(F.col(id_col), F.col("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def recency_boosted(
    hits: DataFrame,
    score_col: str = "score",
    ts_col: str = "ts_days",
    half_life_days: float = 30.0,
    lex_weight: float = 0.4,
) -> DataFrame:
    """Recency boost relative to the newest hit in the result set
    (src/memvid/search/tantivy.rs:201-238):

    combined = 0.4*s + 0.6*s*exp(-ln2 * age / half_life)
    """
    w = Window.partitionBy()
    age = F.max(F.col(ts_col)).over(w) - F.col(ts_col)
    decay = F.exp(F.lit(-0.6931471805599453 / half_life_days) * age)
    combined = F.lit(lex_weight) * F.col(score_col) + F.lit(1 - lex_weight) * F.col(
        score_col
    ) * decay
    return hits.withColumn("combined", F.round(combined, 6))


def bm25f_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_tokens: int = 4,
    title_weight: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Field-weighted BM25 (BM25F, simplified Robertson form): term
    frequencies and document lengths combine across fields with integer
    field weights BEFORE one shared saturation — a title hit counts
    ``title_weight`` times a body hit. The reference approximates field
    weighting by OR-ing exact tags/uri/track matches into the content
    query (src/search/tantivy/query.rs:172-217); BM25F is the principled
    form of the same idea, and the integer weighted-tf keeps the score
    algebra bit-portable to the SQL twin.

    Fields here: title = the first ``title_tokens`` tokens (the
    infer_title_from_uri convention), body = the rest. df/idf stay
    per-term over whole docs (field-independent, the standard choice).

    Plan shape (round 11): the same one-corpus-pass form as
    ``bm25_topk`` — per-doc weighted tf per term and weighted dl as
    array expressions, one scalar aggregation for N/avgdl/df, one
    broadcast attach, TakeOrdered. The previous shape ran two
    vocab-filtered explodes (title/body postings), a full outer join
    between them, a shuffle join against the O(corpus) weighted-length
    table and two scalar attaches; the weighted tf is integer algebra
    either way, so the score expression is unchanged.
    """
    terms_lc = sorted({t.lower() for t in terms})
    if not terms_lc:
        return docs.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).filter(F.lit(False))
    # pinned tokenize + materialized field slices (round 11): the
    # un-pinned form re-ran the regex split for every one of the
    # ~(2t+3) expressions touching the token array — see bm25_topk
    pre = docs.select(
        F.col(id_col), tokens_pinned(text_col).alias("_toks")
    )
    fields = pre.select(
        F.col(id_col),
        F.col("_toks"),
        pin_expr(F.slice(F.col("_toks"), 1, title_tokens)).alias("_title"),
        pin_expr(
            F.slice(
                F.col("_toks"), title_tokens + 1,
                F.greatest(
                    F.size(F.col("_toks")) - title_tokens, F.lit(0)
                ),
            )
        ).alias("_body"),
    )

    # single-string expressions like bm25_topk (round 12) — same py4j
    # construction-cost motive, same exact operator order
    def occ_sql(field: str, tt: str) -> str:
        # HOF form by the same measured JIT-warmup negative result as
        # bm25_topk's per-term tf
        return f"size(filter({field}, x -> x = {sql_str(tt)}))"

    per = fields.select(
        F.col(id_col),
        F.expr(
            f"({title_weight} * least(size(_toks), {title_tokens})"
            f" + greatest(size(_toks) - {title_tokens}, 0)) AS wdl"
        ),
        *[
            F.expr(
                f"({title_weight} * {occ_sql('_title', tt)}"
                f" + {occ_sql('_body', tt)}) AS _wtf{i}"
            )
            for i, tt in enumerate(terms_lc)
        ],
    )
    stats = per.agg(
        F.expr("count(1) AS n_docs"),
        F.expr("avg(wdl) AS avgdl"),
        *[
            F.expr(f"sum(CAST((_wtf{i} > 0) AS BIGINT)) AS _df{i}")
            for i in range(len(terms_lc))
        ],
    )
    wi_sqls = []
    for i in range(len(terms_lc)):
        idf = f"ln({1.0!r}D + (n_docs - _df{i} + 0.5D) / (_df{i} + 0.5D))"
        wi_sqls.append(
            f"(CASE WHEN _wtf{i} > 0 THEN {idf} * (_wtf{i} * {k1 + 1!r}D)"
            f" / (_wtf{i} + {k1!r}D * ({1 - b!r}D + {b!r}D * wdl / avgdl))"
            f" ELSE 0.0D END)"
        )
    score = F.expr(" + ".join(wi_sqls))
    any_match = F.expr(
        " OR ".join(f"(_wtf{i} > 0)" for i in range(len(terms_lc)))
    )
    scored = (
        per.select("*", pin_expr(any_match).alias("_hit"))
        .filter(F.col("_hit"))
        .drop("_hit")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.round(score, 6))
        .select(F.col(id_col), F.col("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
